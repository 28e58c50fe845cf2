"""Host stamps and a peak-memory sampler for the processes the benchmark
starts (the JVM and its Python workers)."""

from __future__ import annotations

import os
import threading


def stamp() -> dict:
    """nproc, SPARK_GRAFT_CPUS and the 1-minute load average."""
    try:
        load1 = os.getloadavg()[0]
    except OSError:
        load1 = None
    return {
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "load1": load1,
        "cpu_jiffies": _cpu_jiffies(),
    }


def _cpu_jiffies() -> dict[str, int] | None:
    """Host-wide CPU time by state from /proc/stat; the difference of
    two stamps shows how busy the host was, and how much time the
    hypervisor stole, during a run."""
    names = ("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal")
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()[1:1 + len(names)]
    except OSError:
        return None
    return dict(zip(names, map(int, fields)))


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while we looked
        kids.setdefault(int(fields[1]), []).append(int(d))
    return kids


def _pss(pid: int) -> int:
    """Proportional resident set in bytes: pages shared between processes
    are split among them. Plain RSS would count the JVM twice whenever
    the sample falls between a fork and the child's exec, and would count
    the pages a forked Python worker shares with its daemon twice."""
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def descendants_rss(pid: int) -> list[int]:
    """Proportional resident set in bytes of every descendant of ``pid``
    (not ``pid`` itself)."""
    kids = _children()
    out = []
    todo = list(kids.get(pid, ()))
    while todo:
        p = todo.pop()
        todo.extend(kids.get(p, ()))
        try:
            out.append(_pss(p))
        except OSError:
            continue  # exited while we looked
    return out


class RssSampler:
    """Samples the descendants' summed proportional RSS every ``period``
    seconds on a daemon thread and keeps the peak."""

    def __init__(self, period: float = 0.5):
        self.period = period
        self.peak = 0
        #: (process count, largest process's RSS) at the peak
        self.at_peak = (0, 0)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            rss = descendants_rss(me)
            if sum(rss) > self.peak:
                self.peak = sum(rss)
                self.at_peak = (len(rss), max(rss))
            self._stop.wait(self.period)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
