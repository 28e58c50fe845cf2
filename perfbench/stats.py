"""The benchmark's own arithmetic: percentiles, prefix self times, the
file -> micro-batch map read from a checkpoint's source log, and error
accounting. Pure Python, so ``perfbench/test_stats.py`` checks it on
synthetic inputs."""

from __future__ import annotations

import json
import math
import os
from collections import Counter
from collections.abc import Iterable, Sequence

#: Percentiles considered for the reported tail, highest last.
TAIL_CANDIDATES = (50.0, 90.0, 95.0, 99.0, 99.9)


def percentile(samples: Sequence[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    if not samples:
        raise ValueError("percentile of no samples")
    xs = sorted(samples)
    rank = (len(xs) - 1) * p / 100.0
    lo = math.floor(rank)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (rank - lo)


def beyond(n: int, p: float) -> int:
    """How many of ``n`` samples lie strictly above the ``p`` percentile
    (by rank)."""
    return n - math.ceil(n * p / 100.0)


def tail_percentile(samples: Sequence[float]) -> dict:
    """The highest candidate percentile with at least ten samples
    beyond it, its value and the sample count. ``p`` is None when even
    the median has fewer than ten samples beyond it."""
    n = len(samples)
    best = None
    for p in TAIL_CANDIDATES:
        if beyond(n, p) >= 10:
            best = p
    return {
        "p": best,
        "value": None if best is None else percentile(samples, best),
        "n": n,
    }


def median(samples: Sequence[float]) -> float:
    return percentile(samples, 50.0)


def prefix_self_times(spans: Sequence[tuple[str, float]]) -> dict[str, float]:
    """Self time of each layer from cumulative prefix timings: span i
    runs layers 0..i, so layer i's self time is span i minus span i-1
    (the first span is its own self time). Differences are kept as
    measured; a negative one means the layer costs less than the noise
    between two runs."""
    out: dict[str, float] = {}
    prev = 0.0
    for name, total in spans:
        out[name] = total - prev
        prev = total
    return out


def source_log_batches(log_dir: str) -> dict[str, int]:
    """Map each input file name to the micro-batch that read it, from a
    file-stream source's metadata log (``<checkpoint>/sources/0``).

    Every ``compactInterval`` batches the log is compacted: ``N.compact``
    re-lists all entries of earlier batches. Each entry carries its own
    ``batchId``, so an entry seen in both a compact file and an older
    plain file maps to the same batch either way."""
    out: dict[str, int] = {}
    if not os.path.isdir(log_dir):
        return out
    for fname in sorted(os.listdir(log_dir)):
        if fname.startswith(".") or fname.endswith(".crc"):
            continue
        stem = fname[: -len(".compact")] if fname.endswith(".compact") else fname
        if not stem.isdigit():
            continue
        with open(os.path.join(log_dir, fname)) as f:
            lines = f.read().splitlines()
        for line in lines[1:]:  # first line is the log version ("v1")
            if not line.strip():
                continue
            entry = json.loads(line)
            out[os.path.basename(entry["path"])] = int(entry["batchId"])
    return out


def file_latencies(
    due: dict[str, float],
    file_batch: dict[str, int],
    batch_commit: dict[int, float],
) -> tuple[list[float], list[str]]:
    """Latency of each released file: commit time of the batch that read
    it minus the time the file was due. Files never committed are
    returned separately (they count as failed, not as a latency)."""
    lat: list[float] = []
    missing: list[str] = []
    for name, t in sorted(due.items(), key=lambda kv: kv[1]):
        b = file_batch.get(name)
        if b is None or b not in batch_commit:
            missing.append(name)
        else:
            lat.append(batch_commit[b] - t)
    return lat, missing


def backlog_max(releases: Iterable[float], commits: Iterable[float]) -> int:
    """Largest number of released-but-uncommitted files, sampled at each
    release: ``releases`` are release times, ``commits`` the commit time
    of the batch that read each released file (inf if never)."""
    rel = sorted(releases)
    com = sorted(commits)
    worst = 0
    j = 0
    for i, t in enumerate(rel):
        while j < len(com) and com[j] <= t:
            j += 1
        worst = max(worst, i + 1 - j)
    return worst


def output_errors(expected: Iterable, got: Iterable) -> int:
    """Order-insensitive multiset comparison of output records. A record
    that is missing, extra or not byte-equal counts once (a wrong record
    is one missing plus one extra, so take the larger side)."""
    e, g = Counter(expected), Counter(got)
    return max(sum((e - g).values()), sum((g - e).values()))


def error_rate(attempted: int, failed: int) -> float:
    if attempted < 1:
        raise ValueError("error rate of zero attempts")
    return min(failed, attempted) / attempted
