"""Stream workloads: the Kafka->Kafka record path run by
``PlumberJob.run`` with a broker-free transport.

The source topic is a streaming parquet source over files of raw
``(key binary, value binary)`` records, decoded by ``serde.decode``;
the sink topic is a streaming parquet file sink of ``serde.encode``'d
bytes. Everything between (golden preflight, pipeline, conform, the
micro-batch loop) is the production lifecycle.

One run is, in order:

1. session start plus a warm-up job (timed: part of ``setup_s``);
2. a warm-up drain of ``WARM_S`` seconds, not counted;
3. ``ROUNDS`` rounds of two phases, each phase a job of its own:

   - the paced phase (open loop): a thread releases one file per tick
     at the workload's offered rate, whatever the job's progress;
   - the backlog drain (closed loop): every input file is present and
     ``maxFilesPerTrigger=1`` fixes the records per micro-batch;

   every job's ``PlumberJob.run`` up to the commit of its first
   micro-batch is a set-up sample: ``setup_s`` adds their median to
   step 1. The rounds' samples are pooled, so each metric is taken over
   most of the run instead of one stretch of it;
4. untimed, after each phase: the sink is read back and compared byte
   for byte with the seeded generator's oracle.

With tracing on, the same run also executes the cumulative layer
prefixes in batch mode over the drain input, reads Python UDF metrics
from the UI REST API and runs the malformed-input probe.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import threading
import time
import urllib.request
from collections.abc import Callable

from perfbench import stats
from perfbench.host import RssSampler
from perfbench.workloads import StreamWorkload

RAW_SCHEMA = "key binary, value binary"
#: drain and paced phases alternate this many times in a run
ROUNDS = 2
#: seconds of uncounted drain before the rounds: batch times keep
#: falling for several batches after the first (JIT warm-up)
WARM_S = 6
#: fewest counted batches of one drain
MIN_DRAIN_FILES = 6
#: paced phase: files released per second
TICKS_PER_S = 10
#: fewest paced files in a run, so that p90 has ten samples beyond it
MIN_PACED_FILES = 100
#: cumulative layer prefixes of the traced batch-mode run
PREFIXES = ("scan", "decode", "pipeline", "conform", "encode", "sink")
#: repetitions of each traced prefix (median reported)
PREFIX_REPS = 3
#: drain files fed to the traced prefixes (at most)
PREFIX_FILES = 8


def write_raw(path: str, rows: list[tuple[bytes | None, bytes | None]]) -> None:
    """Write one raw (key, value) parquet file atomically (temp name,
    then rename, so a streaming source never lists a partial file)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(
        {
            "key": pa.array([r[0] for r in rows], pa.binary()),
            "value": pa.array([r[1] for r in rows], pa.binary()),
        }
    )
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path))
    pq.write_table(table, tmp)
    os.replace(tmp, path)


class Inputs:
    """Seeded input files. The ``i``-th file of ``n`` records of every
    phase is a copy of the same pool file, whose records come from its
    own ``Random(f"{seed}/{n}/{i}")`` stream; the oracle's prediction
    for it is made from the same records when the pool file is written."""

    def __init__(self, wl: StreamWorkload, seed: int, pool_dir: str):
        self.wl = wl
        self.seed = seed
        self.pool_dir = pool_dir
        os.makedirs(pool_dir, exist_ok=True)
        self.sizes: dict[str, int] = {}
        self._pool: dict[tuple[int, int], list] = {}
        self._expected: dict[str, list] = {}

    def _pool_file(self, n: int, i: int) -> str:
        path = os.path.join(self.pool_dir, f"{n}-{i:05d}.parquet")
        if (n, i) not in self._pool:
            recs = self.wl.records(random.Random(f"{self.seed}/{n}/{i}"), n)
            write_raw(path, [self.wl.encode_input(k, v) for k, v in recs])
            expect = self.wl.expect_output
            self._pool[n, i] = [e for e in (expect(k, v) for k, v in recs) if e is not None]
        return path

    def write(self, directory: str, name: str, n: int, i: int = 0) -> None:
        """Place the ``i``-th pool file of ``n`` records as ``name``."""
        src = self._pool_file(n, i)
        tmp = os.path.join(directory, "." + name)
        shutil.copyfile(src, tmp)
        os.replace(tmp, os.path.join(directory, name))
        self.sizes[name] = n
        self._expected[name] = self._pool[n, i]

    def expected(self, names) -> list:
        return [e for name in names for e in self._expected[name]]


def sink_files(out_dir: str) -> tuple[int, list[tuple[str, int]]]:
    """Committed files of a streaming file sink, read from its
    ``_spark_metadata`` log (compacted like the source log): the last
    committed batch id and the (path, size) of every file added and not
    deleted."""
    log = os.path.join(out_dir, "_spark_metadata")
    files: dict[str, int] = {}
    last = -1
    if not os.path.isdir(log):
        return last, []
    names = [n for n in os.listdir(log) if not n.startswith(".") and not n.endswith(".crc")]
    for fname in sorted(names, key=lambda n: int(n.split(".")[0])):
        last = max(last, int(fname.split(".")[0]))
        with open(os.path.join(log, fname)) as f:
            for line in f.read().splitlines()[1:]:
                if not line.strip():
                    continue
                e = json.loads(line)
                p = e["path"].removeprefix("file://").removeprefix("file:")
                if e.get("action", "add") == "add":
                    files[p] = e["size"]
                else:
                    files.pop(p, None)
    return last, sorted(files.items())


def read_sink(out_dir: str) -> tuple[int, list[tuple[bytes | None, bytes | None]], int]:
    """(last committed batch, output records, output bytes) of a sink."""
    import pyarrow.parquet as pq

    last, files = sink_files(out_dir)
    rows: list = []
    for path, _size in files:
        t = pq.read_table(path, columns=["key", "value"]).to_pydict()
        rows.extend(zip(t["key"], t["value"]))
    return last, rows, sum(s for _, s in files)


def commit_times(checkpoint: str) -> dict[int, float]:
    """batch id -> wall time its commit-log entry was written."""
    d = os.path.join(checkpoint, "commits")
    out = {}
    if os.path.isdir(d):
        for n in os.listdir(d):
            if n.isdigit():
                out[int(n)] = os.stat(os.path.join(d, n)).st_mtime
    return out


def wait_commit(query, checkpoint: str, batch: int, deadline: float = float("inf")) -> bool:
    """Poll the commit log until ``batch`` commits. False if the query
    stops or the deadline passes first."""
    path = os.path.join(checkpoint, "commits", str(batch))
    polls = 0
    while not os.path.exists(path):
        polls += 1
        # isActive is a py4j round trip: ask only every 50th poll
        if time.time() > deadline or (polls % 50 == 0 and not query.isActive):
            return os.path.exists(path)
        time.sleep(0.005)
    return True


def progress_list(query) -> list[dict]:
    return [p if isinstance(p, dict) else json.loads(p.json) for p in query.recentProgress]


class StreamRun:
    """One benchmark run of a stream workload in a fresh work dir."""

    def __init__(self, wl: StreamWorkload, work: str, seed: int,
                 seconds: float, trace: bool, cpus: int):
        self.wl = wl
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.cpus = cpus
        self.inputs = Inputs(wl, seed, os.path.join(work, "pool"))
        self.spans: list[dict] = []
        self.metrics: dict[str, tuple[float, str]] = {}
        self.samples: dict[str, int] = {}
        self.attempted = 0
        self.failed = 0
        self.mismatches: list[str] = []
        self.records_in = self.records_out = self.sink_bytes = 0
        #: per phase, each round's progress events
        self.progress: dict[str, list[list[dict]]] = {"warm": [], "drain": [], "paced": []}
        self.drain_rates: list[float] = []
        self.latencies_ms: list[float] = []
        self.late: list[float] = []
        self.backlog_max = 0
        self.paced_files = 0

    # -- spans ------------------------------------------------------------
    def span(self, name: str, start: float, end: float, parent: str | None = None, **attrs):
        self.spans.append({"name": name, "start": start, "end": end,
                           "parent": parent, "trace": f"{self.wl.name}/{self.seed}", **attrs})

    def timed(self, name: str, fn: Callable, parent: str | None = None):
        t0 = time.time()
        try:
            return fn()
        finally:
            self.span(name, t0, time.time(), parent)

    # -- Spark ------------------------------------------------------------
    def start_session(self):
        from kafka_streams_plumber_spark.plans.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{self.wl.name}", master=f"local[{self.cpus}]",
                          shuffle_partitions=self.cpus)
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(1000).selectExpr("sum(id)").collect()  # warm-up job
        self.session_start_s = time.perf_counter() - t0
        # recentProgress keeps only the last 100 batches by default
        spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
        # one task per micro-batch, as a one-partition source topic gives
        spark.conf.set("spark.sql.files.minPartitionNum", "1")
        self.spark = spark
        return spark

    def job(self, tag: str, in_dir: str, max_files: int | None):
        """A PlumberJob over ``in_dir`` writing to ``<work>/<tag>/out``."""
        import pyspark.sql.functions as F

        from kafka_streams_plumber_spark.sources.serde import decode, encode, parse_type
        from kafka_streams_plumber_spark.streaming.runner import PlumberJob

        wl = self.wl
        ik, iv = parse_type(wl.input_key), parse_type(wl.input_value)
        ok, ov = parse_type(wl.output_key), parse_type(wl.output_value)
        base = os.path.join(self.work, tag)
        out_dir = os.path.join(base, "out")
        checkpoint = os.path.join(base, "checkpoint")

        def source_factory(sp):
            r = sp.readStream.schema(RAW_SCHEMA)
            if max_files:
                r = r.option("maxFilesPerTrigger", str(max_files))
            raw = r.parquet(in_dir)
            return raw.select(decode(F.col("key"), ik).alias("key"),
                              decode(F.col("value"), iv).alias("value"))

        def sink_factory(out):
            return (
                out.select(encode(F.col("key"), ok).alias("key"),
                           encode(F.col("value"), ov).alias("value"))
                .writeStream.format("parquet")
                .queryName(f"perfbench_{tag}")
                .option("path", out_dir)
                .option("checkpointLocation", checkpoint)
                .start()
            )

        job = PlumberJob(
            spark=self.spark, pipeline=wl.pipeline(), brokers="",
            source_topic=f"{wl.name}-in", sink_topic=f"{wl.name}-out",
            input_key=ik, input_value=iv, output_key=ok, output_value=ov,
            checkpoint=checkpoint, fixtures=wl.fixtures(),
            expectations=wl.expectations(),
            source_factory=source_factory, sink_factory=sink_factory,
        )
        if self.trace:
            inner = job.preflight
            job.preflight = lambda: self.timed(f"{tag}.preflight", inner, f"{tag}.setup")
        return job, out_dir, checkpoint

    def start_job(self, tag: str, in_dir: str, max_files: int | None):
        """Start a job and wait for its first micro-batch to commit.
        Returns (query, out_dir, checkpoint, setup seconds)."""
        job, out_dir, checkpoint = self.job(tag, in_dir, max_files)
        t0 = time.time()
        query = job.run(await_termination=False)
        t_run = time.time()
        if not wait_commit(query, checkpoint, 0):
            raise RuntimeError(f"{tag}: query stopped before its first batch: "
                               f"{query.exception()}")
        t1 = time.time()
        self.span(f"{tag}.setup", t0, t1, "setup")
        if self.trace:
            self.span(f"{tag}.first_batch", t_run, t1, f"{tag}.setup")
        return query, out_dir, checkpoint, t1 - t0

    def new_dir(self, *parts: str) -> str:
        d = os.path.join(self.work, *parts)
        os.makedirs(d, exist_ok=True)
        return d

    # -- phases -----------------------------------------------------------
    def drain(self, tag: str, n_files: int, seconds: float, counted: bool = True) -> float:
        """Closed loop over present files, one per batch: batch 0 (the
        job's set-up sample), then ``n_files`` batches whose rates are
        counted if ``counted``. The work is fixed; ``seconds`` only caps
        a run that is far slower than the seed (the remaining files are
        then never read)."""
        d = self.new_dir(tag, "in")
        total = 1 + n_files
        self.timed(f"generate.{tag}", lambda: [
            self.inputs.write(d, f"{tag}-{i:05d}.parquet", self.wl.drain_file_records, i)
            for i in range(total)], "generate")
        query, out_dir, ck, s = self.start_job(tag, d, 1)
        t_start = time.time()
        wait_commit(query, ck, total - 1, deadline=t_start + 4 * seconds + 30)
        # a batch's progress event is posted just after its commit
        deadline = time.time() + 5
        prog = progress_list(query)
        while prog and prog[-1]["batchId"] < total - 1 and time.time() < deadline:
            time.sleep(0.01)
            prog = progress_list(query)
        query.stop()
        self.span(tag, t_start, time.time(), "drain" if counted else "warm")
        if counted:
            self.drain_rates += [
                p["numInputRows"] / (p["durationMs"]["triggerExecution"] / 1000.0)
                for p in prog if p["batchId"] >= 1 and p["numInputRows"] > 0]
        self.progress["drain" if counted else "warm"].append(prog)
        self.check_output(tag, out_dir, ck)
        return s

    def paced(self, tag: str, n: int) -> float:
        """Open loop: ``n`` files released one per tick."""
        wl = self.wl
        d = self.new_dir(tag, "in")
        stage = self.new_dir(tag, "stage")
        self.inputs.write(d, f"{tag}-warm.parquet", wl.drain_file_records)
        per_file = max(1, wl.paced_rate // TICKS_PER_S)
        names = [f"{tag}-{i:05d}.parquet" for i in range(n)]
        self.timed(f"generate.{tag}", lambda: [
            self.inputs.write(stage, name, per_file, i) for i, name in enumerate(names)],
            "generate")
        query, out_dir, ck, s = self.start_job(tag, d, None)

        due: dict[str, float] = {}
        late: list[float] = []

        def pacer():
            t0 = time.time() + 0.05
            for i, name in enumerate(names):
                t = t0 + i / TICKS_PER_S
                due[name] = t
                wait = t - time.time()
                if wait > 0:
                    time.sleep(wait)
                dst = os.path.join(d, name)
                os.replace(os.path.join(stage, name), dst)
                now = time.time()
                os.utime(dst, (now, now))
                late.append(now - t)

        th = threading.Thread(target=pacer, daemon=True)
        t_start = time.time()
        th.start()
        th.join()
        query.processAllAvailable()
        prog = progress_list(query)
        query.stop()
        self.span(tag, t_start, time.time(), "paced")

        file_batch = stats.source_log_batches(os.path.join(ck, "sources", "0"))
        commits = commit_times(ck)
        lat, missing = stats.file_latencies(due, file_batch, commits)
        self.latencies_ms += [x * 1000.0 for x in lat]
        self.late += late
        self.backlog_max = max(self.backlog_max, stats.backlog_max(
            due.values(),
            [commits.get(file_batch.get(name, -1), float("inf")) for name in names],
        ))
        self.paced_files += n
        self.progress["paced"].append(prog)
        self.check_output(tag, out_dir, ck, exclude=set(missing))
        return s

    # -- oracle -------------------------------------------------------------
    def check_output(self, tag: str, out_dir: str, checkpoint: str, exclude=frozenset()):
        """Untimed: compare the committed sink output with the oracle for
        every input file the committed batches read. A run that did not
        commit a file counts that file's records as failed."""
        t0 = time.time()
        last, got, nbytes = read_sink(out_dir)
        file_batch = stats.source_log_batches(os.path.join(checkpoint, "sources", "0"))
        read = [f for f, b in file_batch.items() if b <= last]
        want = self.inputs.expected(read)
        attempted = sum(self.inputs.sizes[f] for f in read)
        failed = stats.output_errors(want, got)
        for f in exclude:
            attempted += self.inputs.sizes[f]
            failed += self.inputs.sizes[f]
        if failed:
            self.mismatches.append(f"{tag}: {failed} of {attempted} records wrong or missing")
        self.attempted += attempted
        self.failed += failed
        self.records_in += attempted
        self.records_out += len(got)
        self.sink_bytes += nbytes
        self.span(f"oracle.{tag}", t0, time.time(), "oracle")

    def extra(self) -> dict:
        out = {
            "setup_job_s": getattr(self, "setup_samples", None),
            "session_start_s": getattr(self, "session_start_s", None),
            "latency_tail_ms": getattr(self, "latency_tail", None),
            "generator": {
                "late_ms_max": max(self.late, default=0.0) * 1000.0,
                "backlog_files_max": self.backlog_max,
                "files": self.paced_files,
                "records_per_file": max(1, self.wl.paced_rate // TICKS_PER_S),
            },
            "phase_s": self.phase_seconds(),
            "rss_at_peak": getattr(self, "rss_at_peak", None),
        }
        # per phase, per round: (batch id, input rows, trigger ms)
        out["batches"] = {
            phase: [[(p["batchId"], p["numInputRows"], p["durationMs"].get("triggerExecution"))
                     for p in prog] for prog in rounds]
            for phase, rounds in self.progress.items()
        }
        if self.trace:
            out["prefix_records"] = self.prefix_records
        return out

    def phase_seconds(self) -> dict[str, float]:
        """Wall time per phase: top-level spans by name, grouped spans by
        group (a job's preflight and first batch lie inside its set-up)."""
        out: dict[str, float] = {}
        for sp in self.spans:
            if sp["parent"] is None:
                key = sp["name"]
            elif sp["parent"] in ("setup", "generate", "oracle", "prefixes",
                                  "warm", "drain", "paced"):
                key = sp["parent"]
            else:
                continue
            out[key] = out.get(key, 0.0) + sp["end"] - sp["start"]
        return out

    def metric(self, name: str, value: float, unit: str, n: int = 1):
        self.metrics[name] = (float(value), unit)
        self.samples[name] = n

    # -- the run ------------------------------------------------------------
    def run(self) -> None:
        wl = self.wl
        # every phase of every round gets an equal share of the seconds
        phase_s = self.seconds / (2 * ROUNDS)
        # drain work sized to take phase_s at _SEED_RATE; fixed, so the
        # same on every commit
        per_s = _SEED_RATE[wl.name] / wl.drain_file_records
        drain_files = max(MIN_DRAIN_FILES, round(phase_s * per_s))
        warm = round(WARM_S * per_s)
        paced_files = max(round(phase_s * TICKS_PER_S), -(-MIN_PACED_FILES // ROUNDS))
        with RssSampler() as rss:
            self.timed("session", self.start_session, "setup")
            setups = [self.drain("warm", warm, WARM_S, counted=False)]
            for r in range(ROUNDS):
                setups.append(self.paced(f"paced{r}", paced_files))
                setups.append(self.drain(f"drain{r}", drain_files, phase_s))
            if self.trace:
                self.traced_layers()
        if not self.drain_rates:
            raise RuntimeError("drain: no counted micro-batch committed")
        if len(self.latencies_ms) < 2:
            raise RuntimeError("paced: fewer than two files committed")
        self.metric("records_per_s", stats.median(self.drain_rates), "1/s",
                    len(self.drain_rates))
        lat = self.latencies_ms
        self.metric("event_latency_p50_ms", stats.percentile(lat, 50), "ms", len(lat))
        self.metric("event_latency_p90_ms", stats.percentile(lat, 90), "ms", len(lat))
        self.latency_tail = stats.tail_percentile(lat)
        self.metric("setup_s", self.session_start_s + stats.median(setups), "s", len(setups))
        self.metric("peak_rss_mb", rss.peak / 2**20, "MB")
        self.rss_at_peak = {"processes": rss.at_peak[0], "largest_mb": rss.at_peak[1] / 2**20}
        self.setup_samples = setups

    # -- tracing --------------------------------------------------------------
    def traced_layers(self) -> None:
        """Cumulative prefixes in batch mode over the drain input: each
        prefix is one span; a layer's self time is the difference
        between successive prefixes (``stats.prefix_self_times``)."""
        import pyspark.sql.functions as F

        from kafka_streams_plumber_spark import conform
        from kafka_streams_plumber_spark.sources.serde import decode, encode, parse_type

        spark, wl = self.spark, self.wl
        ik, iv = parse_type(wl.input_key), parse_type(wl.input_value)
        ok, ov = parse_type(wl.output_key), parse_type(wl.output_value)
        # the drains read copies of the same files
        d = os.path.join(self.work, "warm", "in")
        files = [os.path.join(d, f) for f in sorted(os.listdir(d))
                 if not f.startswith(".")][:PREFIX_FILES]

        def frames():
            raw = spark.read.schema(RAW_SCHEMA).parquet(*files)
            dec = raw.select(decode(F.col("key"), ik).alias("key"),
                             decode(F.col("value"), iv).alias("value"))
            pipe = wl.pipeline()(dec)
            conf = pipe
            if ov.kind == "avro":
                conf = conform(conf, ov.model)
            if ok.kind == "avro":
                conf = conform(conf, ok.model, column="key")
            enc = conf.select(encode(F.col("key"), ok).alias("key"),
                              encode(F.col("value"), ov).alias("value"))
            return {"scan": raw, "decode": dec, "pipeline": pipe,
                    "conform": conf, "encode": enc, "sink": enc}

        sink_dir = os.path.join(self.work, "trace-sink")
        fr = frames()
        totals = []
        for name in PREFIXES:
            reps = []
            for r in range(PREFIX_REPS):
                spark.sparkContext.setJobDescription(f"perfbench prefix {name} #{r}")
                w = fr[name].write.mode("overwrite")
                t0 = time.time()
                if name == "sink":
                    w.parquet(sink_dir)
                else:
                    w.format("noop").save()
                t1 = time.time()
                self.span(f"prefix.{name}", t0, t1, "prefixes", rep=r)
                reps.append(t1 - t0)
            totals.append((name, stats.median(reps)))
        spark.sparkContext.setJobDescription(None)
        self_s = stats.prefix_self_times(totals)
        for name in PREFIXES:
            self.metric(f"{name}_s", self_s[name], "s", PREFIX_REPS)
        full = totals[-1][1]
        self.metric("codec_share", (self_s["decode"] + self_s["encode"]) / full, "ratio")
        self.prefix_records = sum(self.inputs.sizes[os.path.basename(f)] for f in files)

        plan = fr["encode"]._jdf.queryExecution().executedPlan().toString()
        self.metric("python_eval_nodes",
                    plan.count("ArrowEvalPython") + plan.count("BatchEvalPython"), "count")
        sent, returned = self.python_bytes("perfbench prefix encode")
        self.metric("python_bytes_sent", sent, "bytes")
        self.metric("python_bytes_returned", returned, "bytes")
        self.timed("probe", self.probe)

    def rest(self, path: str):
        sc = self.spark.sparkContext
        url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/{path}"
        with urllib.request.urlopen(url, timeout=30) as r:
            return json.load(r)

    def python_bytes(self, description: str) -> tuple[float, float]:
        """Summed "data sent to / returned from Python workers" SQL
        metrics of the executions whose description starts with
        ``description``, divided by their count (one rep's worth)."""
        sent = returned = 0.0
        runs = 0
        for ex in self.rest("sql?details=true&planDescription=false&length=10000"):
            if not str(ex.get("description", "")).startswith(description):
                continue
            runs += 1
            for node in ex.get("nodes", []):
                for m in node.get("metrics", []):
                    n = m.get("name", "")
                    if n.startswith("data sent to Python"):
                        sent += _bytes(m.get("value", ""))
                    elif n.startswith("data returned from Python"):
                        returned += _bytes(m.get("value", ""))
        return sent / max(runs, 1), returned / max(runs, 1)

    def probe(self) -> None:
        """Malformed input. ``poison_stream_survived``: a stream with one
        truncated payload between two good ones keeps running and emits
        the good records (1) or dies (0). ``trailing_junk_accepted``: a
        valid payload followed by junk bytes decodes without an error (1)."""
        import pyspark.sql.functions as F

        from kafka_streams_plumber_spark.sources.serde import decode, parse_type

        bad = self.wl.malformed()
        d = self.new_dir("probe", "in")
        write_raw(os.path.join(d, "poison.parquet"),
                  [bad["good"], bad["truncated"], bad["good"]])
        job, out_dir, _ck = self.job("probe", d, None)
        query = job.run(await_termination=False)
        survived = 1
        try:
            query.processAllAvailable()
        except Exception:  # noqa: BLE001 - a dying query is the outcome measured
            survived = 0
        finally:
            query.stop()
        if survived and len(read_sink(out_dir)[1]) < 2:
            survived = 0
        self.metric("poison_stream_survived", survived, "count")

        ik, iv = parse_type(self.wl.input_key), parse_type(self.wl.input_value)
        df = self.spark.createDataFrame([bad["trailing_junk"]], RAW_SCHEMA)
        try:
            row = df.select(decode(F.col("key"), ik).alias("key"),
                            decode(F.col("value"), iv).alias("value")).collect()[0]
            accepted = int(row["value"] is not None)
        except Exception:  # noqa: BLE001 - a decode error is the outcome measured
            accepted = 0
        self.metric("trailing_junk_accepted", accepted, "count")

    # -- per-layer numbers from the stream runs ---------------------------------
    def loop_metrics(self) -> None:
        """Micro-batch loop (paced phases, each job's first batch
        excluded), the load generator, record counts and sink bytes."""
        steady = [p for prog in self.progress["paced"] for p in prog
                  if p["batchId"] >= 1 and p["numInputRows"] > 0]
        for key in ("triggerExecution", "addBatch", "walCommit", "commitOffsets",
                    "latestOffset", "queryPlanning"):
            vals = [p["durationMs"].get(key, 0) for p in steady]
            name = "mb_trigger_ms_p50" if key == "triggerExecution" else f"mb_{key}_ms_p50"
            self.metric(name, stats.median(vals) if vals else 0.0, "ms", len(vals))
        self.metric("batches", len(steady), "count")
        self.metric("generator_late_ms_max", max(self.late) * 1000.0, "ms")
        self.metric("backlog_files_max", self.backlog_max, "count")
        self.metric("records_in", self.records_in, "count")
        self.metric("records_out", self.records_out, "count")
        self.metric("filter_pass_ratio", self.records_out / max(self.records_in, 1), "ratio")
        self.metric("sink_bytes", self.sink_bytes, "bytes")
        self.metric("session_start_s", self.session_start_s, "s")
        pre = [s for s in self.spans if s["name"].endswith(".preflight")]
        first = [s for s in self.spans if s["name"].endswith(".first_batch")]
        self.metric("preflight_s", stats.median([s["end"] - s["start"] for s in pre]), "s", len(pre))
        self.metric("first_batch_s", stats.median([s["end"] - s["start"] for s in first]), "s",
                    len(first))
        self.metric("traced_records_per_s", self.metrics["records_per_s"][0], "1/s")


def _bytes(text: str) -> float:
    """Parse a Spark UI size metric ("total (min, med, max)\\n12.3 MiB (...)")."""
    units = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
    for line in str(text).splitlines():
        parts = line.split()
        if len(parts) >= 2 and parts[1] in units:
            try:
                return float(parts[0].replace(",", "")) * units[parts[1]]
            except ValueError:
                continue
    return 0.0


#: drain rate when the benchmark was written (local[2]), records/s; sizes
#: the drain input only
_SEED_RATE = {"stream_avro": 6500, "stream_scalar": 56000}


def stop_spark(spark) -> None:
    """Stop the session, then the JVM gateway, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def run_stream(wl: StreamWorkload, work: str, seed: int, seconds: float,
               trace: bool, cpus: int) -> StreamRun:
    r = StreamRun(wl, work, seed, seconds, trace, cpus)
    try:
        r.run()
        if trace:
            r.loop_metrics()
    finally:
        spark = getattr(r, "spark", None)
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    return r
