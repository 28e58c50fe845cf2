"""The batch query registry workload (``batch_registry``): 36 registry
queries run one at a time (a closed loop), each timed construct ->
plan (``executedPlan``) -> execute to a noop sink, then checked
against its DuckDB oracle, untimed.

It reads the seed-42 testdata (``--sf-dir``, the sf0.1 directory; the
capped query and the oracle check read the ``sf0.01`` directory beside
it). Those tables
live outside the repository and one pass takes longer than a gated run
may, so this workload is not listed in BENCHMARK.json; run it by hand:

    python3 perfbench/run.py --workload batch_registry --seed 0 \\
        --seconds 1 --trace 1 --sf-dir <testdata>/sf0.1
"""

from __future__ import annotations

import os
import time

from perfbench import stats
from perfbench.host import RssSampler

#: the 28 frozen HEADLINE queries of bench.py (lazy plans: construction
#: runs no Spark job), pinned here so bench.py can change independently
LAZY = (
    "q_filter", "q_chain", "q1_pricing", "q3_topk", "q5_join", "q_window",
    "q_hourly", "q_setops", "q_rollup", "q_pivot", "q_asof", "q14_promo",
    "q18_bigorders", "q19_disjunct", "q_percentiles", "q_sessionize",
    "dedup_exact", "dedup_minhash", "sim_topk", "text_stats", "text_quality",
    "text_repetition", "q_topk_group", "q7_volume", "q9_profit",
    "q13_custdist", "q17_smallqty", "q21_waiting",
)
#: queries that run Spark jobs while they are constructed
EAGER = (
    "q_kendall", "q_friedman", "q_kruskal", "q_logrank", "q_clustering",
    "q_dunn", "q_hits", "q_semantic_keep_lsh",
)
#: run at a capped scale factor, as bench.py does: at sf0.1 the
#: synthetic corpus makes any correct semantic dedup output-bound
CAPPED = {"q_semantic_keep_lsh": "sf0.01"}
#: scale the oracle check runs at (the driver's correctness scale)
CHECK_SF = "sf0.01"
#: seconds a DuckDB oracle may take before the query counts as
#: unchecked: dedup_minhash, q_hits and q_semantic_keep_lsh take
#: minutes even at small scale
ORACLE_TIMEOUT_S = 60
#: metrics printed with --trace 0; every other metric is per-layer
END_TO_END = ("setup_s", "batch_total_s", "lazy_total_s", "eager_total_s",
              "error_rate", "peak_rss_mb")


class BatchRun:
    def __init__(self, root: str, sf_dir: str, trace: bool, cpus: int):
        self.root = root
        self.sf_dir = os.path.abspath(sf_dir)
        self.trace = trace
        self.cpus = cpus
        self.metrics: dict[str, tuple[float, str]] = {}
        self.samples: dict[str, int] = {}
        self.spans: list[dict] = []
        self.mismatches: list[str] = []
        self.raised: set[str] = set()
        #: queries whose DuckDB oracle did not finish in ORACLE_TIMEOUT_S
        self.unchecked: list[str] = []
        self.attempted = 0
        self.failed = 0

    def metric(self, name, value, unit, n=1):
        self.metrics[name] = (float(value), unit)
        self.samples[name] = n

    def dir_for(self, name: str) -> str:
        if name in CAPPED:
            return os.path.join(os.path.dirname(self.sf_dir), CAPPED[name])
        return self.sf_dir

    def start(self):
        from kafka_streams_plumber_spark.plans.session import get_spark
        from kafka_streams_plumber_spark.queries import QUERIES

        t0 = time.perf_counter()
        spark = get_spark("perfbench-batch_registry", master=f"local[{self.cpus}]",
                          shuffle_partitions=self.cpus)
        spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        # warm-up: one lazy and one eager query, constructed and executed
        for name in ("q_filter", "q_kruskal"):
            QUERIES[name](spark, self.sf_dir).write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        self.metric("session_start_s", t1 - t0, "s")
        self.metric("setup_s", t2 - t0, "s")
        self.spark, self.queries = spark, QUERIES

    def one(self, name: str) -> dict:
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        sc.setJobGroup(f"perfbench:{name}", name)
        t0 = time.time()
        df = self.queries[name](self.spark, self.dir_for(name))
        t1 = time.time()
        construct_jobs = len(tracker.getJobIdsForGroup(f"perfbench:{name}"))
        df._jdf.queryExecution().executedPlan()
        t2 = time.time()
        df.write.format("noop").mode("overwrite").save()
        t3 = time.time()
        jobs = tracker.getJobIdsForGroup(f"perfbench:{name}")
        sc.setJobGroup(None, None)
        for span, a, b in (("construct", t0, t1), ("plan", t1, t2), ("exec", t2, t3)):
            self.spans.append({"name": f"{name}.{span}", "start": a, "end": b,
                               "parent": name, "trace": "batch_registry"})
        self.spans.append({"name": name, "start": t0, "end": t3, "parent": None,
                           "trace": "batch_registry"})
        return {"construct_s": t1 - t0, "plan_s": t2 - t1, "exec_s": t3 - t2,
                "s": t3 - t0, "construct_jobs": construct_jobs,
                "exec_jobs": len(jobs) - construct_jobs, "jobs": list(jobs)}

    def stage_totals(self, job_ids) -> dict:
        """Stage, task, shuffle and executor-time totals of the given jobs,
        from the UI REST API (the way tools/profile_query.py reads them)."""
        import json
        import urllib.request

        sc = self.spark.sparkContext
        base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

        def get(path):
            with urllib.request.urlopen(f"{base}/{path}", timeout=30) as r:
                return json.load(r)

        stage_of_job = {j["jobId"]: j.get("stageIds", []) for j in get("jobs")}
        wanted = {sid for j in job_ids for sid in stage_of_job.get(j, ())}
        out = {"stages": 0, "tasks": 0, "shuffle_read_bytes": 0,
               "shuffle_write_bytes": 0, "executor_run_s": 0.0}
        for att in get("stages?details=false"):
            if att["stageId"] not in wanted or att.get("status") == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += att.get("numCompleteTasks", 0)
            out["shuffle_read_bytes"] += att.get("shuffleReadBytes", 0)
            out["shuffle_write_bytes"] += att.get("shuffleWriteBytes", 0)
            out["executor_run_s"] += att.get("executorRunTime", 0) / 1000.0
        return out

    def timed_pass(self) -> dict:
        out = {}
        for name in LAZY + EAGER:
            if name in self.raised:
                continue
            try:
                out[name] = self.one(name)
            except Exception as e:  # noqa: BLE001 - a raising query is a failure counted
                self.spark.sparkContext.setJobGroup(None, None)
                self.raised.add(name)
                self.mismatches.append(f"{name}: {type(e).__name__}: {e}"[:300])
        return out

    def check(self) -> None:
        """Untimed oracle check through tools/check_correctness helpers,
        at ``CHECK_SF``: the DuckDB oracles are written for the driver's
        correctness scale, and several take minutes at sf0.1. Each
        oracle runs in a worker process that is killed after
        ``ORACLE_TIMEOUT_S``; the query then counts as unchecked."""
        import multiprocessing
        import sys

        sys.path.insert(0, os.path.join(self.root, "tools"))
        from check_correctness import rowset

        from kafka_streams_plumber_spark.queries import ORACLES

        d = os.path.join(os.path.dirname(self.sf_dir), CHECK_SF)
        ctx = multiprocessing.get_context("spawn")
        pool = ctx.Pool(1)
        try:
            for name in LAZY + EAGER:
                self.attempted += 1
                t0 = time.time()
                if name in self.raised:
                    self.failed += 1
                    continue
                try:
                    sdf = self.queries[name](self.spark, d)
                    scols, srows = sdf.columns, [tuple(r) for r in sdf.collect()]
                except Exception as e:  # noqa: BLE001 - a raising query is a failure counted
                    self.mismatches.append(f"{name}: {type(e).__name__}: {e}"[:300])
                    self.failed += 1
                    continue
                job = pool.apply_async(oracle_rows, (d, ORACLES[name]))
                try:
                    ocols, orows = job.get(timeout=ORACLE_TIMEOUT_S)
                except multiprocessing.TimeoutError:
                    pool.terminate()
                    pool.join()
                    pool = ctx.Pool(1)
                    self.attempted -= 1
                    self.unchecked.append(name)
                    continue
                except Exception as e:  # noqa: BLE001 - the oracle's own error, re-raised by get()
                    self.mismatches.append(f"{name}: oracle error: {e}"[:300])
                    self.failed += 1
                    continue
                if not (sorted(scols) == sorted(ocols)
                        and rowset(scols, srows) == rowset(ocols, orows)):
                    self.mismatches.append(f"{name}: result differs from its oracle")
                    self.failed += 1
                print(f"checked {name} in {time.time() - t0:.1f}s", file=sys.stderr)
        finally:
            pool.terminate()
            pool.join()

    def run(self, seconds: float) -> None:
        with RssSampler() as rss:
            self.start()
            passes = []
            t_end = time.time() + seconds
            while not passes or time.time() < t_end:
                passes.append(self.timed_pass())
            self.check()
        self.metric("peak_rss_mb", rss.peak / 2**20, "MB")
        n = len(passes)

        def med(fn):
            return stats.median([fn(p) for p in passes])

        # a query that raised has no timings (and counts as failed)
        ok = [q for q in LAZY + EAGER if q not in self.raised]
        self.metric("batch_total_s", med(lambda p: sum(q["s"] for q in p.values())), "s", n)
        self.metric("lazy_total_s", med(lambda p: sum(p[q]["s"] for q in LAZY if q in p)), "s", n)
        self.metric("eager_total_s", med(lambda p: sum(p[q]["s"] for q in EAGER if q in p)),
                    "s", n)
        for key, unit in (("construct_s", "s"), ("plan_s", "s"), ("exec_s", "s"),
                          ("construct_jobs", "count"), ("exec_jobs", "count")):
            self.metric(key, med(lambda p, k=key: sum(q[k] for q in p.values())), unit, n)
        for name in ok:
            self.metric(f"q.{name}.s", med(lambda p, q=name: p[q]["s"]), "s", n)
            if name in EAGER:
                self.metric(f"q.{name}.construct_s",
                            med(lambda p, q=name: p[q]["construct_s"]), "s", n)
        if self.trace:
            last = passes[-1]
            totals = self.stage_totals([j for q in last.values() for j in q["jobs"]])
            for key, v in totals.items():
                self.metric(key, v, "s" if key.endswith("_s") else
                            "bytes" if key.endswith("bytes") else "count")
        self.metric("error_rate", stats.error_rate(self.attempted, self.failed), "ratio")
        self.passes = n

    def extra(self) -> dict:
        return {"passes": getattr(self, "passes", 0), "unchecked": self.unchecked}


def oracle_rows(sf_dir: str, sql: str):
    """(columns, rows) of one oracle query in DuckDB over ``sf_dir``."""
    import duckdb

    from kafka_streams_plumber_spark.plans.session import TABLES

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    res = con.execute(sql)
    return [x[0] for x in res.description], res.fetchall()


def run_batch(root: str, work: str, sf_dir: str, trace: bool, cpus: int,
              seconds: float) -> BatchRun:
    import shutil

    from perfbench.streams import stop_spark

    r = BatchRun(root, sf_dir, trace, cpus)
    try:
        r.run(seconds)
    finally:
        if getattr(r, "spark", None) is not None:
            stop_spark(r.spark)
        shutil.rmtree(work, ignore_errors=True)
    return r
