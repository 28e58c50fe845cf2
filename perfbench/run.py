#!/usr/bin/env python3
"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload stream_avro --seed 1 --seconds 25 --trace 0

Run from the repository root. The last line of standard output is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``, where
``metrics`` holds the end-to-end metrics (``--trace 0``) or the
per-layer metrics (``--trace 1``) named in BENCHMARK.json, each as
``{"value", "unit"}``. The line before it (``detail: {...}``) carries
sample counts, the error rate, the latency tail and the host stamps.
With ``--trace 1`` the spans and every metric are also written to
``.perfbench/out/trace-<workload>-<seed>.json``.

Workloads: ``stream_avro`` and ``stream_scalar`` (see perfbench/NOTES.md);
``batch_registry`` needs ``--sf-dir`` (the seed-42 sf0.1 testdata) and
is not one of the gated workloads.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: Spark's local dirs, temp files and run outputs stay in the checkout
STATE = os.path.join(ROOT, ".perfbench")
#: local[N]: every micro-batch is one task, and two cores leave room on a
#: 4-vCPU host for the engine's threads and the Python UDF workers
CPUS = 2
HEAP = "1g"


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=CPUS,
                    help="local[N] worker threads (default %(default)s)")
    ap.add_argument("--sf-dir", help="batch_registry only: sf0.1 table directory")
    return ap.parse_args(argv)


def environment(work: str) -> None:
    """Process environment the JVM and its Python workers inherit. The
    workers import the package, so the repository root must be on
    PYTHONPATH. get_spark's default 48g driver heap is too big for a
    small host: the heap is fixed at 1g and touched at start, so that
    peak RSS does not depend on how far garbage collection happened to
    grow the heap, and measures what lies beyond it (JVM off-heap memory
    and the Python workers)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    os.environ["TMPDIR"] = tmp
    # spark-submit's launcher JVM: no hsperfdata file under /tmp either
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    confs = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            # no hsperfdata file under /tmp: the run writes only inside the checkout
            f"-Djava.io.tmpdir={tmp} -Xms{HEAP} -XX:+AlwaysPreTouch -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
        # the UI forgets jobs and stages past 1000; a batch pass runs more
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()) + " pyspark-shell"


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "kafka_streams_plumber_spark")):
        print(f"error: no kafka_streams_plumber_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import host
    from perfbench.stats import error_rate
    from perfbench.workloads import STREAMS

    if args.workload not in STREAMS and args.workload != "batch_registry":
        print(f"error: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    if args.workload == "batch_registry" and not args.sf_dir:
        print("error: batch_registry needs --sf-dir", file=sys.stderr)
        return 2
    work = os.path.join(STATE, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    environment(work)
    stamp_start = host.stamp()
    t0 = time.time()

    if args.workload == "batch_registry":
        from perfbench.batch import END_TO_END, run_batch

        r = run_batch(ROOT, work, args.sf_dir, args.trace == 1, args.cpus, args.seconds)
        wanted = [m for m in r.metrics if (m in END_TO_END) != bool(args.trace)]
    else:
        from perfbench.streams import run_stream

        wl = STREAMS[args.workload](ROOT)
        r = run_stream(wl, work, args.seed, args.seconds, args.trace == 1, args.cpus)

        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        wanted = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]

    missing = [m for m in wanted if m not in r.metrics]
    if missing:
        print(f"error: run produced no value for {missing}", file=sys.stderr)
        return 3
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cpus": args.cpus,
        "error_rate": error_rate(r.attempted, r.failed),
        "mismatches": r.mismatches,
        "samples": {m: r.samples.get(m, 1) for m in wanted},
        "extra": r.extra(),
        "wall_s": time.time() - t0,
        "host_start": stamp_start,
        "host_end": host.stamp(),
    }
    result = {
        "correct": r.failed == 0,
        "attempted": r.attempted,
        "failed": r.failed,
        "metrics": {m: {"value": r.metrics[m][0], "unit": r.metrics[m][1]} for m in wanted},
    }
    if args.trace:
        out = os.path.join(STATE, "out")
        os.makedirs(out, exist_ok=True)
        with open(os.path.join(out, f"trace-{args.workload}-{args.seed}.json"), "w") as f:
            json.dump({"detail": detail, "result": result,
                       "metrics": {k: {"value": v, "unit": u} for k, (v, u) in r.metrics.items()},
                       "spans": r.spans}, f, indent=1)
    print("detail: " + json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
