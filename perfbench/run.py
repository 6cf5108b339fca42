#!/usr/bin/env python3
"""pdfi_spark benchmark: extraction and curation on a local[k] session.

    python3 perfbench/run.py --workload extract_heavy_checkpointed --seed 1 \\
        --seconds 10 --trace 0

Run from the repository root. Workloads: extract_heavy_checkpointed and
curate_ops (README.md has why each exists and what each metric should
move). ``--trace 0`` prints the end-to-end metrics, ``--trace 1`` runs
the same passes with Spark's event log on and prints the per-layer
metrics instead. The last line of standard output is
one JSON object: {"correct", "attempted", "failed", "metrics"}.

Everything the run writes goes under ``.perfbench_work-<pid>/`` in the
repository root and is removed at the end; every process it starts (the
driver JVM and its Python workers) has ended when it exits.
"""
from __future__ import annotations

import argparse
import json
import math
import os
import shlex
import shutil
import signal
import sys
import time

from metrics import END_TO_END, NOT_RUN, PER_LAYER

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# one core is left to the driver interpreter, the JVM's own threads (GC,
# JIT, scheduler, Arrow writers) and the Python worker daemon: with every
# core running a task, timings measured the scheduler more than the program
MAX_SLOTS = 3


def parse_args(argv):
    parser = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    parser.add_argument("--workload", required=True, choices=sorted(NOT_RUN))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return parser.parse_args(argv)


def launch_environment(work: str, event_log: str | None) -> None:
    """Environment the driver JVM and the Python workers inherit: the
    checkout on the workers' import path, and every scratch file kept
    under ``work``."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # every JVM, the spark-submit launcher included: no perf data in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    args = []
    if event_log:
        os.makedirs(event_log)
        # one plain JSON-lines file: no rolling, no zstd (not in the stdlib)
        for conf in ("spark.eventLog.enabled=true", f"spark.eventLog.dir=file://{event_log}",
                     "spark.eventLog.compress=false", "spark.eventLog.rolling.enabled=false"):
            args += ["--conf", conf]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def stop_spark(spark) -> None:
    """Stop the session, end the driver JVM and wait for every child."""
    from pyspark import SparkContext

    from procmem import wait_for_descendants

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits on end of input
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    for pid in wait_for_descendants(os.getpid(), timeout_s=30):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    if wait_for_descendants(os.getpid(), timeout_s=10):
        raise RuntimeError("child processes outlived the session")


def run(args, work: str) -> dict:
    event_log = os.path.join(work, "eventlog") if args.trace else None
    launch_environment(work, event_log)
    sys.path.insert(0, ROOT)
    from eventlog import EventLog
    from pdfi_spark.pipeline import make_spark
    from workloads import WORKLOADS, Bench

    slots = max(1, min(MAX_SLOTS, len(os.sched_getaffinity(0)) - 1))
    t0 = time.perf_counter()
    spark = make_spark("perfbench", master=f"local[{slots}]", shuffle_partitions=slots)
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    try:
        bench = Bench(spark, work, args.seed, args.seconds, bool(args.trace), slots)
        outcome = WORKLOADS[args.workload](bench)
    finally:
        stop_spark(spark)

    if args.trace:
        metrics = dict.fromkeys(NOT_RUN[args.workload], 0.0)
        metrics.update(outcome.layers)
        metrics.update(outcome.finish(EventLog(event_log)))
        units = PER_LAYER
    else:
        metrics = dict(outcome.end_to_end)
        metrics["ok_share"] = 1.0 - outcome.failed / outcome.attempted
        metrics["setup_s"] = session_s + outcome.setup_s
        metrics["peak_rss_mb"] = bench.peak_rss_bytes / 2**20
        units = END_TO_END
    if set(metrics) != set(units):
        raise RuntimeError(f"metric names differ: {sorted(set(metrics) ^ set(units))}")
    for name, value in metrics.items():
        if value is None or not math.isfinite(value):
            raise RuntimeError(f"{name} is {value}")
    return {
        "correct": outcome.failed == 0,
        "attempted": outcome.attempted,
        "failed": outcome.failed,
        "metrics": {name: {"value": float(metrics[name]), "unit": units[name]}
                    for name in units},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "pdfi_spark", "pipeline.py")):
        print(f"perfbench: no pdfi_spark package under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, f".perfbench_work-{os.getpid()}")
    os.makedirs(work)
    t0 = time.perf_counter()
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(f"perfbench: run took {time.perf_counter() - t0:.1f}s", file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
