"""The two workloads: set-up, timed passes, output checks and metrics.

Each workload returns an ``Outcome``. End-to-end figures come from the
timed passes. In a traced run the same passes run with the event log on;
the workload then also runs its layer probes (core tracer, a per-document
timing pass) and leaves ``Outcome.finish``, which turns the event log
into layer figures once the session has stopped and the log is complete.
"""
from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Callable

import duckdb
from pyspark.sql import functions as F

import __spark_entry__
import corpus
from coretrace import trace as trace_core
from eventlog import EventLog
from metrics import OPERATORS
from pdfi_spark import pipeline
from pdfi_spark.pipeline import extract_text, read_extracted, run_pipeline
from procmem import PeakRss
from tools.check_oracles import canon

SETUP_REPS = 3          # input builds per run; set-up counts their median
HEAVY_DOCS = 1500
HEAVY_BUCKETS = 16
HEAVY_WAVE = 8          # buckets per wave: a full run is 2 write jobs
CURATE_DOCS = 500       # the sf0.01 row counts (README.md says why)
CURATE_VECTORS = 500
TRACE_HEAVY_DOCS = 100
# the first pass after a warm-up may run slower than the next; with two
# or more, a run's figure never rests on that pass alone, and the number
# of passes does not flip between one and two with the host's speed
MIN_PASSES = 2
STARTED = time.perf_counter()


@dataclass
class Outcome:
    attempted: int = 0
    failed: int = 0
    setup_s: float = 0.0        # input build + warm-up; run.py adds the session start
    end_to_end: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    finish: Callable[[EventLog], dict] | None = None

    def count(self, attempted: int, failed: int) -> None:
        self.attempted += attempted
        self.failed += failed


class Bench:
    """What a workload needs: the session, its scratch area and the flags."""

    def __init__(self, spark, work: str, seed: int, seconds: float, traced: bool, slots: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.slots = slots
        self.peak_rss_bytes = 0

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def materialize(self, build):
        """Run ``build()`` SETUP_REPS times -> (last result, median seconds)."""
        times, result = [], None
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            result = build()
            times.append(time.perf_counter() - t0)
        return result, statistics.median(times)

    @contextmanager
    def group(self, name: str):
        """Tag the Spark jobs started inside with job group ``name``."""
        sc = self.spark.sparkContext
        sc.setJobGroup(name, name)
        try:
            yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    def passes(self):
        """Pass numbers 0, 1, ... ending at the pass boundary nearest to
        ``seconds``, after at least MIN_PASSES passes: another pass starts
        while it is expected, at the mean length so far, to end less than
        half a pass past ``seconds``. A run so times about ``seconds`` of
        passes, or MIN_PASSES passes when they take longer. Memory is
        sampled while they run, so the peak is the program's own, not
        that of input generation or output checks; ``peak_rss_bytes`` is
        the median over passes of each pass's peak."""
        peaks = []
        with PeakRss() as rss:
            start = time.perf_counter()
            i = 0
            while i < MIN_PASSES or (time.perf_counter() - start) * (i + 0.5) / i < self.seconds:
                yield i
                peaks.append(rss.take())
                i += 1
        self.peak_rss_bytes = statistics.median(peaks)
        log(f"pass peaks {[round(p / 2**20) for p in peaks]} MB")


def log(message: str) -> None:
    print(f"perfbench: {time.perf_counter() - STARTED:6.1f}s {message}", file=sys.stderr, flush=True)


def pass_group(i: int) -> str:
    return f"pass:{i:03d}"


def noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


# ---------------------------------------------------------------------------
# output checks
# ---------------------------------------------------------------------------

def check_extraction(rows, golden: dict[str, str], malformed: set[str]) -> tuple[int, int]:
    """(attempted, failed) for (url, text, error) rows against the generator.

    A failure is text that is not byte-identical to the golden string, an
    error row on a valid document, a malformed document without an error
    row, a missing document, or a row for an unknown or repeated url.
    """
    seen: set[str] = set()
    failed = extra = 0
    for url, text, error in rows:
        if url in seen or (url not in golden and url not in malformed):
            extra += 1
            continue
        seen.add(url)
        if url in malformed:
            failed += error is None
        else:
            failed += (error is not None or text is None
                       or text.encode("utf-8") != golden[url].encode("utf-8"))
    missing = len(golden) + len(malformed) - len(seen)
    return len(golden) + len(malformed) + extra, failed + missing + extra


def check_operators(spark_canon: dict, oracle_canon: dict) -> tuple[int, int]:
    """(attempted, failed): an operator fails when its (rows, columns,
    value hash) differs from its DuckDB twin's, or when either side raised."""
    failed = sum(
        1 for name in OPERATORS
        if spark_canon.get(name) is None or spark_canon.get(name) != oracle_canon.get(name)
    )
    return len(OPERATORS), failed


# ---------------------------------------------------------------------------
# layer figures
# ---------------------------------------------------------------------------

def pipeline_layers(log: EventLog, walls: list[float], slots: int) -> dict[str, float]:
    """Event-log totals of the timed passes, averaged per pass."""
    per_pass = [log.totals(pass_group(i)) for i in range(len(walls))]

    def mean(key: str) -> float:
        return statistics.fmean(p[key] for p in per_pass)

    return {
        "pipeline.shuffle_write_bytes": mean("shuffle_write_bytes"),
        "pipeline.shuffle_fetch_wait_ms": mean("fetch_wait_ms"),
        "pipeline.spill_bytes": mean("spill_bytes"),
        "pipeline.python_boot_ms": mean("python_boot"),
        "pipeline.python_total_ms": mean("python_total"),
        "pipeline.python_data_sent_bytes": mean("python_data_sent"),
        "pipeline.slot_busy_share": statistics.median(
            p["run_ms"] / (w * 1000.0 * slots) for p, w in zip(per_pass, walls)),
        "pipeline.gc_ms": mean("gc_ms"),
        "pipeline.task_skew": statistics.median(p["task_skew"] for p in per_pass),
    }


def extraction_layers(bench: Bench, out: Outcome, documents, corp: corpus.PdfCorpus,
                      walls: list[float], buckets_skipped: float) -> None:
    """Layer probes of the extraction workload; sets ``out.finish``.

    One extra pass with ``with_timing=True`` gives per-document latency
    and the milliseconds spent inside the library; the core tracer gives
    the split of that time across the library's layers.
    """
    with bench.group("timing"):
        core_ms, p50, p99 = (
            extract_text(documents, with_timing=True)
            .agg(F.sum("_ms"), F.percentile_approx("_ms", 0.5),
                 F.percentile_approx("_ms", 0.99))
            .collect()[0]
        )
    out.layers.update({
        "pipeline.doc_ms_p50": p50,
        "pipeline.doc_ms_p99": p99,
        "pipeline.buckets_skipped": buckets_skipped,
    })
    out.layers.update(trace_core(corp.payloads(), TRACE_HEAVY_DOCS, bench.seed))

    def finish(event_log: EventLog) -> dict:
        layers = pipeline_layers(event_log, walls, bench.slots)
        layers["pipeline.output_bytes_per_doc"] = statistics.fmean(
            event_log.totals(pass_group(i))["output_bytes"]
            for i in range(len(walls))) / corp.n_docs
        layers["pipeline.udf_share"] = core_ms / event_log.totals("timing")["run_ms"]
        return layers

    out.finish = finish


# ---------------------------------------------------------------------------
# extract_heavy_checkpointed
# ---------------------------------------------------------------------------

class Killed(Exception):
    """Raised in place of a bucket commit to stop a pipeline run."""


@contextmanager
def kill_after_commits(n: int):
    """Make ``run_pipeline`` die at its (n+1)-th bucket commit, as a driver
    killed there would: that wave's files are written but not committed."""
    commit = pipeline.CheckpointStore.commit
    done = 0

    def dying_commit(store, row):
        nonlocal done
        if done == n:
            raise Killed(f"killed after {n} commits")
        done += 1
        commit(store, row)

    pipeline.CheckpointStore.commit = dying_commit
    try:
        yield
    finally:
        pipeline.CheckpointStore.commit = commit


def extract_heavy_checkpointed(bench: Bench) -> Outcome:
    out = Outcome()
    spark = bench.spark
    corp, build_s = bench.materialize(lambda: corpus.heavy_skewed(
        bench.path("heavy"), bench.seed, HEAVY_DOCS, n_files=bench.slots * 2))
    documents = spark.read.parquet(corp.path)
    half = HEAVY_BUCKETS // 2

    def pipeline_run(output_dir: str) -> dict:
        return run_pipeline(spark, documents, output_dir, n_buckets=HEAVY_BUCKETS,
                            wave_size=HEAVY_WAVE)

    # warm-up: one full run, so that the first timed pass neither starts
    # Python workers nor fills their caches, then the killed run that
    # every resume starts from
    t0 = time.perf_counter()
    pipeline_run(bench.path("warm"))
    killed = bench.path("killed")
    try:
        with kill_after_commits(half):
            pipeline_run(killed)
    except Killed:
        pass
    out.setup_s = build_s + time.perf_counter() - t0
    log(f"set-up without session {out.setup_s:.3f}s")

    full_walls, resume_walls, skipped = [], [], []
    for i in bench.passes():
        with bench.group(pass_group(i)):
            t0 = time.perf_counter()
            pipeline_run(bench.path(f"full{i}"))
            full_walls.append(time.perf_counter() - t0)
        # the resume is timed on its own; copying the killed state is not
        shutil.copytree(killed, bench.path(f"resume{i}"))
        t0 = time.perf_counter()
        skipped.append(pipeline_run(bench.path(f"resume{i}"))["buckets_skipped"])
        resume_walls.append(time.perf_counter() - t0)
    log(f"full walls {[round(w, 3) for w in full_walls]}, "
        f"resume walls {[round(w, 3) for w in resume_walls]}")

    # every full and resumed output holds each document once, with its text
    golden = corp.golden()
    for i in range(len(full_walls)):
        for output_dir in (bench.path(f"full{i}"), bench.path(f"resume{i}")):
            rows = read_extracted(spark, output_dir).select("url", "text", "error").collect()
            out.count(*check_extraction(rows, golden, corp.malformed))
        out.count(1, skipped[i] != half)
    log(f"outputs checked, {out.failed} of {out.attempted} failed")
    out.end_to_end = {
        # over the whole timed window: the host's slow spells last seconds,
        # so one rate over all full runs varies less than a median of a few
        "docs_per_s": corp.n_docs * len(full_walls) / sum(full_walls),
        "resume_s": statistics.median(resume_walls),
    }
    if bench.traced:
        extraction_layers(bench, out, documents, corp, full_walls,
                          buckets_skipped=statistics.median(skipped))
    return out


# ---------------------------------------------------------------------------
# curate_ops
# ---------------------------------------------------------------------------

def oracle_hashes(tables: str) -> dict:
    """canon() of every operator's DuckDB ``oracle_sql()`` twin."""
    oracles = __spark_entry__.oracle_sql()
    con = duckdb.connect()
    try:
        for table in ("documents", "embeddings"):
            path = os.path.join(tables, f"{table}.parquet")
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
        return {name: canon(con.execute(oracles[name]).df()) for name in OPERATORS}
    finally:
        con.close()


def curate_ops(bench: Bench) -> Outcome:
    out = Outcome()
    spark = bench.spark
    queries = __spark_entry__.queries()
    tables, build_s = bench.materialize(lambda: corpus.curate_tables(
        bench.path("tables"), CURATE_DOCS, CURATE_VECTORS))

    # warm-up: every operator collected once; these results are checked
    t0 = time.perf_counter()
    results = {name: queries[name](spark, tables).toPandas() for name in OPERATORS}
    out.setup_s = build_s + time.perf_counter() - t0
    spark_canon = {name: canon(df) for name, df in results.items()}
    del results  # the benchmark's copy of the output is not the program's memory

    walls, op_walls = [], {name: [] for name in OPERATORS}
    for i in bench.passes():
        t0 = time.perf_counter()
        for name in OPERATORS:
            with bench.group(f"{pass_group(i)}:{name}"):
                t1 = time.perf_counter()
                noop(queries[name](spark, tables))
                op_walls[name].append(time.perf_counter() - t1)
        walls.append(time.perf_counter() - t0)
    log(f"set-up without session {out.setup_s:.3f}s, pass walls {[round(w, 3) for w in walls]}")

    out.count(*check_operators(spark_canon, oracle_hashes(tables)))
    log(f"operators checked, {out.failed} of {out.attempted} failed")
    out.end_to_end = {
        "docs_per_s": CURATE_DOCS * len(walls) / sum(walls),
        # no operator checkpoints: a killed pass is redone whole
        "resume_s": statistics.median(walls),
    }
    if bench.traced:
        for name in OPERATORS:
            out.layers[f"ops.{name}_s"] = statistics.median(op_walls[name])

        def finish(event_log: EventLog) -> dict:
            layers = pipeline_layers(event_log, walls, bench.slots)
            for name in OPERATORS:
                per_pass = [event_log.totals(f"{pass_group(i)}:{name}")
                            for i in range(len(walls))]
                layers[f"ops.{name}_jobs"] = statistics.fmean(p["jobs"] for p in per_pass)
                layers[f"ops.{name}_stages"] = statistics.fmean(p["stages"] for p in per_pass)
                layers[f"ops.{name}_shuffle_bytes"] = statistics.fmean(
                    p["shuffle_write_bytes"] for p in per_pass)
            return layers

        out.finish = finish
    return out


WORKLOADS = {
    "extract_heavy_checkpointed": extract_heavy_checkpointed,
    "curate_ops": curate_ops,
}
