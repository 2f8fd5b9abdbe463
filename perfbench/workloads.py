"""The benchmark's workloads. Each is a closed loop with one client that
calls into the engine and times those calls from outside.

- `registry`: each op is one registry query, a builder call then
  `count()`, with `clear_all_owned_caches()` after it. A pass runs every
  query of `QUERIES` once in a seeded order.
- `stream`: each op is one micro-batch of `run_hot_path`. A unit is one
  `run_hot_path` call over `STREAM_FILES` files of `STREAM_ROWS` records.

A run is: set-up (session start plus an untimed warm-up, with the
output checks that need no timing), then a fixed number of whole units
set by `seconds`. Traced runs alternate untraced and traced units:
per-layer figures come from the traced ones, and the gap between the
two kinds is the tracing overhead.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import statistics
import sys
import time
import traceback

import datagen
from probes import PHASES, JobCounter, ProgressListener, Tracer

# The pass: label propagation, whose builder fires Spark jobs, plus one
# cheap headliner from each other `queries_*` module: window statistics,
# a three-way and a five-way star join, a daily TWAP, a snapshot diff
# and PII redaction.
# In a warm pass of all 71 headliners on the sf 0.01 tables (four
# cores), builders took 22.1 s of 59.6 s and fired 105 jobs: pretrain
# 45, label propagation 44, IVF training 8, pagerank 5. This pass covers
# 44 of those 105 builder jobs, 3.2 s of the 22.1 s of builder time,
# 1.6 s of the 37.5 s of count() time and 73 of the 623 jobs.
#
# Pretrain, pagerank and IVF are left out for their cost in a run of
# about a minute, which is what the benchmark's schedule allows. After
# session start the cold pass took 35 s with pretrain and 17 s without
# it, and a warm pass 10-17 s with it and 4-6 s without: with pretrain a
# run measured one or two passes. Pagerank and IVF cost about 8 s each
# in the cold pass. No `queries_multimodal` query is run: its media
# fixture is written on first use, about 3.5 s more set-up.
QUERIES = (
    "q_zscore_anomalies",
    "q_shipping_priority",
    "q_volume_shipping",
    "q_twap_daily",
    "q_snapshot_diff",
    "q_pii_redaction",
    "q_label_propagation",
)
MODULES = ("reference", "tpch", "tpch2", "pipeline", "temporal", "behavior", "warehouse")

# Records per input file, so per micro-batch: the producer's poll size
# (FIXTURES.md section 2). run_hot_path reads one file per trigger.
STREAM_ROWS = 100
STREAM_FILES = 5

# A run measures round(seconds / SECONDS_PER_UNIT) whole units, so every
# run of a workload does the same work whatever the host's speed. On four
# cores a warm pass takes about 5 s and a stream unit about 7.5 s, after
# a warm-up of about 25 s and 20 s.
SECONDS_PER_UNIT = {"registry": 4.0, "stream": 6.5}
FROZEN_NOW = "2026-01-16 00:00:00"

# A run starts no new unit after this many seconds from session start.
# The benchmark's full schedule (4 + 22 runs per workload, two
# workloads) must end within 3420 s, about 71 s a run, also on a
# contended host.
HARD_STOP_S = 55.0

# Untimed passes after the cold one. Passes kept getting faster for a
# while: 5.9, 4.8, 5.0 and 4.0 s for the first four after the cold pass
# in one run, and the median of four passes sat on that slope.
WARM_OP_PASSES = 1

PINNED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pinned.json")


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def result_hash(df) -> tuple[int, str]:
    """(rows, order-insensitive hash): the exact sum of per-row xxhash64
    over every column, computed in one Spark job."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import MapType

    cols = [
        F.to_json(F.col(f"`{f.name}`")) if isinstance(f.dataType, MapType)
        else F.col(f"`{f.name}`")
        for f in df.schema.fields
    ]
    row = df.select(F.xxhash64(*cols).cast("decimal(38,0)").alias("h")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("h").alias("s")
    ).collect()[0]
    return int(row["n"]), str(row["s"] or 0)


class Run:
    """State shared by both workloads: counters, failures, spans."""

    def __init__(self, spark, seed: int, seconds: float, traced: bool, t_start: float):
        self.spark, self.seed, self.seconds = spark, seed, seconds
        self.traced, self.t_start = traced, t_start
        self.tracer = Tracer(traced, t_start)
        self.jobs = JobCounter(spark) if traced else None
        self.attempted = 0
        self.failed = 0
        self.mismatches: list[str] = []
        self.op_s: list[float] = []
        self.unit_s = {False: [], True: []}  # traced? -> unit wall times
        self.layer: dict[str, float] = {}
        self.traced_units = 0

    def add(self, key: str, value: float) -> None:
        self.layer[key] = self.layer.get(key, 0.0) + value

    def units(self, kind: str):
        """Yield (index, traced) for each measured unit. Traced runs
        alternate untraced and traced units and have at least one of
        each. A run that nears HARD_STOP_S starts no more units."""
        n = max(2 if self.traced else 1, round(self.seconds / SECONDS_PER_UNIT[kind]))
        for i in range(n):
            if i and time.perf_counter() - self.t_start > HARD_STOP_S:
                return
            yield i, self.traced and i % 2 == 1


# ---------------------------------------------------------------- registry


def _module(spec) -> str:
    return spec.builder.__module__.rsplit(".", 1)[-1].removeprefix("queries_")


def pass_order(seed: int, unit: int) -> list[str]:
    """The seeded query order of one pass."""
    order = list(QUERIES)
    random.Random(seed * 7919 + unit).shuffle(order)
    return order


def registry_setup(run: Run, sf_dir: str, sf_key: str) -> None:
    """Warm-up: a cold pass in which every query's row count and result
    hash must equal `pinned.json`, then WARM_OP_PASSES untimed passes of
    the ops as they are measured (builder, count(), clear), whose row
    counts must match too."""
    from big_data_engineering_project_spark.caches import clear_all_owned_caches
    from big_data_engineering_project_spark.plans import REGISTRY

    with open(PINNED) as fh:
        pinned = json.load(fh)[sf_key]
    run.pinned = pinned
    for name in QUERIES:
        t0 = time.perf_counter()
        try:
            with run.tracer.span("setup.query"):
                got = result_hash(REGISTRY[name].builder(run.spark, sf_dir))
            log(f"warm-up {name}: {time.perf_counter() - t0:.2f} s")
            want = (pinned[name]["rows"], pinned[name]["hash"])
            if got != want:
                run.mismatches.append(f"{name}: hash {got} != pinned {want}")
        except Exception:
            run.mismatches.append(f"{name}: warm-up raised")
            log(traceback.format_exc())
        clear_all_owned_caches()
    for _ in range(WARM_OP_PASSES):
        t0 = time.perf_counter()
        for name in QUERIES:
            try:
                with run.tracer.span("setup.query"):
                    rows = REGISTRY[name].builder(run.spark, sf_dir).count()
                if rows != pinned[name]["rows"]:
                    run.mismatches.append(f"{name}: warm-up {rows} rows")
            except Exception:
                run.mismatches.append(f"{name}: warm-up raised")
                log(traceback.format_exc())
            clear_all_owned_caches()
        log(f"warm-up pass: {time.perf_counter() - t0:.2f} s")


def registry_measure(run: Run, sf_dir: str) -> None:
    from big_data_engineering_project_spark.caches import clear_all_owned_caches
    from big_data_engineering_project_spark.plans import REGISTRY

    sc = run.spark.sparkContext
    pinned_rdds = 0
    op_id = 0
    for unit, unit_traced in run.units("registry"):
        order = pass_order(run.seed, unit)
        tr = run.tracer if unit_traced else Tracer(False)
        t_pass = time.perf_counter()
        with tr.span("pass", op=None):
            for name in order:
                op_id += 1
                spec = REGISTRY[name]
                mod = _module(spec)
                run.attempted += 1
                if unit_traced:
                    run.jobs.mark()
                try:
                    with tr.span("op", op=op_id):
                        t0 = time.perf_counter()
                        with tr.span("plans.build", op=op_id):
                            df = spec.builder(run.spark, sf_dir)
                        t1 = time.perf_counter()
                        build_jobs = run.jobs.fired() if unit_traced else 0
                        with tr.span("exec.count", op=op_id):
                            rows = df.count()
                        t2 = time.perf_counter()
                    run.op_s.append(t2 - t0)
                    if rows != run.pinned[name]["rows"]:
                        run.mismatches.append(f"{name}: {rows} rows")
                    if unit_traced:
                        run.add("plans.build_s", t1 - t0)
                        run.add(f"plans.{mod}.build_s", t1 - t0)
                        run.add("plans.build_jobs", build_jobs)
                        run.add("exec.count_s", t2 - t1)
                        run.add(f"exec.{mod}.count_s", t2 - t1)
                except Exception:
                    run.failed += 1
                    log(f"{name} failed:\n{traceback.format_exc()}")
                if unit_traced:
                    pinned_rdds = max(pinned_rdds, len(sc._jsc.getPersistentRDDs()))
                t3 = time.perf_counter()
                with tr.span("caches.clear", op=op_id):
                    clear_all_owned_caches()
                if unit_traced:
                    run.add("caches.clear_s", time.perf_counter() - t3)
                    for k, v in run.jobs.collect().items():
                        run.add(f"exec.{k}", v)
        run.unit_s[unit_traced].append(time.perf_counter() - t_pass)
        run.traced_units += unit_traced
    run.layer["caches.pinned_rdds_max"] = float(pinned_rdds)


# ------------------------------------------------------------------ stream


def _stream_input(root: str, tag: str, seed: int) -> tuple[str, int]:
    in_dir = os.path.join(root, f"{tag}-in")
    recs = datagen.stream_records(STREAM_ROWS * STREAM_FILES, seed)
    datagen.write_stream_input(in_dir, recs, STREAM_ROWS)
    return in_dir, len(recs)


def _hot_path(run: Run, in_dir: str, out: str) -> None:
    import datetime as dt

    from big_data_engineering_project_spark.streaming.pipeline import run_hot_path

    run_hot_path(
        run.spark,
        in_dir,
        table_path=os.path.join(out, "table"),
        anomaly_path=os.path.join(out, "anom"),
        checkpoint_dir=os.path.join(out, "ckpt"),
        now=dt.datetime.fromisoformat(FROZEN_NOW),
        max_files_per_trigger=1,
    )


def stream_check(run: Run, in_dir: str, out: str, n_rows: int, tag: str) -> None:
    """The written table holds every generated row exactly once, and its
    hash equals the batch formulation: the same enrichment over the
    same files plus row_number() per author in arrival order. A check
    that raises (no table was written, say) is a mismatch; the run goes
    on."""
    try:
        _stream_check(run, in_dir, out, n_rows, tag)
    except Exception:
        run.mismatches.append(f"{tag}: output check raised")
        log(traceback.format_exc())


def _stream_check(run: Run, in_dir: str, out: str, n_rows: int, tag: str) -> None:
    import datetime as dt

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from big_data_engineering_project_spark.streaming.pipeline import (
        STREAM_SCHEMA,
        enrich_stream,
    )

    table = run.spark.read.parquet(os.path.join(out, "table"))
    batch = enrich_stream(
        run.spark.read.schema(STREAM_SCHEMA).json(in_dir),
        dt.datetime.fromisoformat(FROZEN_NOW),
    ).withColumn(
        "author_activity_count",
        F.row_number().over(Window.partitionBy("author").orderBy("seq")).cast("long"),
    )
    cols = [c for c in batch.columns if c in table.columns]
    ids = table.select(F.countDistinct("id")).collect()[0][0]
    got, want = result_hash(table.select(cols)), result_hash(batch.select(cols))
    if ids != n_rows or got[0] != n_rows or got != want:
        run.mismatches.append(
            f"{tag}: {got[0]} rows / {ids} ids of {n_rows}, hash {got[1]} != {want[1]}"
        )


def stream_setup(run: Run, root: str) -> ProgressListener:
    """Register the progress listener, then one full-size warm-up run."""
    listener = ProgressListener()
    run.spark.streams.addListener(listener)
    in_dir, n = _stream_input(root, "warm", run.seed * 7919 + 104729)
    out = os.path.join(root, "warm-out")
    t0 = time.perf_counter()
    try:
        _hot_path(run, in_dir, out)
    except Exception:
        run.mismatches.append("warm-up: run_hot_path raised")
        log(traceback.format_exc())
    t1 = time.perf_counter()
    stream_check(run, in_dir, out, n, "warm-up")
    log(f"warm-up: {t1 - t0:.2f} s, output check {time.perf_counter() - t1:.2f} s")
    shutil.rmtree(out, ignore_errors=True)
    return listener


def stream_measure(run: Run, root: str, listener: ProgressListener) -> None:
    per_unit: list[dict] = []
    for unit, unit_traced in run.units("stream"):
        in_dir, n = _stream_input(root, f"u{unit}", run.seed * 7919 + unit)
        out = os.path.join(root, f"u{unit}-out")
        del listener.batches[:]
        tr = run.tracer if unit_traced else Tracer(False)
        if unit_traced:
            run.jobs.mark()
        run.attempted += STREAM_FILES
        t0 = time.perf_counter()
        try:
            with tr.span("streaming.run_hot_path", op=unit) as sid:
                _hot_path(run, in_dir, out)
        except Exception:
            log(f"run_hot_path failed:\n{traceback.format_exc()}")
        wall = time.perf_counter() - t0
        run.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        batches = [b for b in listener.batches if b["rows"] > 0]
        run.failed += max(0, STREAM_FILES - len(batches))
        run.op_s.extend(b["trigger_ms"] / 1e3 for b in batches)
        run.unit_s[unit_traced].append(wall)
        if unit_traced:
            run.traced_units += 1
            run.add("streaming.run_hot_path_s", wall)
            for k, v in run.jobs.collect().items():
                run.add(f"exec.{k}", v)
            _batch_spans(run, sid, unit, batches, t0, wall)
            per_unit.extend(batches)
        t_check = time.perf_counter()
        stream_check(run, in_dir, out, n, f"unit {unit}")
        log(f"unit {unit}: {wall:.2f} s, output check {time.perf_counter() - t_check:.2f} s")
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(in_dir, ignore_errors=True)
    if per_unit:
        run.layer["streaming.batches"] = float(len(per_unit))
        run.layer["streaming.input_rows"] = float(sum(b["rows"] for b in per_unit))
        for name in ["trigger", "state_commit"] + [n for _, n in PHASES]:
            values = [b[f"{name}_ms"] for b in per_unit]
            run.layer[f"streaming.{name}_ms_p50"] = statistics.median(values)
        run.layer["streaming.state_rows"] = max(b["state_rows"] for b in per_unit)
        run.layer["streaming.state_memory_mb"] = max(b["state_memory_mb"] for b in per_unit)


def _batch_spans(run: Run, parent: int, unit: int, batches, t0: float, wall: float) -> None:
    """A child span per micro-batch, placed by its progress timestamp,
    with its phases laid end to end inside it. Clamped to the parent."""
    tr = run.tracer
    wall_at_t0 = time.time() - (time.perf_counter() - t0)
    lo, hi = t0 - tr.t0, t0 - tr.t0 + wall
    for b in batches:
        start = min(max(lo, b["start"] - wall_at_t0 + lo), hi)
        end = min(start + b["trigger_ms"] / 1e3, hi)
        bid = tr.add("streaming.batch", start, end, unit, parent)
        cursor = start
        for _, name in PHASES:
            stop = min(cursor + b[f"{name}_ms"] / 1e3, end)
            tr.add(f"streaming.{name}", cursor, stop, unit, bid)
            cursor = stop
