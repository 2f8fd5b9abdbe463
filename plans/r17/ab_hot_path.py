"""Interleaved A/B: the hot path before and after the JVM author count
(plans/r17/ab_hot_path.json).

Arm `old` rebuilds the previous hot path here: `applyInPandasWithState`
stamps the running author count on the streaming frame, and the
foreachBatch body persists the batch, appends it to the table and
appends `detect_anomalies` (a stats aggregate broadcast back onto the
batch). Arm `new` is `streaming.pipeline.run_hot_path`: the count is
folded in the JVM from per-batch deltas in the checkpoint, and the
z-score stats are observed during the table write.

Both arms run in one session, alternating in ABBA order, over the same
input per pair: five files of 100 records from perfbench/datagen.py,
one file per trigger, a fresh checkpoint per run (the perfbench
`stream_hot_path` unit). Per pair the script asserts equal table and
anomaly hashes, and records per arm the trigger times (progress
`triggerExecution`) and the Spark jobs, stages and tasks fired
(perfbench/probes.py `JobCounter`). The anomaly hash takes `z` rounded
to 9 decimals: the arms compute the same sample stddev over
differently partitioned frames, so partial moments merge in another
order and `z` can differ in the last bits (`max_abs_dz` records by how
much).

`overlap` repeats the interleaved pairs for `new` against
`sequential`, the same body with its author-count delta written before
the anomalies instead of beside them on a pool thread.

Three scale records follow:
- `prior_authors`: a restart of the new arm against a checkpoint whose
  base holds 0, 100k or 1M prior authors, the levels interleaved: the
  fold that opens the call (`_compact_author_counts`), the call, and
  its triggers; every stamped count is checked against the seeded
  total plus the `row_number` over all the records;
- `large_batch`: one micro-batch of 20k distinct authors per arm, then
  a restart of each arm's checkpoint over five more files;
- `long_call`: one call of 60 batches per arm, and the new arm once
  more with the in-call merge of committed deltas switched off.

Usage:
  python plans/r17/ab_hot_path.py OUT_JSON [ROUNDS]
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from collections.abc import Iterator
from typing import Any

REPO = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "perfbench"))

import datagen  # noqa: E402
import pandas as pd  # noqa: E402
from probes import JobCounter  # noqa: E402
from pyspark.sql import DataFrame, Observation, Window  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout  # noqa: E402
from pyspark.sql.types import LongType, StructField, StructType  # noqa: E402
from workloads import FROZEN_NOW, result_hash  # noqa: E402

from big_data_engineering_project_spark.functions.math_ops import zscore  # noqa: E402
from big_data_engineering_project_spark.operators.anomaly import (  # noqa: E402
    detect_anomalies,
)
from big_data_engineering_project_spark.session import get_spark  # noqa: E402
from big_data_engineering_project_spark.sources.catalog import (  # noqa: E402
    ensure_package_on_executors,
)
from big_data_engineering_project_spark.streaming import pipeline  # noqa: E402

NOW = dt.datetime.fromisoformat(FROZEN_NOW)
ROWS, FILES = 100, 5
PRIOR_LEVELS = (0, 100_000, 1_000_000)
PRIOR_TOTAL = 1000  # every seeded author's prior count
LARGE_AUTHORS = 20_000
LONG_FILES = 60


def old_author_counts(df: DataFrame) -> DataFrame:
    """The previous `stateful.with_author_activity_count`: per-author
    state in the state store, one pandas call per touched author."""
    ensure_package_on_executors(df.sparkSession)
    out_schema = StructType(
        df.schema.fields + [StructField("author_activity_count", LongType())]
    )
    state_schema = StructType([StructField("total", LongType())])

    def stamp(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        total = state.get[0] if state.exists else 0
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks).sort_values("seq")
            n = len(pdf)
            pdf["author_activity_count"] = range(total + 1, total + n + 1)
            total += n
            yield pdf
        state.update((total,))

    return df.groupBy("author").applyInPandasWithState(
        stamp,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def old_run_hot_path(spark, input_dir, table_path, anomaly_path, checkpoint_dir, now):
    """The previous `run_hot_path` body."""

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        stamped = batch_df.withColumn("batch_id", F.lit(batch_id))
        stamped.persist()
        try:
            stamped.write.mode("append").parquet(table_path)
            detect_anomalies(stamped, "score", 3.0).write.mode("append").parquet(
                anomaly_path
            )
        finally:
            stamped.unpersist()

    enriched = pipeline.enrich_stream(pipeline.stream_source(spark, input_dir, 1), now)
    query = (
        old_author_counts(enriched)
        .writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return [p["durationMs"] for p in query.recentProgress]


def sequential_run_hot_path(
    spark, input_dir, table_path, anomaly_path, checkpoint_dir, now
):
    """`run_hot_path` with its delta write run before the anomaly
    write instead of beside it on a pool thread."""
    counts_root = f"{checkpoint_dir}/author_counts"
    pipeline._compact_author_counts(spark, checkpoint_dir)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        tag = pipeline._batch_tag(checkpoint_dir, batch_id)
        pipeline._merge_author_counts(spark, checkpoint_dir)
        batch = batch_df.persist()
        stamped = (
            pipeline.stamp_author_counts(batch, counts_root, tag)
            .withColumn("batch_id", F.lit(batch_id))
            .persist()
        )
        try:
            table = stamped.drop("_last")
            stats = Observation()
            table.observe(
                stats, F.avg("score").alias("mu"), F.stddev_samp("score").alias("sigma")
            ).write.mode("append").parquet(table_path)
            stamped.filter(F.col("_last")).select(
                "author", F.col("author_activity_count").alias("total")
            ).coalesce(1).write.mode("overwrite").parquet(f"{counts_root}/batch={tag}")
            mu, sigma = (F.lit(stats.get[k]).cast("double") for k in ("mu", "sigma"))
            table.withColumn("z", zscore(F.col("score"), mu, sigma)).filter(
                F.col("z") > 3.0
            ).write.mode("append").parquet(anomaly_path)
        finally:
            stamped.unpersist()
            batch.unpersist()

    enriched = pipeline.enrich_stream(pipeline.stream_source(spark, input_dir, 1), now)
    query = (
        enriched.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return [p["durationMs"] for p in query.recentProgress]


ARMS = {
    "old": old_run_hot_path,
    "new": pipeline.run_hot_path,
    "sequential": sequential_run_hot_path,
}


def run_arm(spark, counter: JobCounter, arm: str, in_dir: str, out: str) -> dict:
    counter.mark()
    t0 = time.perf_counter()
    phases = ARMS[arm](
        spark, in_dir, f"{out}/table", f"{out}/anom", f"{out}/ckpt", NOW
    )
    wall = time.perf_counter() - t0
    fired = counter.collect()
    return {
        "wall_s": round(wall, 3),
        "trigger_ms": [int(p["triggerExecution"]) for p in phases],
        **{k: round(fired[k], 3) for k in ("jobs", "stages", "tasks", "executor_cpu_s")},
        "table_hash": result_hash(spark.read.parquet(f"{out}/table")),
        "anom_hash": result_hash(
            spark.read.parquet(f"{out}/anom").withColumn("z", F.round("z", 9))
        ),
    }


def max_abs_dz(spark, out_a: str, out_b: str) -> float:
    za = spark.read.parquet(f"{out_a}/anom").select("seq", F.col("z").alias("za"))
    zb = spark.read.parquet(f"{out_b}/anom").select("seq", F.col("z").alias("zb"))
    row = za.join(zb, "seq").agg(F.max(F.abs(F.col("za") - F.col("zb")))).first()
    return float(row[0] or 0.0)


def interleaved_pairs(
    spark, root: str, rounds: int, arms: tuple[str, str] = ("old", "new")
) -> list[dict]:
    counter = JobCounter(spark)
    pairs = []
    a, b = arms
    for r in range(rounds + 1):  # pair 0 warms both arms and is dropped
        in_dir = f"{root}/in-{a}-{b}-{r}"
        datagen.write_stream_input(in_dir, datagen.stream_records(ROWS * FILES, 100 + r), ROWS)
        order = (a, b) if r % 2 == 0 else (b, a)
        pair = {arm: run_arm(spark, counter, arm, in_dir, f"{root}/{arm}{r}") for arm in order}
        pair["hashes_equal"] = all(
            pair[a][k] == pair[b][k] for k in ("table_hash", "anom_hash")
        )
        assert pair["hashes_equal"], pair
        pair["max_abs_dz"] = max_abs_dz(spark, f"{root}/{a}{r}", f"{root}/{b}{r}")
        print(f"# pair {r}: {json.dumps(pair)}", file=sys.stderr)
        for arm in arms:
            shutil.rmtree(f"{root}/{arm}{r}", ignore_errors=True)
        if r:
            pairs.append(pair)
    return pairs


def summarize(pairs: list[dict], arms: tuple[str, str] = ("old", "new")) -> dict:
    out = {}
    for arm in arms:
        runs = [p[arm] for p in pairs]
        out[arm] = {
            "trigger_p50_ms": statistics.median(t for r in runs for t in r["trigger_ms"]),
            "wall_p50_s": statistics.median(r["wall_s"] for r in runs),
            **{
                f"{k}_per_unit": statistics.median(r[k] for r in runs)
                for k in ("jobs", "stages", "tasks", "executor_cpu_s")
            },
        }
    out[f"trigger_p50_ratio_{arms[1]}_over_{arms[0]}"] = round(
        out[arms[1]]["trigger_p50_ms"] / out[arms[0]]["trigger_p50_ms"], 3
    )
    return out


def seed_prior(spark, ckpt: str, n: int) -> None:
    """`n` prior authors, each with total PRIOR_TOTAL, as a foreign
    delta `author_counts/batch=seed` in the checkpoint; the datagen
    authors are among them. The first call folds it into `batch=base`
    before its query starts."""
    if not n:
        return
    names = F.when(F.col("id") < 500, F.concat(F.lit("user"), F.col("id"))).otherwise(
        F.concat(F.lit("prior"), F.col("id"))
    )
    spark.range(n).select(
        names.alias("author"), F.lit(PRIOR_TOTAL).cast("long").alias("total")
    ).write.parquet(f"{ckpt}/author_counts/batch=seed")


def copy_files(src: str, dst: str, names: list[str]) -> None:
    """Copy input files with their mtimes, so the stream reads them in
    `seq` order after the ones already there."""
    os.makedirs(dst, exist_ok=True)
    for name in names:
        shutil.copy2(os.path.join(src, name), os.path.join(dst, name))


def count_mismatches(spark, in_dir: str, table: str, prior: int) -> int:
    w = Window.partitionBy("author").orderBy("seq")
    want = (
        spark.read.schema(pipeline.STREAM_SCHEMA)
        .json(in_dir)
        .select("seq", (F.row_number().over(w) + prior).alias("want"))
    )
    return (
        spark.read.parquet(table)
        .join(want, "seq")
        .filter(F.col("author_activity_count") != F.col("want"))
        .count()
    )


def prior_authors(spark, root: str, units: int = 2) -> dict:
    """New arm only, per prior-author level: a restart against a
    checkpoint whose base holds the level's authors. Per unit, call 1
    (fresh checkpoint, seeded prior, 5 files) leaves the base plus five
    deltas; then five more files arrive and the restart is timed in two
    parts: the fold of base plus deltas (`_compact_author_counts`,
    which run_hot_path runs first) and the call itself. Levels are
    interleaved unit by unit in one session."""
    src = f"{root}/prior-src"
    datagen.write_stream_input(src, datagen.stream_records(ROWS * FILES * 2, 7), ROWS)
    names = sorted(os.listdir(src))
    res = {n: {"fold_s": [], "call_s": [], "trigger_ms": []} for n in PRIOR_LEVELS}
    mismatches = 0
    for u in range(units + 1):  # unit 0 warms each level and is dropped
        levels = PRIOR_LEVELS if u % 2 == 0 else PRIOR_LEVELS[::-1]
        for n in levels:
            out = f"{root}/prior{n}-{u}"
            ckpt, in_dir = f"{out}/ckpt", f"{out}/in"
            seed_prior(spark, ckpt, n)
            copy_files(src, in_dir, names[:FILES])
            pipeline.run_hot_path(
                spark, in_dir, f"{out}/table", f"{out}/anom", ckpt, NOW
            )
            copy_files(src, in_dir, names[FILES:])
            t0 = time.perf_counter()
            pipeline._compact_author_counts(spark, ckpt)
            t1 = time.perf_counter()
            phases = pipeline.run_hot_path(
                spark, in_dir, f"{out}/table", f"{out}/anom", ckpt, NOW
            )
            t2 = time.perf_counter()
            mismatches += count_mismatches(
                spark, in_dir, f"{out}/table", PRIOR_TOTAL if n else 0
            )
            if u:
                res[n]["fold_s"].append(round(t1 - t0, 3))
                res[n]["call_s"].append(round(t2 - t1, 3))
                res[n]["trigger_ms"].extend(int(p["triggerExecution"]) for p in phases)
            shutil.rmtree(out, ignore_errors=True)
    assert not mismatches, mismatches
    p50 = {n: statistics.median(res[n]["trigger_ms"]) for n in PRIOR_LEVELS}
    return {
        "units_per_level": units,
        "runs": {str(n): res[n] for n in PRIOR_LEVELS},
        "trigger_p50_ms": {str(n): p50[n] for n in PRIOR_LEVELS},
        "fold_p50_s": {
            str(n): statistics.median(res[n]["fold_s"]) for n in PRIOR_LEVELS
        },
        "restart_call_p50_s": {
            str(n): statistics.median(res[n]["call_s"]) for n in PRIOR_LEVELS
        },
        "ratio_1M_over_0": round(p50[1_000_000] / p50[0], 3),
        "count_mismatches": 0,
    }


def large_batch(spark, root: str) -> dict:
    """One micro-batch of LARGE_AUTHORS records, each a distinct author,
    per arm; then a restart of each arm's checkpoint (20k authors of
    state) over five more files of 100 records."""
    recs = datagen.stream_records(LARGE_AUTHORS, 9)
    for i, rec in enumerate(recs):
        rec["author"] = f"big{i}"
    in_dir = f"{root}/large-in"
    datagen.write_stream_input(in_dir, recs, LARGE_AUTHORS)
    src = f"{root}/large-src"  # mtimes t0+1.. follow the large file's t0
    datagen.write_stream_input(src, datagen.stream_records(ROWS * (FILES + 1), 5), ROWS)
    counter = JobCounter(spark)
    out = {}
    for arm in ("old", "new"):
        rec = run_arm(spark, counter, arm, in_dir, f"{root}/large-{arm}")
        out[arm] = {k: rec[k] for k in ("wall_s", "trigger_ms", "jobs", "stages", "tasks")}
        out[f"{arm}_hashes"] = (rec["table_hash"], rec["anom_hash"])
    assert out["old_hashes"] == out["new_hashes"], out
    copy_files(src, in_dir, sorted(os.listdir(src))[1:])
    for arm in ("old", "new"):
        rec = run_arm(spark, counter, arm, in_dir, f"{root}/large-{arm}")
        out[f"{arm}_restart"] = {k: rec[k] for k in ("wall_s", "trigger_ms", "jobs")}
        out[f"{arm}_hashes"] = (rec["table_hash"], rec["anom_hash"])
    assert out["old_hashes"] == out["new_hashes"], out
    out["hashes_equal"] = True
    del out["old_hashes"], out["new_hashes"]
    return out


def long_call(spark, root: str) -> dict:
    """One availableNow call over LONG_FILES files of 100 records per
    arm, one file per trigger, fresh checkpoint; `new_unmerged` is the
    new arm with the in-call merge of committed deltas switched off, so
    every prior read lists all the deltas of the call."""
    in_dir = f"{root}/long-in"
    datagen.write_stream_input(in_dir, datagen.stream_records(ROWS * LONG_FILES, 11), ROWS)
    counter = JobCounter(spark)
    out, hashes = {}, {}
    merge_at = pipeline.MERGE_AT
    for arm in ("old", "new", "new_unmerged"):
        pipeline.MERGE_AT = 10**9 if arm == "new_unmerged" else merge_at
        try:
            rec = run_arm(spark, counter, arm.split("_")[0], in_dir, f"{root}/long-{arm}")
        finally:
            pipeline.MERGE_AT = merge_at
        hashes[arm] = (rec["table_hash"], rec["anom_hash"])
        t = rec["trigger_ms"]
        out[arm] = {
            "wall_s": rec["wall_s"],
            "trigger_p50_ms": statistics.median(t),
            "first10_p50_ms": statistics.median(t[:10]),
            "last10_p50_ms": statistics.median(t[-10:]),
            "trigger_ms": t,
            **{k: rec[k] for k in ("jobs", "tasks")},
        }
        shutil.rmtree(f"{root}/long-{arm}", ignore_errors=True)
    assert len(set(hashes.values())) == 1, hashes
    out["hashes_equal"] = True
    return out


def main() -> None:
    out_path = sys.argv[1]
    rounds = int(sys.argv[2]) if len(sys.argv) > 2 else 6
    spark = get_spark("bde-ab-hot-path")
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="ab_hot_path_")
    try:
        pairs = interleaved_pairs(spark, root, rounds)
        out = {
            "protocol": "interleaved same-session A/B, ABBA order; per pair one "
            "unit per arm (5 files x 100 records, one file per trigger, fresh "
            "checkpoint) over the same input; table and anomaly hashes asserted "
            "equal per pair; pair 0 is a dropped warm-up",
            "cores": spark.sparkContext.defaultParallelism,
            "rounds": rounds,
            "pairs": pairs,
            "summary": summarize(pairs),
            "overlap": summarize(
                interleaved_pairs(spark, root, rounds, ("sequential", "new")),
                ("sequential", "new"),
            ),
            "prior_authors": prior_authors(spark, root),
            "large_batch": large_batch(spark, root),
            "long_call": long_call(spark, root),
            "load_avg": list(os.getloadavg()),
        }
    finally:
        spark.stop()
        shutil.rmtree(root, ignore_errors=True)
    with open(out_path, "w") as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps({k: out[k] for k in ("summary", "overlap", "large_batch")}))
    long_summary = {
        arm: {k: v for k, v in rec.items() if k != "trigger_ms"}
        for arm, rec in out["long_call"].items()
        if isinstance(rec, dict)
    }
    print(json.dumps({"long_call": long_summary}))
    print(json.dumps({k: v for k, v in out["prior_authors"].items() if k != "runs"}))


if __name__ == "__main__":
    main()
