"""Streaming SCD Type 2 maintenance — the warehouse CDC family's
speed-layer twin (round-8 verdict task 4).

The batch builder (`operators/cdc.py:scd2_from_changelog`) derives
the full validity history from the complete changelog in one pass.
Production changelogs ARRIVE incrementally — the reference's Kinesis
consumer upserts latest-value-only into DynamoDB per micro-batch
(`S/kinesis_processing_2.py:149-163`); the generalization here
maintains the FULL SCD2 history table per micro-batch via a
foreachBatch MERGE, so the dimension's validity intervals are
queryable while the stream runs.

Per-batch MERGE (`scd2_merge_batch`, pure DataFrame plan):

1. **Replay guard** — drop batch rows with ts ≤ the key's current
   open `effective_from`. Under per-key event-time-monotonic arrival
   (the standard CDC ingest contract; late data needs an upstream
   reorder buffer) this makes the merge IDEMPOTENT under micro-batch
   redelivery: every previously-applied change sits at ts ≤ the open
   version's effective_from, and every previously-seen-but-compacted
   row re-dropped by step 2's compaction.
2. **Compaction against current state** — within the batch, a row is
   a change iff its attr differs (null-safely) from the previous
   batch row for the key, with the key's CURRENT open attr as the
   virtual row-zero — so a batch echoing the current value opens no
   version (same rule as the batch operator's lag-compaction).
3. **Version/interval assembly** — surviving changes take
   consecutive versions continuing from the open version's number;
   each closes its predecessor (`effective_to` = successor's
   `effective_from`), including closing the previously-open version.

State = the history table itself (read-merge-overwrite Parquet here;
Delta/Iceberg MERGE INTO at deployment scale, partition-pruned to
the touched keys). The merge shuffles on `key` once for the batch
windows and joins batch-side keys only — per-batch cost is
O(batch + touched-keys' open rows), never O(history).

Equivalence (checked per-round by tools/streaming_check.py
`scd2_maintenance` and tests/test_streaming.py): folding any
batch-partition of a changelog through scd2_merge_batch yields the
IDENTICAL history table as the batch operator over the union.

Replay contract, shared by every runner in this module. Each runner
drains its json file stream with `_drain` (availableNow: every file,
then stop). The 13 single-state fold runners (SCD2, CM, KMV, agg,
OHLC, target encoding, HLL, KLL, AUC, source gate, vocab, reservoir,
pack) only supply a fold; `_fold_into` skips a batch whose id is at
or below the `_applied_batch` marker stored inside the state
directory, else swaps in fold(state, batch) stamped with the batch's
marker. So a crash after the state swap but before the streaming
checkpoint commits cannot apply that batch twice on restart. The
skip is unconditional: it is also correct for the folds that are
idempotent anyway (SCD2, KMV, HLL, reservoir). The marker is scoped
to the checkpoint lineage (the query id in `<checkpoint>/metadata`):
batch ids restart at 0 under a fresh checkpoint, which is a new
ingest, not a replay, and always applies. Write-then-swap order: the
new state and its marker are written in full to a sibling
`.swap-tmp` directory, then swapped in by two renames
(`_write_state_swap`), so the state and its marker commit together
and no task retry ever reads a half-written table. The
directory-per-batch runners (decontam, IVF append, index delete,
MinHash, pHash, BM25) write each batch to its own
`batch=<lineage>-<id>` directory (`_batch_tag`), which a replay
overwrites, so they need no marker; `run_table_diff_stream` and
`run_mix_stream` write two outputs in a set order and keep their own
batch body, described in their docstrings.
"""

from __future__ import annotations

import os
import re
import shutil
from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

HISTORY_COLS = (
    "effective_from",
    "effective_to",
    "version",
    "is_current",
)


def _read_state(spark: SparkSession, path: str) -> DataFrame | None:
    """The current state table, or None ONLY when it genuinely does
    not exist yet (first micro-batch). Missing-path is detected
    explicitly — a transient IO/permission/corruption error during
    the read RAISES, so the checkpoint retry re-runs the batch against
    intact state instead of silently restarting state from the current
    micro-batch (r8 ADVICE #1). Local-FS paths here; on object
    storage the existence probe is a HEAD on the _SUCCESS marker.
    Also completes a swap interrupted between _write_state_swap's two
    renames, so a crash mid-swap is recoverable, not data loss."""
    bak = path + ".swap-old"
    if not os.path.exists(path):
        if os.path.exists(bak):
            os.rename(bak, path)
        else:
            return None
    return spark.read.parquet(path)


_BATCH_MARKER = "_applied_batch"


def _read_marker(path: str) -> tuple[str, int] | None:
    """(checkpoint, batch_id) of the last micro-batch committed INTO
    this state table, or None if the table predates batch tracking
    (pre-seeded snapshots, first batch). The marker lives INSIDE the
    swapped directory — Spark's parquet reader skips `_`-prefixed
    files — so it commits atomically with the state it describes:
    there is no window where the state reflects batch N but the
    marker says N-1."""
    marker = os.path.join(path, _BATCH_MARKER)
    if not os.path.exists(marker):
        return None
    import json as _json

    with open(marker) as fh:
        d = _json.loads(fh.read())
    return (d["ckpt"], int(d["batch_id"]))


def _lineage_id(checkpoint_dir: str) -> str:
    """Identity of the streaming query lineage this batch belongs to:
    the query id Spark persists in `<checkpoint>/metadata` at stream
    start (stable across restarts of the same checkpoint, fresh for a
    new one, and — unlike the path — stable if the checkpoint is
    relocated). foreachBatch runs after the metadata file exists;
    the realpath fallback only covers exotic checkpoint layouts."""
    meta = os.path.join(checkpoint_dir, "metadata")
    if os.path.exists(meta):
        import json as _json

        with open(meta) as fh:
            return str(_json.load(fh)["id"])
    return os.path.realpath(checkpoint_dir)


def _applied_batch_id(path: str, checkpoint_dir: str) -> int | None:
    """The last batch id committed into this state FROM THIS
    checkpoint lineage, else None. Batch ids are checkpoint-scoped
    (a fresh checkpoint restarts at 0 while legitimately carrying new
    data), so the replay guard only compares ids within one lineage —
    a new stream against existing state always applies."""
    m = _read_marker(path)
    if m is None or m[0] != _lineage_id(checkpoint_dir):
        return None
    return m[1]


def _compact_on_stop(
    spark: SparkSession,
    checkpoint_dir: str,
    roots: list[tuple[str, tuple[str, ...]]],
) -> dict:
    """Opt-in auto-compaction at availableNow termination for the
    directory-per-batch maintainers (r12 verdict task 5): availableNow
    commits every processed batch to the checkpoint BEFORE
    awaitTermination returns — the exact window operators/
    compaction.py's clean-stop contract names safe — so folding the
    batch directories into the base here can never turn a replay into
    a duplicate append. Runs AFTER awaitTermination in the runner
    itself, closing the lifecycle loop a user previously had to know
    to drive manually.

    Defense-in-depth: before touching anything it re-derives the
    checkpoint's last committed batch id (the `commits/` files Spark
    writes per batch) and REFUSES loudly if any batch directory of
    THIS lineage carries a higher id — that state means the safe-
    window assumption is broken (a concurrent writer on the same
    artifact, or a clock-skewed copy of our tags), and compacting
    would bake an uncommitted batch into the base, double-applying it
    when the stream replays. Foreign-lineage directories (a previous
    checkpoint's fully-committed history, explicit day-0 tags) are
    absorbed as normal data — their replay protection died with their
    checkpoint. `roots` is [(artifact_root, partition_by)] so the
    cell-partitioned ANN tables keep their pruning layout."""
    from big_data_engineering_project_spark.operators.compaction import (
        compact_batches,
    )
    from big_data_engineering_project_spark.operators.similarity import (
        _fs_list_batches,
    )

    prefix = _batch_tag(checkpoint_dir, "")
    # List commits/ through the Hadoop FS API, like _fs_list_batches:
    # os.listdir only exists for local checkpoints, and on s3a/abfs it
    # would report commits/ absent → last=-1 → a spurious refusal on
    # every committed batch (r13 ADVICE #2).
    from big_data_engineering_project_spark.operators.similarity import (
        _hadoop_fs,
    )

    commits_dir = checkpoint_dir.rstrip("/") + "/commits"
    fs, jpath = _hadoop_fs(spark, commits_dir)
    committed = (
        [
            int(st.getPath().getName())
            for st in fs.listStatus(jpath)
            if st.getPath().getName().isdigit()
        ]
        if fs.exists(jpath)
        else []
    )
    last = max(committed) if committed else -1
    # Refusal scan over ALL roots FIRST, compaction only after every
    # root passes: a per-root guard-then-compact loop would leave
    # roots 1..N-1 compacted when root N refuses, a mixed artifact
    # state the RuntimeError's wording would belie (r13 ADVICE #3).
    for root, _partition_by in roots:
        for tag in _fs_list_batches(spark, root):
            if not tag.startswith(prefix):
                continue
            suffix = tag[len(prefix) :]
            if suffix.isdigit() and int(suffix) > last:
                raise RuntimeError(
                    f"compact_on_stop: {root} holds batch={tag} beyond "
                    f"the checkpoint's last committed batch ({last}) — "
                    "refusing to compact an uncommitted batch into the "
                    "base (it would double-apply on replay). Another "
                    "writer is racing this artifact; quiesce it and "
                    "compact manually. No root was compacted."
                )
    stats: dict = {}
    for root, partition_by in roots:
        stats[root] = compact_batches(
            spark, root, partition_by=tuple(partition_by)
        )
    return stats


def _write_state_tmp(
    merged: DataFrame, path: str, marker: tuple[str, int] | None
) -> str:
    """Materialize `merged` into the sibling `.swap-tmp` dir (plus
    the (checkpoint lineage, batch_id) marker, if any) WITHOUT
    swapping it in — lineage still reads the intact current table.
    Returns the tmp path for _swap_in."""
    tmp = path + ".swap-tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    merged.write.mode("overwrite").parquet(tmp)
    if marker is not None:
        import json as _json

        with open(os.path.join(tmp, _BATCH_MARKER), "w") as fh:
            fh.write(_json.dumps({"ckpt": marker[0], "batch_id": marker[1]}))
    return tmp


def _swap_in(path: str) -> None:
    """Promote the fully-written `.swap-tmp` dir to `path` via two
    renames; a crash between them leaves `.swap-old`, which
    _read_state restores."""
    tmp = path + ".swap-tmp"
    bak = path + ".swap-old"
    shutil.rmtree(bak, ignore_errors=True)
    if os.path.exists(path):
        os.rename(path, bak)
    os.rename(tmp, path)
    shutil.rmtree(bak, ignore_errors=True)


def _write_state_swap(
    merged: DataFrame, path: str, marker: tuple[str, int] | None
) -> None:
    """Replace the state table with `merged` WITHOUT overwriting the
    files its own lineage reads: the new table fully materializes
    into a sibling temp dir first (any task retry / lost-cached-block
    recomputation still reads the intact current table), then swaps
    in via two directory renames (r8 ADVICE #2 — persist()+count()
    before an in-place overwrite still recomputes from already-
    deleted files if cached blocks drop). A crash between the renames
    leaves `.swap-old`, which _read_state restores. Delta/Iceberg
    MERGE INTO is the deployment-scale form of this whole dance.
    The (checkpoint lineage, batch_id) marker rides inside the swapped
    dir (module docstring, replay contract)."""
    _write_state_tmp(merged, path, marker)
    _swap_in(path)


def _drain(
    spark: SparkSession,
    schema: str | StructType,
    input_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int,
    process_batch: Callable[[DataFrame, int], None],
) -> None:
    """Run `process_batch` over every file under `input_dir` as an
    availableNow json file stream and return once every batch is
    committed to `checkpoint_dir`."""
    (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(input_dir)
        .writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def _fold_into(
    state_path: str,
    checkpoint_dir: str,
    fold: Callable[[DataFrame | None, DataFrame], DataFrame],
) -> Callable[[DataFrame, int], None]:
    """The batch body of a single-state fold runner: skip a replayed
    batch, else swap in fold(current state or None, batch) with the
    batch's marker (module docstring, replay contract)."""

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        last = _applied_batch_id(state_path, checkpoint_dir)
        if last is not None and batch_id <= last:
            return
        existing = _read_state(batch_df.sparkSession, state_path)
        _write_state_swap(
            fold(existing, batch_df),
            state_path,
            (_lineage_id(checkpoint_dir), batch_id),
        )

    return process_batch


def _merge_by(
    existing: DataFrame | None,
    part: DataFrame,
    keys: Sequence[str],
    *aggs: Column,
) -> DataFrame:
    """The batch's partial state alone for the first batch, else
    `aggs` over (state ∪ partial) grouped by `keys` — the merge step
    of every mergeable-state fold."""
    if existing is None:
        return part
    return existing.unionByName(part).groupBy(*keys).agg(*aggs)


def _batch_tag(checkpoint_dir: str, batch_id: int | str) -> str:
    """`<lineage>-<batch_id>`: the `batch=` directory tag of a
    directory-per-batch runner. The lineage id is stripped to
    [A-Za-z0-9] because the tag becomes a directory name; resolve it
    inside the batch body, once the checkpoint metadata exists.
    `batch_id=""` gives the prefix every tag of the lineage shares."""
    lineage = re.sub(r"[^A-Za-z0-9]", "", _lineage_id(checkpoint_dir))
    return f"{lineage}-{batch_id}"


def _read_prior(
    spark: SparkSession, root: str, tag: str
) -> DataFrame | None:
    """Every batch directory under `root` except the batch's own `tag`
    (a replay must not probe itself), or None before the first batch
    lands."""
    if not os.path.exists(root):
        return None
    return (
        spark.read.parquet(root)
        .filter(F.col("batch") != tag)
        .drop("batch")
    )


def scd2_merge_batch(
    history: DataFrame | None,
    batch: DataFrame,
    key: str,
    ts_col: str,
    attr: str,
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """MERGE one changelog micro-batch into an SCD2 history table.

    `history` is the current table (or None for the first batch) with
    columns (key, attr, effective_from, effective_to, version,
    is_current). Returns the updated history. Pure plan — the caller
    materializes/writes (foreachBatch does read-merge-overwrite).
    """
    order: list[Column] = [F.col(ts_col)] + [F.col(c) for c in tiebreak]
    w = Window.partitionBy(key).orderBy(*order)

    if history is None:
        from big_data_engineering_project_spark.operators.cdc import (
            scd2_from_changelog,
        )

        return scd2_from_changelog(
            batch, key=key, ts_col=ts_col, attr=attr, tiebreak=tiebreak
        )

    open_v = history.filter(F.col("is_current")).select(
        F.col(key),
        F.col(attr).alias("__cur_attr"),
        F.col("version").alias("__cur_version"),
        F.col("effective_from").alias("__cur_from"),
    )
    closed_v = history.filter(~F.col("is_current"))

    b = (
        batch.select(key, ts_col, *tiebreak, attr)
        .join(open_v, key, "left")
        # replay guard: anything at or before the open version's
        # change time was already applied (or compacted) — see
        # module docstring for the idempotency argument
        .filter(
            F.col("__cur_from").isNull()
            | (F.col(ts_col) > F.col("__cur_from"))
        )
        .withColumn("__prev_in_batch", F.lag(attr).over(w))
        .withColumn("__rn", F.row_number().over(w))
    )
    # change iff attr differs from the effective predecessor: the
    # previous batch row, or the CURRENT open attr for the first
    # batch row of the key (null-safe on both arms; a key with no
    # history at all always opens at its first row)
    prev_eff = F.when(
        F.col("__rn") == 1, F.col("__cur_attr")
    ).otherwise(F.col("__prev_in_batch"))
    is_new_key_first = (F.col("__rn") == 1) & F.col(
        "__cur_version"
    ).isNull()
    changes = b.filter(
        is_new_key_first | ~prev_eff.eqNullSafe(F.col(attr))
    )

    wc = Window.partitionBy(key).orderBy(*order)
    new_versions = (
        changes.withColumn(
            "version",
            (
                F.coalesce(F.col("__cur_version"), F.lit(0))
                + F.row_number().over(wc)
            ).cast("int"),
        )
        .withColumn("effective_to", F.lead(ts_col).over(wc))
        .select(
            F.col(key),
            F.col(attr),
            F.col(ts_col).alias("effective_from"),
            "effective_to",
            "version",
            F.col("effective_to").isNull().alias("is_current"),
        )
    )

    # close the previously-open version of every key that changed
    first_change = changes.groupBy(key).agg(
        F.min(F.struct(*order)).getField(ts_col).alias("__close_ts")
    )
    open_updated = (
        history.filter(F.col("is_current"))
        .join(first_change, key, "left")
        .withColumn(
            "effective_to",
            F.coalesce(F.col("effective_to"), F.col("__close_ts")),
        )
        .withColumn("is_current", F.col("__close_ts").isNull())
        .drop("__close_ts")
    )
    return closed_v.unionByName(open_updated).unionByName(new_versions)


CHANGELOG_STREAM_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("event_type", StringType()),
    ]
)


def run_scd2_stream(
    spark: SparkSession,
    input_dir: str,
    history_path: str,
    checkpoint_dir: str,
    key: str = "user_id",
    ts_col: str = "ts",
    attr: str = "event_type",
    tiebreak: Sequence[str] = ("event_id",),
    max_files_per_trigger: int = 1,
) -> None:
    """Maintain an SCD2 history Parquet table from a micro-batched
    changelog file stream (AvailableNow: drain then stop — T1/T3
    bounded-run semantics). Each micro-batch runs scd2_merge_batch
    against the stored table and overwrites it (read-merge-overwrite,
    the operators/upsert.py pattern; MERGE INTO on a transactional
    format at deployment scale)."""

    def fold(history: DataFrame | None, batch_df: DataFrame) -> DataFrame:
        return scd2_merge_batch(history, batch_df, key, ts_col, attr, tiebreak)

    _drain(
        spark, CHANGELOG_STREAM_SCHEMA, input_dir, checkpoint_dir,
        max_files_per_trigger, _fold_into(history_path, checkpoint_dir, fold),
    )


def run_cm_sketch_stream(
    spark: SparkSession,
    input_dir: str,
    counters_path: str,
    checkpoint_dir: str,
    schema: str,
    hash_expr: str,
    max_files_per_trigger: int = 1,
) -> None:
    """Maintain count-min counters over a micro-batched stream by
    per-batch linear-sketch MERGE: CM is a linear sketch, so
    counters(union of batches) = counter-wise SUM of per-batch
    counters — the streaming maintenance is plain integer addition
    per (seed, bucket), exactly the algebra the batch operator's
    pre-aggregated weight path already exposes
    (operators/sketches.py:cm_counters). The stored table is d·w
    rows REGARDLESS of stream volume — constant-size state, the
    whole point of sketch-backed serving (reference anchor: the
    driver-held exact counters of S/kinesis_processing_2.py:42-43,
    made bounded). Exact stream ≡ batch equality is checked per
    round (tools/streaming_check.py `cm_sketch_merge`)."""
    from big_data_engineering_project_spark.operators.sketches import (
        cm_counters,
    )

    def fold(existing: DataFrame | None, batch_df: DataFrame) -> DataFrame:
        part = cm_counters(batch_df.selectExpr(f"{hash_expr} AS __h"), "__h")
        return _merge_by(
            existing, part, ("seed", "bucket"), F.sum("cnt").alias("cnt")
        )

    _drain(
        spark, schema, input_dir, checkpoint_dir,
        max_files_per_trigger, _fold_into(counters_path, checkpoint_dir, fold),
    )


def run_kmv_stream(
    spark: SparkSession,
    input_dir: str,
    sketch_path: str,
    checkpoint_dir: str,
    schema: str,
    key_cols: list[str],
    hash_expr: str,
    k: int = 64,
    n_shards: int = 32,
    max_files_per_trigger: int = 1,
) -> None:
    """Maintain per-key KMV distinct-count sketches over a
    micro-batched stream by per-batch sketch MERGE: KMV composes by
    k-smallest-of-union (operators/sketches.py module doc), so
    sketch(union of batches) = merge of per-batch sketches — the
    streaming maintenance is the SAME kmv_merge_expr the batch
    day→month rollup uses, and stream ≡ batch is EXACT array
    equality, not estimate tolerance. Stored state is one ≤ k-long
    array per key regardless of stream volume — the third
    constant-state sketch twin beside CM counters and OHLC partials.
    Reference anchor: the bounded-memory engine-side form of the
    reference's driver-held distinct tracking
    (S/kinesis_processing_2.py:42-43). Checked per round
    (tools/streaming_check.py `kmv_sketch_merge`)."""
    from big_data_engineering_project_spark.operators.sketches import (
        kmv_merge_expr,
        kmv_sketch_agg,
    )

    def fold(existing: DataFrame | None, batch_df: DataFrame) -> DataFrame:
        part = kmv_sketch_agg(
            batch_df.selectExpr(*key_cols, f"{hash_expr} AS __h"),
            key_cols,
            "__h",
            k=k,
            n_shards=n_shards,
        )
        return _merge_by(
            existing,
            part,
            key_cols,
            kmv_merge_expr(F.collect_list("kmv_sketch"), k).alias(
                "kmv_sketch"
            ),
        )

    _drain(
        spark, schema, input_dir, checkpoint_dir,
        max_files_per_trigger, _fold_into(sketch_path, checkpoint_dir, fold),
    )


def run_agg_maintenance_stream(
    spark: SparkSession,
    input_dir: str,
    state_path: str,
    checkpoint_dir: str,
    schema: str,
    keys: list[str],
    value_expr: str,
    max_files_per_trigger: int = 1,
) -> None:
    """Maintain a generic grouped aggregate over a micro-batched
    stream by folding per-batch sufficient-statistic states with
    operators/ivm.py's agg_merge — the generic-groupBy twin of the
    CM / KMV / OHLC maintenance runners: (n, Σ, Σ², min, max) is a
    commutative monoid, so the stored state after any batch sequence
    is bit-identical to one batch agg over the union (checked per
    round: tools/streaming_check.py `agg_maintenance`). State is one
    row per key regardless of stream volume; the serving read is
    agg_finish over the state table."""
    from big_data_engineering_project_spark.operators.ivm import (
        agg_merge,
        agg_state,
    )

    def fold(existing: DataFrame | None, batch_df: DataFrame) -> DataFrame:
        part = agg_state(
            batch_df.selectExpr(*keys, f"{value_expr} AS __v"), keys, "__v"
        )
        return part if existing is None else agg_merge(existing, part, keys)

    _drain(
        spark, schema, input_dir, checkpoint_dir,
        max_files_per_trigger, _fold_into(state_path, checkpoint_dir, fold),
    )


def ohlc_partial(
    df: DataFrame,
    key: str,
    time_col: str,
    value_col: str,
    id_col: str,
    bucket: str = "day",
) -> DataFrame:
    """Mergeable OHLC partial state per (key, bucket): the argmin /
    argmax CANDIDATE STRUCTS (not the finished open/close values) plus
    high/low/volume — the exact partial-aggregation state
    `operators/temporal.py:ohlc_resample` keeps per task, lifted to a
    persistable table so micro-batches can merge it."""
    b = F.date_trunc(bucket, F.col(time_col))
    o = F.struct(
        F.col(time_col).alias("t"),
        F.col(id_col).alias("i"),
        F.col(value_col).alias("v"),
    )
    return (
        df.select(
            F.col(key).alias(key),
            b.alias("bucket_ts"),
            o.alias("__o"),
            F.col(value_col).alias("__v"),
        )
        .groupBy(key, "bucket_ts")
        .agg(
            F.min("__o").alias("open_s"),
            F.max("__v").alias("high"),
            F.min("__v").alias("low"),
            F.max("__o").alias("close_s"),
            F.count(F.lit(1)).cast("long").alias("volume"),
        )
    )


def ohlc_merge(state: DataFrame, batch_partial: DataFrame, key: str) -> DataFrame:
    """Merge two OHLC partial-state tables: lexicographic struct min/max
    re-selects the global argmin/argmax candidate (unique id per row
    makes the winner engine- and order-independent); volume adds.
    Associative + commutative, so ANY micro-batch partition of the
    input folds to the identical state."""
    return (
        state.unionByName(batch_partial)
        .groupBy(key, "bucket_ts")
        .agg(
            F.min("open_s").alias("open_s"),
            F.max("high").alias("high"),
            F.min("low").alias("low"),
            F.max("close_s").alias("close_s"),
            F.sum("volume").cast("long").alias("volume"),
        )
    )


def ohlc_finish(state: DataFrame, key: str) -> DataFrame:
    """Finished bars from partial state — identical schema/values to
    the batch `ohlc_resample` over the union of all records."""
    return state.select(
        key,
        "bucket_ts",
        F.col("open_s").getField("v").alias("open"),
        "high",
        "low",
        F.col("close_s").getField("v").alias("close"),
        "volume",
    )


def run_ohlc_stream(
    spark: SparkSession,
    input_dir: str,
    state_path: str,
    checkpoint_dir: str,
    schema: str,
    key: str,
    time_col: str,
    value_col: str,
    id_col: str,
    bucket: str = "day",
    max_files_per_trigger: int = 1,
) -> None:
    """Maintain OHLC bars over a micro-batched stream by per-batch
    partial-state MERGE — the speed-layer twin of
    `operators/temporal.py:ohlc_resample`, same shape as the CM and
    SCD2 maintenance above: state is one row per OPEN (key, bucket)
    group regardless of stream volume, each micro-batch costs
    O(batch + touched groups). The argmin/argmax candidates ride in
    the state as structs, so merge order can never change open/close
    (the property the batch operator gets from partial aggregation,
    made durable). Stream ≡ batch equality is checked per round
    (tools/streaming_check.py `ohlc_bars`).

    At deployment scale the overwrite becomes a Delta/Iceberg MERGE
    partition-pruned to the touched (key, bucket) cells — closed
    buckets (older than the watermark) stop being touched and can be
    compacted out to the serving table."""

    def fold(existing: DataFrame | None, batch_df: DataFrame) -> DataFrame:
        part = ohlc_partial(batch_df, key, time_col, value_col, id_col, bucket)
        return part if existing is None else ohlc_merge(existing, part, key)

    _drain(
        spark, schema, input_dir, checkpoint_dir,
        max_files_per_trigger, _fold_into(state_path, checkpoint_dir, fold),
    )


def run_target_encoding_stream(
    spark: SparkSession,
    input_dir: str,
    stats_path: str,
    checkpoint_dir: str,
    schema: str,
    category_col: str,
    target_col: str,
    fold_key: str,
    n_folds: int = 4,
    max_files_per_trigger: int = 1,
) -> None:
    """Maintain the OOF target-encoding sufficient-statistics frame
    over a micro-batched stream: per-batch (category, fold, n, Σ)
    partials fold into the stored state by exact decimal addition
    (operators/features.oof_merge) — the same mergeable-sufficient-
    statistics discipline as run_agg_maintenance_stream, specialized
    to the feature-engineering table. State is BOUNDED at #categories
    × n_folds rows regardless of stream volume; encodings are served
    by features.oof_finish over the state, so the served feature table
    after N batches is bit-identical to the batch encoder over the
    union (checked per round: `target_encoding` in
    tools/streaming_check.py). Decimal sums are associative, so
    batch-boundary placement cannot change any served double."""
    from big_data_engineering_project_spark.operators.features import (
        oof_merge,
        oof_stats,
    )

    def fold(existing: DataFrame | None, batch_df: DataFrame) -> DataFrame:
        part = oof_stats(batch_df, category_col, target_col, fold_key, n_folds)
        return part if existing is None else oof_merge(existing, part)

    _drain(
        spark, schema, input_dir, checkpoint_dir,
        max_files_per_trigger, _fold_into(stats_path, checkpoint_dir, fold),
    )


def run_table_diff_stream(
    spark: SparkSession,
    input_dir: str,
    snapshot_path: str,
    digests_path: str,
    checkpoint_dir: str,
    schema: str,
    key: str,
    compare_cols: Sequence[str],
    ts_col: str,
    tiebreak: Sequence[str] = (),
    op_col: str = "op",
    max_files_per_trigger: int = 1,
) -> None:
    """Continuous snapshot reconciliation — the streaming twin of
    `operators/cdc.py:table_diff_incremental` (r8 verdict task 6,
    completing the CDC family's speed layer beside scd2_maintenance).

    Scenario: a REPLICA table (`snapshot_path`) drifts away from a
    reference snapshot as keyed upserts/deletes stream in; the
    Merkle-bucket digest index (`digests_path`) must stay current so
    the periodic reference-vs-replica diff runs at level-1 cost (zero
    table scans when both sides' indexes are persisted — the
    `new_digests` parameter of table_diff_incremental).

    Per micro-batch (foreachBatch, AvailableNow bounded-run):

    1. Collapse the batch to its LATEST row per key (event-time +
       tiebreak order — the same per-key-monotonic CDC contract as
       scd2_merge_batch).
    2. XOR-delta the digest index: bucket digests are bit_xor-linear
       over row multisets, so replacing key k's row XORs OUT the old
       row digest and XORs IN the new one — touched buckets only,
       never a rescan of the replica (bucket counts adjust by the
       batch's net insert/delete balance). An upsert echoing the
       current row XORs to zero: invisible, exactly like the batch
       index rebuilt from scratch.
    3. MERGE the replica: batch keys replace/delete their rows
       (broadcast-semi on batch keys; the snapshot's unchanged rows
       never shuffle).

    Both tables persist via the same atomic swap as the other
    runners, and the PAIR commits consistently (r9 ADVICE #1): both
    new tables fully materialize into their tmp dirs BEFORE either
    swaps (so neither lineage ever reads a half-updated peer), each
    swap stamps the batch id inside the swapped dir, and on entry the
    two markers are compared — a crash between the pair's two renames
    leaves them disagreeing, in which case the digest index (a pure
    derivation) is REBUILT from the replica (the source of truth)
    before any batch applies. The replica swaps first, so after
    recovery the already-applied batch is also skipped by the
    batch-id guard instead of re-XORed against the wrong base.
    State size: replica rows + ≤4096 digest rows — independent of
    stream volume. Stream ≡ batch equality (the maintained index vs
    `bucket_digests` of the final replica, AND the served diff vs
    `table_diff` of the full snapshots) is checked per round
    (tools/streaming_check.py `table_diff_maintenance`).

    `op_col`: 'D' rows are tombstones (key leaves the replica);
    anything else is an upsert carrying `compare_cols`.

    Redelivery-idempotent WITHOUT a ts guard: the deltas are computed
    against the CURRENT replica, so re-applying an already-applied
    batch XORs each touched row out and straight back in (net zero,
    counts included) and the replica merge re-replaces rows with
    themselves — state after the retry equals state after the first
    application.
    """
    from big_data_engineering_project_spark.operators.cdc import (
        _row_digest_cols,
        bucket_digests,
    )

    cols = list(compare_cols)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark_b = batch_df.sparkSession
        snap_m = _read_marker(snapshot_path)
        dig_m = _read_marker(digests_path)
        if snap_m != dig_m:
            # Crash landed between the pair's two swaps: the digest
            # index is stale relative to the replica. Rebuild it from
            # the replica (pure derivation) before touching anything,
            # stamping the replica's own marker so the pair agrees.
            snap_now = _read_state(spark_b, snapshot_path)
            if snap_now is None:
                raise ValueError(
                    "run_table_diff_stream: replica missing during "
                    "marker-disagree recovery"
                )
            _write_state_swap(
                bucket_digests(snap_now, key, cols), digests_path, snap_m
            )
        snap_bid = _applied_batch_id(snapshot_path, checkpoint_dir)
        if snap_bid is not None and batch_id <= snap_bid:
            return
        order = [F.col(ts_col).desc()] + [
            F.col(c).desc() for c in tiebreak
        ]
        latest = (
            batch_df.withColumn(
                "__rn",
                F.row_number().over(
                    Window.partitionBy(key).orderBy(*order)
                ),
            )
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        digest, bucket = _row_digest_cols(key, cols)

        snap = _read_state(spark_b, snapshot_path)
        digests = _read_state(spark_b, digests_path)
        if snap is None:
            raise ValueError(
                "run_table_diff_stream maintains a PRE-SEEDED replica "
                "(write the initial snapshot + its bucket_digests "
                "before starting the stream) — an absent table here "
                "is a deployment error, not a first batch"
            )

        batch_keys = latest.select(F.col(key)).distinct()
        # rows the batch replaces or deletes: XOR OUT of their buckets
        old_rows = snap.join(F.broadcast(batch_keys), key, "left_semi")
        out_delta = old_rows.select(
            bucket.alias("bucket"),
            digest.alias("__d"),
            F.lit(-1).cast("long").alias("__n"),
        )
        # surviving upserts: XOR IN
        survivors = latest.filter(F.col(op_col) != F.lit("D")).select(
            key, *cols
        )
        in_delta = survivors.select(
            bucket.alias("bucket"),
            digest.alias("__d"),
            F.lit(1).cast("long").alias("__n"),
        )
        delta = (
            out_delta.unionByName(in_delta)
            .groupBy("bucket")
            .agg(
                F.bit_xor("__d").alias("__dd"),
                F.sum("__n").alias("__dn"),
            )
        )
        merged_digests = (
            digests.join(delta, "bucket", "full_outer")
            .select(
                "bucket",
                F.expr(
                    "coalesce(bucket_digest, CAST(0 AS BIGINT))"
                ).bitwiseXOR(
                    F.coalesce(F.col("__dd"), F.lit(0).cast("long"))
                ).alias("bucket_digest"),
                (
                    F.coalesce(F.col("n_rows"), F.lit(0).cast("long"))
                    + F.coalesce(F.col("__dn"), F.lit(0).cast("long"))
                ).alias("n_rows"),
            )
            .filter(F.col("n_rows") > 0)
        )
        merged_snap = snap.join(
            F.broadcast(batch_keys), key, "left_anti"
        ).unionByName(survivors)

        # Materialize BOTH new tables before either swaps: each
        # lineage reads both current tables, so a tmp write after a
        # peer swap would read half-updated state. Replica swaps
        # first — see the docstring's recovery contract.
        mark = (_lineage_id(checkpoint_dir), batch_id)
        _write_state_tmp(merged_snap, snapshot_path, mark)
        _write_state_tmp(merged_digests, digests_path, mark)
        _swap_in(snapshot_path)
        _swap_in(digests_path)

    _drain(
        spark, schema, input_dir, checkpoint_dir,
        max_files_per_trigger, process_batch,
    )


def run_hll_stream(
    spark: SparkSession,
    input_dir: str,
    sketch_path: str,
    checkpoint_dir: str,
    schema: str,
    key_cols: list[str],
    item_expr: str,
    lgk: int = 14,
    max_files_per_trigger: int = 1,
) -> None:
    """Maintain per-key HLL distinct-count sketches over a
    micro-batched stream by per-batch sketch UNION — the HLL member
    of the mergeable-sketch maintenance family (r9 verdict task 3;
    CM/KMV/reservoir/OHLC/IVM/OOF twins already exist): HLL registers
    compose by element-wise MAX, so sketch(union of batches) = union
    of per-batch sketches, and union at EQUAL lgK is lossless — the
    served estimate after any batch partition equals the batch
    hll_sketch_agg over the full input exactly (the same identity
    q_hll_daily_merge's pytest pins for the daily rollup). State is
    one ≤ 2^lgk-register binary per key regardless of stream volume.
    Serving read: hll_sketch_estimate over the state table. Checked
    per round (tools/streaming_check.py `hll_maintenance`)."""

    def fold(existing: DataFrame | None, batch_df: DataFrame) -> DataFrame:
        part = (
            batch_df.selectExpr(*key_cols, f"{item_expr} AS __item")
            .groupBy(*key_cols)
            .agg(F.hll_sketch_agg("__item", F.lit(lgk)).alias("hll"))
        )
        return _merge_by(
            existing, part, key_cols, F.hll_union_agg("hll").alias("hll")
        )

    _drain(
        spark, schema, input_dir, checkpoint_dir,
        max_files_per_trigger, _fold_into(sketch_path, checkpoint_dir, fold),
    )


def run_kll_stream(
    spark: SparkSession,
    input_dir: str,
    state_path: str,
    checkpoint_dir: str,
    schema: str,
    value_expr: str,
    n_shards: int = 32,
    shard_expr: str | None = None,
    max_files_per_trigger: int = 1,
) -> None:
    """Maintain the KLL quantile summary's BUILD STATE over a
    micro-batched stream (r9 verdict task 3, the 19th stream≡batch
    twin): the state is the weighted-distinct value table
    (shard, __v, __w) — exactly what the batch kll_summary pre-
    collapses to since r10 — maintained by plain integer count
    addition per batch. Addition over (shard, value) cells is
    order-insensitive, so state(union of batches) = one groupBy count
    over the union, EXACT hash equality; the served summary/quantiles
    are then kll_summary_from_weighted → kll_merge_all →
    kll_quantiles, a deterministic pure function of that state — so
    the whole served read is hash-equal to the batch pipeline too.

    State size is O(distinct values), not O(rows) — the right shape
    for the latency/price/score columns quantile summaries serve; a
    genuinely high-cardinality value column should quantize inside
    `value_expr` (e.g. `CAST(v * 100 AS LONG)` buckets), the same
    knob the batch operator has. `shard_expr` defaults to hashing
    the value itself (the batch default when id_col is None)."""
    sh = shard_expr if shard_expr else f"xxhash64({value_expr})"

    def fold(existing: DataFrame | None, batch_df: DataFrame) -> DataFrame:
        part = (
            batch_df.selectExpr(
                f"pmod({sh}, {n_shards}) AS shard",
                f"CAST({value_expr} AS LONG) AS __v",
            )
            .where(F.col("__v").isNotNull())
            .groupBy("shard", "__v")
            .agg(F.count(F.lit(1)).alias("__w"))
        )
        return _merge_by(
            existing, part, ("shard", "__v"), F.sum("__w").alias("__w")
        )

    _drain(
        spark, schema, input_dir, checkpoint_dir,
        max_files_per_trigger, _fold_into(state_path, checkpoint_dir, fold),
    )


def run_auc_stream(
    spark: SparkSession,
    input_dir: str,
    state_path: str,
    checkpoint_dir: str,
    schema: str,
    score_expr: str,
    label_expr: str,
    key_cols: list[str] | None = None,
    max_files_per_trigger: int = 1,
) -> None:
    """Maintain EXACT ROC AUC over a micro-batched prediction stream
    — continuous model monitoring as a mergeable-state twin (the AUC
    member of the maintenance family beside CM/KMV/HLL/KLL/OHLC):
    the state is auc_exact's weighted-distinct score table
    (key_cols..., __s, __cnt, __pos) — per distinct score, row count
    and positive count — maintained by plain integer addition per
    batch. Addition over (key, score) cells is order-insensitive, so
    state(union of batches) = one groupBy over the union EXACTLY, and
    the served read (operators/features.py:auc_from_weighted → the
    same two-level midrank machinery the batch path uses) hash-equals
    batch auc_exact over the full stream. State size is O(distinct
    scores per key), not O(predictions) — classifier scores quantize
    naturally (calibrated models emit bounded-precision probabilities;
    a raw-logit column should quantize inside `score_expr`, the same
    knob the KLL runner documents). Checked per round
    (tools/streaming_check.py `auc_maintenance`)."""
    keys = list(key_cols or [])
    pos = (
        f"CASE WHEN ({label_expr}) IS NOT NULL "
        f"AND CAST(({label_expr}) AS BOOLEAN) THEN 1 ELSE 0 END"
    )

    def fold(existing: DataFrame | None, batch_df: DataFrame) -> DataFrame:
        part = (
            batch_df.selectExpr(
                *keys, f"({score_expr}) AS __s", f"{pos} AS __p"
            )
            .groupBy(*keys, "__s")
            .agg(
                F.count(F.lit(1)).cast("long").alias("__cnt"),
                F.sum("__p").cast("long").alias("__pos"),
            )
        )
        return _merge_by(
            existing,
            part,
            (*keys, "__s"),
            F.sum("__cnt").alias("__cnt"),
            F.sum("__pos").alias("__pos"),
        )

    _drain(
        spark, schema, input_dir, checkpoint_dir,
        max_files_per_trigger, _fold_into(state_path, checkpoint_dir, fold),
    )


def run_source_gate_stream(
    spark: SparkSession,
    input_dir: str,
    state_path: str,
    checkpoint_dir: str,
    schema: str,
    id_col: str,
    text_col: str,
    source_col: str,
    max_files_per_trigger: int = 1,
) -> None:
    """Maintain the source/domain quality gate's sufficient
    statistics over a micro-batched document stream — continuous
    curation monitoring (the governance member of the maintenance
    family): state is `source_gate_state`'s (source, fingerprint) →
    (doc count, ladder-quality sum) cell table, maintained by plain
    integer addition per batch; the served read
    (operators/governance.py:source_gate_finish) re-derives
    corpus-wide fp totals FROM THE STATE, so a mirror copy arriving
    many batches after the original still flips both occurrences to
    duplicates — the cross-batch effect per-batch gating
    fundamentally misses, and the reason the fingerprint stays a
    state key. Addition is order-insensitive → state(union of
    batches) = one groupBy over the union EXACTLY, and the served
    verdicts hash-equal batch `source_quality_gate` over the full
    stream. Checked per round
    (tools/streaming_check.py `source_gate_maintenance`)."""
    from big_data_engineering_project_spark.operators.governance import (
        source_gate_state,
    )

    def fold(existing: DataFrame | None, batch_df: DataFrame) -> DataFrame:
        return _merge_by(
            existing,
            source_gate_state(batch_df, id_col, text_col, source_col),
            ("source", "__fp"),
            F.sum("__n").cast("long").alias("__n"),
            F.sum("__sq").cast("long").alias("__sq"),
        )

    _drain(
        spark, schema, input_dir, checkpoint_dir,
        max_files_per_trigger, _fold_into(state_path, checkpoint_dir, fold),
    )


def run_vocab_stream(
    spark: SparkSession,
    input_dir: str,
    state_path: str,
    checkpoint_dir: str,
    schema: str,
    text_expr: str,
    max_files_per_trigger: int = 1,
) -> None:
    """Maintain corpus token statistics — the (term → count) table —
    over a micro-batched document stream by exact count addition:
    tokenizer-planning/drift monitoring as a maintenance twin (the
    vocabulary-coverage curve, served through
    text_analysis.vocab_coverage_from_counts over this state,
    hash-equals the batch computation over the union — same serve
    code, equal states). State is O(vocabulary), the table the batch
    query builds from scratch each run. Checked per round
    (tools/streaming_check.py `vocab_maintenance`)."""

    def fold(existing: DataFrame | None, batch_df: DataFrame) -> DataFrame:
        part = (
            batch_df.selectExpr(f"explode({text_expr}) AS term")
            .groupBy("term")
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
        )
        return _merge_by(
            existing, part, ("term",), F.sum("c").cast("long").alias("c")
        )

    _drain(
        spark, schema, input_dir, checkpoint_dir,
        max_files_per_trigger, _fold_into(state_path, checkpoint_dir, fold),
    )


def run_decontam_stream(
    spark: SparkSession,
    input_dir: str,
    eval_path: str,
    out_path: str,
    checkpoint_dir: str,
    schema: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_files_per_trigger: int = 1,
    compact_on_stop: bool = False,
) -> None:
    """Streaming benchmark decontamination: every micro-batch of
    ingested TRAIN docs is screened against the static EVAL shingle
    set (operators/dedup.py:contamination_report — eval side
    broadcast, the corpus never shuffles) and the per-batch report
    appends as its own `batch=<lineage>-<id>` directory, so a
    flagged doc is known the moment it lands rather than at the next
    full-corpus sweep. Per-doc report rows depend only on (doc,
    frozen eval set), so accumulated per-batch reports ≡ the batch
    report over the union EXACTLY; directory-per-batch makes
    redelivery exactly-once by construction (the IVF/pack-manifest
    discipline — replays overwrite their own directory). Eval-set
    updates are a new out_path, not an in-place edit. Checked per
    round (tools/streaming_check.py `decontam_maintenance`)."""
    from big_data_engineering_project_spark.operators.dedup import (
        contamination_report,
    )

    eval_df = spark.read.parquet(eval_path)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        rep = contamination_report(batch_df, eval_df, id_col, text_col)
        rep.write.mode("overwrite").parquet(
            out_path + f"/batch={_batch_tag(checkpoint_dir, batch_id)}"
        )

    _drain(
        spark, schema, input_dir, checkpoint_dir,
        max_files_per_trigger, process_batch,
    )
    if compact_on_stop:
        _compact_on_stop(spark, checkpoint_dir, [(out_path, ())])


def run_ivf_append_stream(
    spark: SparkSession,
    input_dir: str,
    index_path: str,
    checkpoint_dir: str,
    schema: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_files_per_trigger: int = 1,
    compact_on_stop: bool = False,
) -> None:
    """Maintain the persisted IVF ANN index over a micro-batched
    embedding stream — the speed-layer twin of the batch
    `operators/similarity.py:ivf_index_append` (the r10 persisted-
    index family's 20th stream≡batch check): each micro-batch's
    vectors are assigned against the index's FROZEN centroids and
    written as their own `batch=<lineage>-<id>` directory. Directory-
    per-batch makes redelivery EXACTLY-ONCE by construction — a
    replayed batch overwrites its own directory instead of appending
    duplicates — so no batch-id marker is needed; the lineage id in
    the tag keeps a fresh checkpoint (legitimate re-ingest) from
    colliding with a previous stream's directories. The index must be
    pre-built (build_ivf_index) — a missing centroid table is a
    deployment error, same contract as run_table_diff_stream's
    pre-seeded replica. Probe-all reads of the maintained index equal
    brute force over base ∪ all streamed batches exactly (checked per
    round: tools/streaming_check.py `ivf_index_maintenance`)."""
    from big_data_engineering_project_spark.operators.similarity import (
        ivf_index_append,
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        ivf_index_append(
            batch_df,
            index_path,
            tag=_batch_tag(checkpoint_dir, batch_id),
            id_col=id_col,
            vec_col=vec_col,
        )

    _drain(
        spark, schema, input_dir, checkpoint_dir,
        max_files_per_trigger, process_batch,
    )
    if compact_on_stop:
        _compact_on_stop(
            spark, checkpoint_dir, [(index_path + "/vectors", ("cell",))]
        )


def run_index_delete_stream(
    spark: SparkSession,
    input_dir: str,
    index_path: str,
    checkpoint_dir: str,
    schema: str,
    id_col: str = "vec_id",
    max_files_per_trigger: int = 1,
    compact_on_stop: bool = False,
) -> None:
    """Maintain a persisted ANN index's DELETE TOMBSTONES over a
    micro-batched takedown feed — the speed-layer twin of the batch
    `operators/similarity.py:vector_index_delete`: takedown requests
    (GDPR erasure, contamination strikes) arrive continuously in
    production, and each micro-batch's ids become their own
    `tombstones/batch=<lineage>-<id>` directory. Directory-per-batch
    makes redelivery EXACTLY-ONCE by construction (a replayed batch
    overwrites its own directory — deleting twice is also naturally
    idempotent, but the tag discipline keeps the artifact canonical);
    the lineage id keeps a fresh checkpoint from colliding with a
    previous stream's directories. Every serve anti-joins the live
    tombstone union, so a request takes effect at the NEXT serve with
    no index rewrite; physical removal stays a deliberate
    vector_index_vacuum. `compact_on_stop` folds the accumulated
    tombstone batch dirs into one `batch=base` at availableNow
    termination (tombstones/ is a directory-per-batch artifact like
    any other) with the standard uncommitted-batch refusal."""
    from big_data_engineering_project_spark.operators.similarity import (
        vector_index_delete,
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        vector_index_delete(
            spark,
            index_path,
            batch_df.select(id_col),
            tag=_batch_tag(checkpoint_dir, batch_id),
            id_col=id_col,
        )

    _drain(
        spark, schema, input_dir, checkpoint_dir,
        max_files_per_trigger, process_batch,
    )
    if compact_on_stop:
        _compact_on_stop(
            spark, checkpoint_dir, [(index_path + "/tombstones", ())]
        )


def run_reservoir_stream(
    spark: SparkSession,
    input_dir: str,
    sample_path: str,
    checkpoint_dir: str,
    schema: str,
    key_cols: list[str],
    id_col: str,
    k: int = 32,
    n_shards: int = 32,
    max_files_per_trigger: int = 1,
) -> None:
    """Maintain per-key bounded uniform samples over a micro-batched
    stream by per-batch reservoir MERGE: the content-hash bottom-k
    reservoir (operators/sampling.py:reservoir_sample_agg) composes
    by k-smallest-of-union — the SAME algebra as KMV — so
    sample(union of batches) = merge of per-batch samples EXACTLY
    (struct-array equality, not distribution similarity; redelivered
    ids dedupe by identical (score, id)). State is one ≤ k-long
    struct array per key regardless of stream volume — the
    keep-a-representative-sample-of-everything-ever-seen primitive a
    serving layer wants next to its counters. Checked per round
    (tools/streaming_check.py `reservoir_maintenance`)."""
    from big_data_engineering_project_spark.operators.sampling import (
        reservoir_merge_expr,
        reservoir_sample_agg,
    )

    def fold(existing: DataFrame | None, batch_df: DataFrame) -> DataFrame:
        return _merge_by(
            existing,
            reservoir_sample_agg(
                batch_df, key_cols, id_col, k=k, n_shards=n_shards
            ),
            key_cols,
            reservoir_merge_expr(F.collect_list("reservoir"), k).alias(
                "reservoir"
            ),
        )

    _drain(
        spark, schema, input_dir, checkpoint_dir,
        max_files_per_trigger, _fold_into(sample_path, checkpoint_dir, fold),
    )


def run_pack_stream(
    spark: SparkSession,
    input_dir: str,
    state_path: str,
    checkpoint_dir: str,
    schema: str,
    chunk_tokens: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_files_per_trigger: int = 1,
) -> None:
    """Maintain the concat-and-chunk packing ASSIGNMENT TABLE
    (operators/text_analysis.py:pack_concat_chunks) over a
    micro-batched append-only document stream: each batch's docs get
    tok_offset = (total tokens already assigned) + the batch's own
    exclusive running sum, and append to the state table — the corpus
    is never re-offset, the speed-layer twin of the batch packer
    (checked per round: tools/streaming_check.py `pack_maintenance`).

    Correctness contract: ingest must be ID-MONOTONE across batches
    (every batch's smallest id exceeds the previous batch's largest —
    the natural shape of an append log with assigned ids), because
    concat packing is defined by the id total order; the runner
    raises if a batch violates it rather than silently emitting
    offsets that disagree with the batch path. An empty batch
    appends nothing."""
    from big_data_engineering_project_spark.operators.text_analysis import (
        pack_concat_chunks,
    )

    def fold(existing: DataFrame | None, batch_df: DataFrame) -> DataFrame:
        base_tokens, max_id = 0, None
        if existing is not None:
            row = existing.agg(
                F.max(F.col("tok_offset") + F.col("n_tokens")).alias("t"),
                F.max(id_col).alias("m"),
            ).collect()[0]
            base_tokens, max_id = int(row["t"] or 0), row["m"]
        lo = batch_df.agg(F.min(id_col).alias("lo")).collect()[0]["lo"]
        if None not in (lo, max_id) and lo <= max_id:
            raise ValueError(
                f"pack stream requires id-monotone ingest: batch min "
                f"{id_col}={lo} <= already-packed max {max_id}"
            )
        packed = pack_concat_chunks(
            batch_df, chunk_tokens, id_col, text_col
        )
        shifted = packed.select(
            id_col,
            "n_tokens",
            (F.col("tok_offset") + F.lit(base_tokens)).alias("tok_offset"),
        )
        c = int(chunk_tokens)
        shifted = (
            shifted.withColumn("chunk_first", F.expr(f"tok_offset DIV {c}"))
            .withColumn(
                "chunk_last",
                F.expr(f"(tok_offset + n_tokens - 1) DIV {c}"),
            )
            .withColumn(
                "chunks_spanned",
                (F.col("chunk_last") - F.col("chunk_first") + 1).cast(
                    "long"
                ),
            )
        )
        return shifted if existing is None else existing.unionByName(shifted)

    _drain(
        spark, schema, input_dir, checkpoint_dir,
        max_files_per_trigger, _fold_into(state_path, checkpoint_dir, fold),
    )


def run_minhash_index_stream(
    spark: SparkSession,
    input_dir: str,
    index_path: str,
    checkpoint_dir: str,
    schema: str,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_files_per_trigger: int = 1,
    compact_on_stop: bool = False,
) -> None:
    """Maintain a MinHash-LSH BAND INDEX over a micro-batched document
    stream and emit Jaccard-verified near-dup pairs incrementally —
    the ingest-time dedup loop of a production corpus pipeline (the
    streaming complement of the batch `ngram_jaccard_rs` incremental
    pass): each new batch probes the maintained index for new×corpus
    candidates, generates its own within-batch candidates, verifies
    both with exact Jaccard over hashed shingle sets (the SAME
    `verify_jaccard_pairs` expression as the batch operator, so
    stream ≡ batch down to the division), and appends its band rows +
    shingle sets + verified pairs each as their own
    `batch=<lineage>-<id>` directory. Directory-per-batch makes
    redelivery EXACTLY-ONCE by construction (the run_ivf_append_stream
    discipline — a replayed batch recomputes against `batch != own
    tag` and overwrites itself), so no batch-id marker is needed.

    Contract: document ids are unique across batches (an append log);
    docs with < 3 tokens carry no shingles and are absent from the
    index, matching the batch operator. The union of all pairs/
    directories equals `minhash_lsh_pairs` over the full corpus
    exactly — checked per round (tools/streaming_check.py
    `minhash_index_maintenance`).
    """
    from big_data_engineering_project_spark.operators.dedup import (
        hashed_shingle_table,
        minhash_band_buckets,
        verify_jaccard_pairs,
        with_minhash_signature,
    )

    bands_root = os.path.join(index_path, "bands")
    sh_root = os.path.join(index_path, "shingles")
    pairs_root = os.path.join(index_path, "pairs")

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        sp = batch_df.sparkSession
        tag = _batch_tag(checkpoint_dir, batch_id)
        hashed = hashed_shingle_table(batch_df, id_col, text_col).persist()
        sigs = with_minhash_signature(hashed).select("doc", "sig")
        newb = minhash_band_buckets(sigs).persist()
        within = (
            newb.alias("a")
            .join(
                newb.alias("b"),
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col("a.doc") < F.col("b.doc")),
            )
            .select(
                F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b")
            )
        )
        cands = within
        prior_b = _read_prior(sp, bands_root, tag)
        if prior_b is not None:
            cross = (
                newb.alias("a")
                .join(
                    prior_b.alias("b"),
                    (F.col("a.band") == F.col("b.band"))
                    & (F.col("a.bucket") == F.col("b.bucket")),
                )
                .select(
                    F.least(F.col("a.doc"), F.col("b.doc")).alias("doc_a"),
                    F.greatest(F.col("a.doc"), F.col("b.doc")).alias(
                        "doc_b"
                    ),
                )
            )
            cands = cands.unionByName(cross)
        cands = cands.distinct()
        hv = hashed.select("doc", "hv")
        prior_h = _read_prior(sp, sh_root, tag)
        if prior_h is not None:
            hv = hv.unionByName(prior_h.select("doc", "hv"))
        verified = verify_jaccard_pairs(cands, hv, threshold)
        verified.write.mode("overwrite").parquet(
            os.path.join(pairs_root, f"batch={tag}")
        )
        newb.write.mode("overwrite").parquet(
            os.path.join(bands_root, f"batch={tag}")
        )
        hashed.select("doc", "hv").write.mode("overwrite").parquet(
            os.path.join(sh_root, f"batch={tag}")
        )
        newb.unpersist()
        hashed.unpersist()

    _drain(
        spark, schema, input_dir, checkpoint_dir,
        max_files_per_trigger, process_batch,
    )
    if compact_on_stop:
        _compact_on_stop(
            spark,
            checkpoint_dir,
            [(bands_root, ()), (sh_root, ()), (pairs_root, ())],
        )


def run_phash_index_stream(
    spark: SparkSession,
    input_dir: str,
    index_path: str,
    checkpoint_dir: str,
    schema: str,
    max_hamming: int = 3,
    id_col: str = "media_id",
    hi_col: str = "ahash_hi",
    lo_col: str = "ahash_lo",
    max_files_per_trigger: int = 1,
    compact_on_stop: bool = False,
) -> None:
    """Maintain a perceptual-hash BAND INDEX over a micro-batched
    media-ingest stream and emit Hamming-verified near-dup IMAGE pairs
    incrementally — the cross-modal member of the streamed-dedup
    family (run_minhash_index_stream's discipline applied to
    operators/dedup.py:phash_neardup_pairs): each batch's hashes probe
    the maintained band index for new×corpus candidates, generate
    within-batch candidates, verify both with popcount(xor) over the
    two BIGINT hash halves (the SAME phash_band_table layout as the
    batch operator, so stream ≡ batch exactly), and append band rows +
    hashes + verified pairs each as their own `batch=<lineage>-<id>`
    directory — replays overwrite themselves, exactly-once BY
    CONSTRUCTION, no marker. The stream carries (id, hi, lo) 24-byte
    rows: pixel decoding happened at ingest in the Arrow seam
    (multimodal/columns.py:perceptual_hash); blobs never enter the
    stream. Long-running streams compact the three directories with
    operators/compaction.py:compact_batches at clean stops. Contract:
    media ids unique across batches (an append log). Union of pair
    directories ≡ batch `phash_neardup_pairs` over the full corpus —
    checked per round (tools/streaming_check.py
    `phash_index_maintenance`)."""
    from big_data_engineering_project_spark.operators.dedup import (
        phash_band_table,
    )

    bands_root = os.path.join(index_path, "bands")
    hashes_root = os.path.join(index_path, "hashes")
    pairs_root = os.path.join(index_path, "pairs")

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        sp = batch_df.sparkSession
        tag = _batch_tag(checkpoint_dir, batch_id)
        newb = phash_band_table(
            batch_df, max_hamming, id_col, hi_col, lo_col
        ).persist()
        within = (
            newb.alias("a")
            .join(
                newb.alias("b"),
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.val") == F.col("b.val"))
                & (F.col("a.doc") < F.col("b.doc")),
            )
            .select(
                F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b")
            )
        )
        cands = within
        prior_b = _read_prior(sp, bands_root, tag)
        if prior_b is not None:
            cross = (
                newb.alias("a")
                .join(
                    prior_b.alias("b"),
                    (F.col("a.band") == F.col("b.band"))
                    & (F.col("a.val") == F.col("b.val")),
                )
                .select(
                    F.least(F.col("a.doc"), F.col("b.doc")).alias("id_a"),
                    F.greatest(F.col("a.doc"), F.col("b.doc")).alias(
                        "id_b"
                    ),
                )
            )
            cands = cands.unionByName(cross)
        cands = cands.distinct()
        hv = newb.select("doc", "w1", "w2").distinct()
        prior_h = _read_prior(sp, hashes_root, tag)
        if prior_h is not None:
            hv = hv.unionByName(prior_h.select("doc", "w1", "w2"))
        ha = hv.select(
            F.col("doc").alias("id_a"),
            F.col("w1").alias("__w1a"),
            F.col("w2").alias("__w2a"),
        )
        hb = hv.select(
            F.col("doc").alias("id_b"),
            F.col("w1").alias("__w1b"),
            F.col("w2").alias("__w2b"),
        )
        hamming = (
            F.bit_count(F.col("__w1a").bitwiseXOR(F.col("__w1b")))
            + F.bit_count(F.col("__w2a").bitwiseXOR(F.col("__w2b")))
        ).cast("long")
        verified = (
            cands.join(ha, "id_a")
            .join(hb, "id_b")
            .select("id_a", "id_b", hamming.alias("hamming"))
            .filter(F.col("hamming") <= max_hamming)
        )
        verified.write.mode("overwrite").parquet(
            os.path.join(pairs_root, f"batch={tag}")
        )
        newb.select("doc", "band", "val").write.mode("overwrite").parquet(
            os.path.join(bands_root, f"batch={tag}")
        )
        # the batch's own hashes only — already materialized in newb;
        # semi-joining the (new ∪ prior-corpus) union back to the batch
        # would re-scan every prior batch directory per trigger for the
        # identical rows (r12 review finding)
        newb.select("doc", "w1", "w2").distinct().write.mode(
            "overwrite"
        ).parquet(os.path.join(hashes_root, f"batch={tag}"))
        newb.unpersist()

    _drain(
        spark, schema, input_dir, checkpoint_dir,
        max_files_per_trigger, process_batch,
    )
    if compact_on_stop:
        _compact_on_stop(
            spark,
            checkpoint_dir,
            [(bands_root, ()), (hashes_root, ()), (pairs_root, ())],
        )


def run_bm25_index_stream(
    spark: SparkSession,
    input_dir: str,
    index_path: str,
    checkpoint_dir: str,
    schema: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_files_per_trigger: int = 1,
    compact_on_stop: bool = False,
) -> None:
    """Maintain a lexical search index — posting table (doc, term, tf)
    + doc-length table (doc, dl) — over a micro-batched document
    stream: the ingest loop of a production BM25 search service. Each
    batch's postings and lengths append as their own
    `batch=<lineage>-<id>` directories (the IVF/MinHash-runner
    discipline: replays overwrite themselves, exactly-once BY
    CONSTRUCTION, no marker). Serving goes through
    `operators/text_analysis.py:bm25_from_index`, whose scoring
    expression is SHARED with the batch `bm25_scores` — so index-served
    scores over the maintained index equal batch scores over the union
    bit-for-bit (checked per round: tools/streaming_check.py
    `bm25_index_maintenance`). Contract: doc ids unique across batches
    (an append log)."""
    from big_data_engineering_project_spark.operators.text_analysis import (
        doc_lengths,
        text_postings,
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        tag = _batch_tag(checkpoint_dir, batch_id)
        text_postings(batch_df, id_col, text_col).write.mode(
            "overwrite"
        ).parquet(os.path.join(index_path, "postings", f"batch={tag}"))
        doc_lengths(batch_df, id_col, text_col).write.mode(
            "overwrite"
        ).parquet(os.path.join(index_path, "doclens", f"batch={tag}"))

    _drain(
        spark, schema, input_dir, checkpoint_dir,
        max_files_per_trigger, process_batch,
    )
    if compact_on_stop:
        _compact_on_stop(
            spark,
            checkpoint_dir,
            [
                (os.path.join(index_path, "postings"), ()),
                (os.path.join(index_path, "doclens"), ()),
            ],
        )


def run_mix_stream(
    spark: SparkSession,
    input_dir: str,
    state_path: str,
    manifest_path: str,
    checkpoint_dir: str,
    schema: str,
    targets_ppm: dict[str, int],
    budget_tokens: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    strata_col: str = "lang",
    max_files_per_trigger: int = 1,
    compact_on_stop: bool = False,
) -> None:
    """Maintain the token-budget training-mix MANIFEST
    (operators/sampling.py:budget_mix_select) over a micro-batched
    append-only document stream: per batch, each stratum's docs get
    tok_before = (stratum tokens already seen) + the batch-local
    exclusive running sum, keep those with tok_before <
    budget·ppm DIV 1e6, and append them as the batch's own
    `batch=<lineage>-<id>` manifest directory. The corpus is never
    re-scanned — day-N ingest reads only day N.

    State is the per-stratum LEDGER (stratum, seen_toks, max_id):
    token addition is not redelivery-idempotent, so the ledger rides
    the (checkpoint lineage, batch id) marker; the manifest
    directories overwrite themselves on replay (exactly-once by
    construction). Write order is manifest-then-ledger, so a crash
    between the two replays into identical manifest bytes before the
    ledger advances. Ingest must be ID-MONOTONE across batches (the
    pack-stream contract — greedy prefix selection is order-defined);
    violations raise. Stream ≡ batch checked per round
    (tools/streaming_check.py `mix_maintenance`)."""
    from big_data_engineering_project_spark.operators.dedup import tokens_col

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        sp = batch_df.sparkSession
        last = _applied_batch_id(state_path, checkpoint_dir)
        if last is not None and batch_id <= last:
            return
        tag = _batch_tag(checkpoint_dir, batch_id)
        ledger = _read_state(sp, state_path)
        base_rows = (
            {
                r["stratum"]: (int(r["seen_toks"]), r["max_id"])
                for r in ledger.collect()
            }
            if ledger is not None
            else {}
        )
        lo = batch_df.agg(F.min(id_col).alias("lo")).collect()[0]["lo"]
        max_seen = max(
            (m for _, m in base_rows.values()), default=None
        )
        if max_seen is not None and lo <= max_seen:
            raise ValueError(
                f"mix stream requires id-monotone ingest: batch min "
                f"{id_col}={lo} <= already-ingested max {max_seen}"
            )
        ppm_map = F.create_map(
            *[F.lit(x) for kv in targets_ppm.items() for x in kv]
        )
        base_map = F.create_map(
            *[
                F.lit(x)
                for k, (seen, _m) in base_rows.items()
                for x in (k, seen)
            ]
        ) if base_rows else None
        cur = batch_df.select(
            F.col(id_col).alias("id"),
            F.col(strata_col).alias("stratum"),
            F.size(tokens_col(F.col(text_col))).cast("long").alias(
                "n_tokens"
            ),
        )
        w = (
            Window.partitionBy("stratum")
            .orderBy("id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)
        )
        base_col = (
            F.coalesce(base_map[F.col("stratum")].cast("long"), F.lit(0))
            if base_map is not None
            else F.lit(0).cast("long")
        )
        ppm = F.coalesce(ppm_map[F.col("stratum")].cast("long"), F.lit(0))
        scored = (
            cur.withColumn(
                "tok_before",
                base_col
                + F.coalesce(F.sum("n_tokens").over(w), F.lit(0)),
            )
            .withColumn("__ppm", ppm)
            .withColumn(
                "stratum_budget",
                F.expr(
                    f"CAST(CAST({int(budget_tokens)} AS BIGINT) * __ppm "
                    "DIV 1000000 AS BIGINT)"
                ),
            )
        )
        scored.filter(F.col("tok_before") < F.col("stratum_budget")).select(
            "id", "stratum", "n_tokens", "tok_before", "stratum_budget"
        ).write.mode("overwrite").parquet(
            os.path.join(manifest_path, f"batch={tag}")
        )
        batch_ledger = scored.groupBy("stratum").agg(
            F.sum("n_tokens").cast("long").alias("__bt"),
            F.max("id").alias("__bm"),
        )
        if ledger is not None:
            merged = (
                ledger.join(batch_ledger, "stratum", "full_outer")
                .select(
                    "stratum",
                    (
                        F.coalesce(F.col("seen_toks"), F.lit(0))
                        + F.coalesce(F.col("__bt"), F.lit(0))
                    ).cast("long").alias("seen_toks"),
                    F.greatest(
                        F.col("max_id"), F.col("__bm")
                    ).alias("max_id"),
                )
            )
        else:
            merged = batch_ledger.select(
                "stratum",
                F.col("__bt").alias("seen_toks"),
                F.col("__bm").alias("max_id"),
            )
        _write_state_swap(
            merged, state_path, (_lineage_id(checkpoint_dir), batch_id)
        )

    _drain(
        spark, schema, input_dir, checkpoint_dir,
        max_files_per_trigger, process_batch,
    )
    if compact_on_stop:
        _compact_on_stop(spark, checkpoint_dir, [(manifest_path, ())])
