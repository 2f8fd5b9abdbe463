"""Record linkage / entity resolution: sorted-neighborhood blocking.

The classic ER candidate generator (Hernandez & Stolfo's merge/purge):
sort the corpus by a discriminating key, take every pair within `w`
positions of each other, verify with an edit-distance (or any) match
predicate. Complements the dedup family's hash-based blocking
(MinHash/SimHash buckets match on SET similarity; the sorted
neighborhood catches near-misses that share a PREFIX but differ late —
typos, truncations, serial numbers).

The primitive underneath — `global_row_number` — is the scale-correct
form of a global rank: a bare `Window.orderBy(...)` (no partitionBy)
funnels the entire table through ONE task, the canonical 100-TB
anti-pattern. Instead: range-repartition on the total order, rank
WITHIN each range partition in parallel, then add per-partition
cumulative offsets (a ≤ n_partitions-row table — the only thing that
ever passes through one task) broadcast back. The result is exactly
the global ROW_NUMBER: range partitions are ordered and disjoint, so
global rank = partition offset + local rank, independent of where the
sampled boundaries fell (the order must be TOTAL — include a unique
id as the last sort column).

Candidate generation never materializes the O(n·w) pairs through a
skewed key: rows bucket by floor(rn/w); the left side emits buckets
{b, b+1} (a gap ≤ w can only cross one boundary), the right side
stays put, so the self-join is equi on a perfectly balanced key and
each qualifying pair is produced exactly once.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from big_data_engineering_project_spark.caches import pin


def global_row_number(
    df: DataFrame,
    order_cols: list[str | Column],
    out: str = "rn",
    n_parts: int | None = None,
) -> DataFrame:
    """Exact global ROW_NUMBER over a TOTAL order without a
    single-partition window. Two passes over the range-shuffled data
    (local rank + per-partition counts); the offsets table is
    ≤ n_parts rows and broadcasts.

    The ranked frame is pinned (`caches.pin` — spills, never
    recomputes) because BOTH passes must observe ONE evaluation of the
    range shuffle: repartitionByRange re-samples its boundaries on
    every evaluation, and when the upstream frame is itself a shuffle
    output its intra-partition row order varies with fetch order
    (SPARK-23207 family), so two independent evaluations can bucket
    rows differently — offsets from one bucketing added to local ranks
    from another yields ranks > n (observed as NTILE emitting k+1
    tiles on sf0.1). With a single materialization the result is the
    exact global row number regardless of where the sampled boundaries
    fell."""
    spark = df.sparkSession
    n = n_parts or spark.sparkContext.defaultParallelism
    parted = df.repartitionByRange(n, *order_cols).withColumn(
        "__pid", F.spark_partition_id()
    )
    local = pin(
        parted.withColumn(
            "__lrn",
            F.row_number().over(Window.partitionBy("__pid").orderBy(*order_cols)),
        )
    )
    # cumulative offsets: a window over ≤ n_parts rows — bounded by
    # construction, the ONLY single-task step in the plan. Derived
    # from the PERSISTED frame so the pid → count mapping is the one
    # the local ranks were computed under.
    counts = local.groupBy("__pid").agg(F.count(F.lit(1)).alias("__c"))
    offsets = counts.withColumn(
        "__off",
        F.coalesce(
            F.sum("__c").over(
                Window.orderBy("__pid").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        ),
    ).select("__pid", "__off")
    return (
        local.join(F.broadcast(offsets), "__pid")
        .withColumn(out, (F.col("__off") + F.col("__lrn")).cast("long"))
        .drop("__pid", "__lrn", "__off")
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    key_col: Column,
    id_col: str,
    window: int,
) -> DataFrame:
    """Candidate pairs within `window` positions of the (key, id)
    sort order. Returns (id_a, id_b, key_a, key_b, gap) with ids
    normalized so id_a < id_b; apply the match predicate downstream
    (e.g. levenshtein ≤ d — see q_sorted_neighborhood_dups)."""
    keyed = df.select(F.col(id_col).alias("__id"), key_col.alias("__key"))
    ranked = global_row_number(keyed, ["__key", "__id"])
    left = ranked.select(
        F.col("__id").alias("_ida"),
        F.col("__key").alias("key_a"),
        F.col("rn").alias("_rna"),
        F.explode(
            F.array(
                F.floor(F.col("rn") / window),
                F.floor(F.col("rn") / window) + 1,
            )
        ).alias("__b"),
    )
    right = ranked.select(
        F.col("__id").alias("_idb"),
        F.col("__key").alias("key_b"),
        F.col("rn").alias("_rnb"),
        F.floor(F.col("rn") / window).alias("__b"),
    )
    return (
        left.join(right, "__b")
        .filter(
            (F.col("_rnb") - F.col("_rna") >= 1)
            & (F.col("_rnb") - F.col("_rna") <= window)
        )
        .select(
            F.least("_ida", "_idb").alias("id_a"),
            F.greatest("_ida", "_idb").alias("id_b"),
            F.when(F.col("_ida") < F.col("_idb"), F.col("key_a"))
            .otherwise(F.col("key_b"))
            .alias("key_a"),
            F.when(F.col("_ida") < F.col("_idb"), F.col("key_b"))
            .otherwise(F.col("key_a"))
            .alias("key_b"),
            (F.col("_rnb") - F.col("_rna")).alias("gap"),
        )
    )


def ntile_scalable(df, order_cols, k: int, out: str = "tile") -> DataFrame:
    """NTILE(k) over a TOTAL order without a single-partition window:
    global_row_number's two-phase rank + SQL NTILE's closed form —
    with base = n div k and rem = n mod k, the FIRST rem tiles hold
    base+1 rows and the rest hold base (front-loaded remainder; the
    "balanced partition" formula floor((rn-1)k/n)+1 spreads the big
    tiles out and diverges, e.g. n=9, k=6 at rn=4). Pinned against
    Spark's own ntile by pytest. `order_cols` must be a total order
    or tile membership is engine-dependent."""
    k = int(k)
    ranked = global_row_number(df, order_cols, out="__rn")
    n_row = ranked.agg(F.count(F.lit(1)).alias("__n"))
    tile = F.expr(
        f"""CASE
  WHEN __n < {k} THEN __rn
  WHEN __rn <= (__n % {k}) * (__n div {k} + 1)
    THEN 1 + (__rn - 1) div (__n div {k} + 1)
  ELSE 1 + (__n % {k})
       + (__rn - 1 - (__n % {k}) * (__n div {k} + 1)) div (__n div {k})
END"""
    )
    return (
        ranked.crossJoin(F.broadcast(n_row))
        .withColumn(out, tile.cast("int"))
        .drop("__rn", "__n")
    )


def fellegi_sunter_pairs(
    df: DataFrame,
    id_col: str,
    block_cols: list[str],
    fields: list[tuple[str, int, int]],
    max_block_size: int | None = None,
) -> DataFrame:
    """Fellegi-Sunter (1969) probabilistic record-linkage scoring over
    blocked candidate pairs: every within-block pair gets a match
    weight = Σ over compared fields of (w_agree if the field values
    agree null-safely else w_disagree) — the log-likelihood-ratio
    ladder of the classic model with the weights FROZEN as integers
    (log(m/u) pre-scaled by the caller), so scores are exact and
    engine-independent. This is the SCORING complement of the
    candidate generators already here (sorted-neighborhood windows,
    hash blocking): those bound which pairs are looked at; this ranks
    them.

    Plan: one groupBy(block) count to apply `max_block_size` (the
    stop-shingle cut's ER twin — a degenerate block key, e.g. a NULL
    city, otherwise contributes |block|² pairs), then a self-equi-join
    on the block key with id_a < id_b, score as a row-local CASE sum.
    Shuffles carry ids + the compared fields only.

    fields: [(column, w_agree, w_disagree)] — compare columns must
    already be derived (bands, prefixes, soundex-ish keys) so the
    join projects no raw payload."""
    cols = [id_col, *block_cols, *[c for c, _, _ in fields]]
    base = df.select(*dict.fromkeys(cols))
    if max_block_size is not None:
        ok = (
            base.groupBy(*block_cols)
            .count()
            .filter(F.col("count") <= int(max_block_size))
            .select(*block_cols)
        )
        base = base.join(ok, block_cols, "left_semi")
    a, b = base.alias("a"), base.alias("b")
    cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    for c in block_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    score = None
    for c, w_agree, w_disagree in fields:
        term = F.when(
            F.col(f"a.{c}").eqNullSafe(F.col(f"b.{c}")),
            F.lit(int(w_agree)),
        ).otherwise(F.lit(int(w_disagree)))
        score = term if score is None else score + term
    return a.join(b, cond).select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        score.cast("long").alias("score"),
    )
