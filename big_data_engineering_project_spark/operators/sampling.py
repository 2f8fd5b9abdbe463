"""Deterministic sampling / split assignment for training-data pipelines.

A 100 TB corpus is never split with `rand()`: the assignment must be
(a) reproducible across runs, engines and retries, (b) stable under
re-partitioning, and (c) content-addressed so the same document lands
in the same split even if the file layout changes. The standard trick
is a content hash mod N — here the same polynomial hash the dedup
layer uses (operators/dedup.py), so a DuckDB oracle reproduces every
assignment bit-for-bit.

Reference parity: the reference has no split logic (its ML slide deck
PPTX slides 13-16 mentions a train/validation split done in pandas/
sklearn); this is the scale-native replacement.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from big_data_engineering_project_spark.operators.dedup import _char_poly_hash

N_BUCKETS = 100


def hash_bucket_col(text: Column, n_buckets: int = N_BUCKETS) -> Column:
    """Content-addressed bucket in [0, n_buckets): poly-hash mod n.
    Pure Catalyst arithmetic — no rand(), no monotonically_increasing_id
    (both are partition-layout-dependent and unreproducible)."""
    return _char_poly_hash(text) % n_buckets


def split_col(
    bucket: Column, train_pct: int = 80, val_pct: int = 10
) -> Column:
    """Map a [0,100) bucket to 'train' / 'val' / 'test'."""
    return (
        F.when(bucket < train_pct, F.lit("train"))
        .when(bucket < train_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("test"))
    )


def with_split(
    df: DataFrame,
    text_col: str,
    train_pct: int = 80,
    val_pct: int = 10,
) -> DataFrame:
    """Stamp a deterministic split column. One narrow projection — no
    shuffle; the split survives any repartition of the input."""
    bucket = hash_bucket_col(F.col(text_col))
    return df.withColumn("split", split_col(bucket, train_pct, val_pct))


def stratified_sample(
    df: DataFrame,
    text_col: str,
    strata_col: str,
    rates: dict[str, float],
    default_rate: float = 1.0,
) -> DataFrame:
    """Deterministic per-stratum downsampling — the data-mixing
    primitive (e.g. keep 100% of books, 30% of common-crawl). A doc is
    kept iff hash_bucket(text) < rate*100, so the kept set is stable
    and nested: lowering a rate keeps a subset of the previous sample.

    Implemented as a single Catalyst filter (rates folded into a CASE
    chain) — no shuffle, no rand(), fully pushdown-friendly.

    Thresholds are INTEGER bucket counts (round(rate·N)): comparing the
    integer bucket against float rate·N would keep an extra bucket
    whenever the product rounds up in binary (0.07·100 == 7.0000…01
    ⇒ 8 buckets instead of 7). Granularity is therefore 1/N_BUCKETS;
    a NONZERO rate below that is clamped UP to one bucket — banker's
    rounding would otherwise quantize e.g. 0.005 to zero buckets and a
    requested 0.5% sample would silently keep nothing.
    """
    bucket = hash_bucket_col(F.col(text_col))

    def n_kept_buckets(rate: float) -> int:
        r = float(rate)
        if r < 0.0 or r > 1.0:
            raise ValueError(f"rate must be in [0, 1], got {r}")
        return max(1, int(round(r * N_BUCKETS))) if r > 0.0 else 0

    threshold: Column = F.lit(n_kept_buckets(default_rate))
    for stratum, rate in sorted(rates.items()):
        threshold = (
            F.when(F.col(strata_col) == stratum, F.lit(n_kept_buckets(rate)))
            .otherwise(threshold)
        )
    return df.filter(bucket < threshold)


def mixing_weights(
    df: DataFrame,
    strata_col: str,
    n_tokens_col: str,
) -> DataFrame:
    """Temperature-scaled data-mixing weights per stratum (the mT5/
    multilingual-sampling scheme): with p_s = token share of stratum s,
    sample with w_s ∝ p_s^α. α = 0.5 here — written as sqrt, which
    (unlike pow) is IEEE-correctly-rounded in every engine, so the
    weights are bit-reproducible cross-engine. The normalizer is a
    decimal-stabilized sum over the (tiny) strata table, so combine
    order can't change the reported doubles.

    Input column `n_tokens_col` is a per-doc token count; the stratum
    reduction is map-side combined — one shuffle of |strata| partial
    rows, never the docs.
    """
    per = df.groupBy(strata_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col(n_tokens_col)).cast("long").alias("n_toks"),
    )
    tot = per.agg(F.sum("n_toks").cast("long").alias("n_total"))
    scored = per.crossJoin(F.broadcast(tot)).withColumn(
        "scaled", F.sqrt(F.col("n_toks") / F.col("n_total").cast("double"))
    )
    norm = scored.agg(
        F.sum(F.col("scaled").cast("decimal(18,12)")).alias("z")
    )
    return (
        scored.crossJoin(F.broadcast(norm))
        .select(
            strata_col,
            "n_docs",
            "n_toks",
            (F.col("scaled") / F.col("z").cast("double")).alias("weight"),
        )
    )


def pack_assignments(
    df: DataFrame,
    id_col: str,
    n_tokens_col: str,
    budget: int,
    shard_cols: tuple[str, ...],
) -> DataFrame:
    """Concat-and-chunk sequence packing (the GPT-style pre-training
    layout): within each shard, documents are concatenated in `id_col`
    order and the token stream is cut every `budget` tokens. Each doc's
    placement is pure integer arithmetic over the exclusive running
    token count:

        start_pack   = floor(cum_before / budget)
        start_offset = cum_before % budget
        end_pack     = floor((cum_before + n_toks - 1) / budget)

    Packing WITHIN shards (not globally) is the scale posture: a global
    running sum is a single-partition window — serial however big the
    cluster — while per-shard prefix sums parallelize across shards and
    are exactly how production packers shard their writers. One window
    shuffle on the shard key, everything else narrow.

    Zero-token docs are dropped here (not left to the caller): for
    n_toks = 0 the placement arithmetic degenerates (end_pack =
    floor((before-1)/budget) < start_pack, and -1 at a shard start) —
    an empty doc occupies no tokens and so has no coherent placement.
    """
    from pyspark.sql import Window

    df = df.filter(F.col(n_tokens_col) > 0)
    w = (
        Window.partitionBy(*shard_cols)
        .orderBy(F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(F.col(n_tokens_col)).over(w).cast("long")
    before = cum - F.col(n_tokens_col)
    return df.select(
        *shard_cols,
        id_col,
        F.col(n_tokens_col).cast("long").alias("n_toks"),
        F.floor(before / budget).cast("long").alias("start_pack"),
        (before % budget).cast("long").alias("start_offset"),
        F.floor(
            (before + F.col(n_tokens_col) - 1) / budget
        ).cast("long").alias("end_pack"),
    )


# --- Weighted (πps) Bernoulli sampling + Horvitz-Thompson ----------------------

# Affine scramble for the sampling hash: the raw poly hash clusters on
# near-identical keys (see the KMV lesson, plans/queries_pipeline.py
# _KMV_A) — sampling needs the same uniformization. Distinct constants
# from the KMV/CM families so the streams are independent.
SAMPLE_A = 617_283_947
SAMPLE_B = 271_828_183
HASH_P = 1_000_000_007


def sample_uniform_hash(key: Column) -> Column:
    """Deterministic 'uniform on [0, P)' draw for a key: affine-
    scrambled poly hash. Content-addressed like every sampling
    primitive here — stable across runs, partitionings and engines."""
    return (_char_poly_hash(key) * SAMPLE_A + SAMPLE_B) % HASH_P


def weighted_sample(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    prob_scale: int,
) -> DataFrame:
    """Poisson / πps sampling: include a row iff its uniform draw
    falls below weight·prob_scale, i.e. with inclusion probability
    p_i = min(1, w_i·prob_scale / P) — all-INTEGER comparison, so the
    selected set is bit-reproducible in any engine. Adds `p_incl`
    (double, the exact inclusion probability) for downstream
    Horvitz-Thompson reweighting: Σ w_i/p_i over the sample unbiasedly
    estimates the population total of any weight-correlated quantity.
    One narrow projection + filter — no shuffle, survives any
    repartition (same contract as with_split)."""
    w = F.col(weight_col).cast("long")
    threshold = F.least(w * F.lit(prob_scale), F.lit(HASH_P))
    u = sample_uniform_hash(F.col(key_col))
    return df.filter(u < threshold).withColumn(
        "p_incl", threshold.cast("double") / F.lit(float(HASH_P))
    )


# --- Mergeable bottom-k reservoir sample --------------------------------------
#
# The distributed answer to "keep a uniform size-k sample per key":
# score every item with a scrambled hash and keep the k SMALLEST
# (score, id) pairs. Because the score is content-addressed, the
# sample is (a) uniform-without-replacement over distinct ids, (b)
# bit-reproducible across runs/partitionings/engines (exact DuckDB
# oracle — classic rand()-reservoirs are not), and (c) EXACTLY
# mergeable: bottom-k of a union = bottom-k of the per-part bottom-ks
# — the same k-smallest-of-union algebra as the KMV sketch
# (operators/sketches.py), carrying sampled IDS instead of bare
# hashes. Day-level sample tables roll up to month/corpus samples by
# re-aggregation, and a streaming ingest can maintain the sample with
# per-batch merges — no rescan, no resample.
#
# Scale shape (the kmv_sketch_agg discipline): two bounded hash
# aggregations, no window, no global sort. Level-1 groups on
# (key, score % n_shards) so one hot key's candidate state spreads
# over n_shards groups of ≤ k structs; level 2 merges ≤ n_shards·k
# survivors per key. Affine constants are distinct from the
# KMV/CM/πps streams so the draws are independent.

RSVR_A = 472_882_049
RSVR_B = 811_235_917


def reservoir_score(id_col: Column) -> Column:
    """Deterministic uniform score on [0, P) for an integer id —
    (id·A + B) mod P. Ids must be non-negative BIGINTs ≪ P·huge (the
    affine map is injective per residue class, so distinct ids tie
    only at multiples of P apart); the (score, id) struct order makes
    even a tie deterministic."""
    return (id_col.cast("long") * F.lit(RSVR_A) + F.lit(RSVR_B)) % F.lit(
        HASH_P
    )


def reservoir_sample_agg(
    df: DataFrame,
    key_cols: list[str],
    id_col: str,
    k: int,
    n_shards: int = 32,
) -> DataFrame:
    """One row per distinct `key_cols` with `reservoir` = ascending
    array of (score, id) structs — the key's k smallest-scored
    distinct ids (fewer when the key has fewer). Duplicated ids are
    deduped shard-locally (same score → same shard → collect_set)."""
    score = reservoir_score(F.col(id_col))
    item = F.struct(
        score.alias("s"), F.col(id_col).cast("long").alias("id")
    )
    lvl1 = df.groupBy(
        *key_cols, F.pmod(score, F.lit(n_shards)).alias("__shard")
    ).agg(F.slice(F.sort_array(F.collect_set(item)), 1, k).alias("__mins"))
    return lvl1.groupBy(*key_cols).agg(
        reservoir_merge_expr(F.collect_list("__mins"), k).alias("reservoir")
    )


def reservoir_merge_expr(sketches: Column, k: int) -> Column:
    """Merge an array of reservoir arrays: the k smallest distinct
    (score, id) structs of the union — usable as a re-aggregation
    expression for day → month → corpus sample rollups."""
    return F.slice(
        F.array_sort(F.array_distinct(F.flatten(sketches))), 1, k
    )


# --- Mergeable weighted priority sample (Duffield-Lund-Thorup 2007) -----------
#
# The weighted sibling of the bottom-k reservoir above: item i draws
# u_i uniform on (0,1) and gets priority u_i / w_i; the k SMALLEST
# priorities form the sample, and with τ = the (k+1)-th smallest
# priority, ŵ_i = max(w_i, 1/τ·(1)) — concretely max(w_i, τ·?) in the
# parametrization below — gives an UNBIASED estimator of any
# subset-sum of weights from just the sample (DLT, JACM 54(6), the
# optimal-variance scheme for this problem). Everything stays
# content-addressed and cross-engine exact:
#
#   u_i = h_i / P  with h_i = 1 + scrambled-hash(id) mod (P-1) ∈ [1, P)
#   priority key = u_i / w_i = h_i / (P·w_i)  — ONE IEEE-754 double
#   division of exact integers, bit-identical in any engine; ties
#   broken by id. ŵ_i = max(w_i, P·w_(k+1)... ) is computed from τ in
#   the same exact-double algebra the DuckDB oracle replicates.
#
# Mergeable by the same k-smallest-of-union algebra as the reservoir
# (keep k+1 entries so τ survives merging: the (k+1)-th smallest of a
# union is computable from per-part (k+1)-smallest sets).

RSVR_W_A = 690_123_821
RSVR_W_B = 333_667_001


def priority_key(id_col: Column, weight_col: Column) -> Column:
    """DLT priority u/w as an exact double: h/(P·w), h ∈ [1, P).
    Weights must be positive integers with P·w < 2^63 (w ≤ ~9e9)."""
    h = (
        (id_col.cast("long") * F.lit(RSVR_W_A) + F.lit(RSVR_W_B))
        % F.lit(HASH_P - 1)
    ) + F.lit(1)
    return h.cast("double") / (
        weight_col.cast("long") * F.lit(HASH_P)
    ).cast("double")


def priority_sample_agg(
    df: DataFrame,
    key_cols: list[str],
    id_col: str,
    weight_col: str,
    k: int,
    n_shards: int = 32,
) -> DataFrame:
    """One row per distinct `key_cols` with `psample` = ascending
    array of (priority, id, w) structs holding the k+1 smallest
    priorities (k sample members + the threshold entry). Rows with
    NULL or non-positive weight are excluded. Two bounded
    aggregations, no window — the reservoir_sample_agg shape."""
    pri = priority_key(F.col(id_col), F.col(weight_col))
    item = F.struct(
        pri.alias("p"),
        F.col(id_col).cast("long").alias("id"),
        F.col(weight_col).cast("long").alias("w"),
    )
    src = df.filter(F.col(weight_col).isNotNull() & (F.col(weight_col) > 0))
    lvl1 = src.groupBy(
        *key_cols,
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_shards)).alias("__shard"),
    ).agg(
        F.slice(F.sort_array(F.collect_set(item)), 1, k + 1).alias("__mins")
    )
    return lvl1.groupBy(*key_cols).agg(
        F.slice(
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("__mins")))),
            1,
            k + 1,
        ).alias("psample")
    )


def priority_sample_estimates(
    sampled: DataFrame, k: int
) -> DataFrame:
    """Explode a priority_sample_agg frame into per-member rows with
    the DLT weight estimate: τ = the (k+1)-th smallest stored
    priority (NULL when the key has ≤ k members — then every member
    is certain and ŵ = w exactly). DLT's threshold is the (k+1)-th
    LARGEST of q = w/u, and stored p = u/w is its reciprocal, so
    ŵ_i = max(w_i, 1/τ) computed as the exact double 1.0/τ — the
    same IEEE ops in the DuckDB oracle. Σ w_est over the sample is
    an unbiased estimate of the key's total weight (pytest pins it
    within sampling error)."""
    keys = [c for c in sampled.columns if c != "psample"]
    tau = F.when(
        F.size("psample") > k, F.element_at("psample", k + 1).getField("p")
    )
    out = sampled.select(
        *keys,
        tau.alias("__tau"),
        F.explode(F.slice("psample", 1, k)).alias("__m"),
    )
    w = F.col("__m.w").cast("double")
    w_est = F.when(F.col("__tau").isNull(), w).otherwise(
        F.greatest(w, F.lit(1.0) / F.col("__tau"))
    )
    return out.select(
        *keys,
        F.col("__m.id").alias("id"),
        F.col("__m.w").alias("w"),
        F.col("__m.p").alias("priority"),
        w_est.alias("w_est"),
    )


def budget_mix_select(
    df: DataFrame,
    strata_col: str,
    id_col: str,
    n_tokens_col: str,
    targets_ppm: dict[str, int],
    budget_tokens: int,
    bucket_size: int = 4096,
) -> DataFrame:
    """Materialize a token-budget training MIX: given target shares per
    stratum (parts-per-million, exact integers) and a total token
    budget, select documents per stratum — in deterministic `id_col`
    order — until that stratum's budget is reached. This is the step
    AFTER `mixing_weights`: weights say what the mix should look like;
    this emits the concrete document manifest a training job reads.
    (The reference has no mixing logic; this is the DoReMi/mT5-style
    mix-assembly stage a 100 TB curation pipeline runs nightly.)

    Semantics (all exact integers, so the DuckDB oracle is bit-equal):
      stratum_budget = budget_tokens * ppm DIV 1_000_000
      a doc is selected iff its EXCLUSIVE running token sum within its
      stratum (id order) < stratum_budget — i.e. take docs until the
      budget is crossed; the crossing doc is included (greedy fill,
      overshoot < one doc). Strata absent from `targets_ppm` get
      budget 0 → excluded.

    Scale shape: the per-stratum running sum is TWO-LEVEL (the
    pack_concat_chunks discipline, keyed): a within-(stratum, id DIV
    bucket_size) exclusive window plus rolling per-bucket offsets over
    the bounded (stratum, bucket) table — a handful of strata never
    funnels the whole corpus into |strata| window partitions. Targets
    ride a broadcast literal map; no join touches doc text.

    Returns the selected manifest: (id, stratum, n_tokens, tok_before,
    stratum_budget) — aggregate it for the per-stratum audit.
    """
    from pyspark.sql import Window

    from big_data_engineering_project_spark.caches import memo

    def build():
        ppm_map = F.create_map(
            *[F.lit(x) for kv in targets_ppm.items() for x in kv]
        )
        w_in = (
            Window.partitionBy("stratum", "__b")
            .orderBy("id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)
        )
        w_off = (
            Window.partitionBy("stratum")
            .orderBy("__b")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)
        )
        return {
            "__b": (F.col(id_col) / bucket_size).cast("long"),
            "__run_in": F.coalesce(F.sum("n_tokens").over(w_in), F.lit(0)),
            "__btot": F.sum("n_tokens"),
            "__off": F.coalesce(F.sum("__btot").over(w_off), F.lit(0)),
            "tok_before": (F.col("__run_in") + F.col("__off")).cast("long"),
            "__ppm": F.coalesce(
                ppm_map[F.col("stratum")].cast("long"), F.lit(0)
            ),
            "stratum_budget": F.expr(
                f"CAST(CAST({int(budget_tokens)} AS BIGINT) * __ppm "
                "DIV 1000000 AS BIGINT)"
            ),
        }

    # expression trees memoized per parameter set (r15 expression-memo
    # pass: ~1.0 s of py4j construction per call otherwise); the
    # withColumn chain is collapsed into staged selects — the
    # optimized plan is unchanged
    e = memo(
        (
            "budget_mix",
            strata_col,
            id_col,
            n_tokens_col,
            tuple(sorted(targets_ppm.items())),
            int(budget_tokens),
            int(bucket_size),
        ),
        build,
    )
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(strata_col).alias("stratum"),
        F.col(n_tokens_col).cast("long").alias("n_tokens"),
        e["__b"].alias("__b"),
    )
    within = base.select("*", e["__run_in"].alias("__run_in"))
    offsets = (
        base.groupBy("stratum", "__b")
        .agg(e["__btot"].alias("__btot"))
        .select("stratum", "__b", e["__off"].alias("__off"))
    )
    return (
        within.join(F.broadcast(offsets), ["stratum", "__b"])
        .select("*", e["tok_before"].alias("tok_before"), e["__ppm"].alias("__ppm"))
        .select("*", e["stratum_budget"].alias("stratum_budget"))
        .filter(F.col("tok_before") < F.col("stratum_budget"))
        .select("id", "stratum", "n_tokens", "tok_before", "stratum_budget")
    )


def padding_waste(
    df: DataFrame,
    id_col: str,
    n_tokens_col: str,
    batch_docs: int,
) -> DataFrame:
    """Padded-batch waste audit — the training-efficiency counterpart
    of sequence packing: when fixed-size batches of `batch_docs`
    documents are padded to the batch max length, how many pad slots
    does each batching strategy burn?

      arrival        batches formed in id order (the naive loader)
      length_sorted  batches formed in (n_tokens, id) order — the
                     standard length-bucketed batching that puts
                     similar-length docs together

    Per batch: pad_slots = n_docs·max_len − Σ len (exact integers);
    per strategy: n_batches, real token count, total pad slots, and
    waste_frac = pad / (real + pad) (the one double division at the
    end). Both strategies see the identical corpus, so the two output
    rows are directly comparable — the measured argument for sorted
    batching (or for `pack_assignments`, which wastes nothing).

    Scale shape: the global rank each strategy needs is the two-phase
    `global_row_number` (range shuffle + broadcast offsets — never a
    single-partition window); everything after it is one map-side
    combined groupBy per strategy over (strategy, batch) keys.
    """
    from big_data_engineering_project_spark.operators.linkage import (
        global_row_number,
    )

    base = df.select(
        F.col(id_col).alias("id"),
        F.col(n_tokens_col).cast("long").alias("n_tokens"),
    )
    out = []
    for name, order in (
        ("arrival", ["id"]),
        ("length_sorted", ["n_tokens", "id"]),
    ):
        ranked = global_row_number(base, order, out="__rn")
        batches = (
            ranked.withColumn(
                "__batch", F.expr(f"(__rn - 1) DIV {int(batch_docs)}")
            )
            .groupBy("__batch")
            .agg(
                F.count(F.lit(1)).alias("__n"),
                F.max("n_tokens").alias("__mx"),
                F.sum("n_tokens").alias("__sum"),
            )
        )
        out.append(
            batches.agg(
                F.lit(name).alias("strategy"),
                F.count(F.lit(1)).cast("long").alias("n_batches"),
                F.sum("__sum").cast("long").alias("real_tokens"),
                F.sum(F.col("__n") * F.col("__mx") - F.col("__sum"))
                .cast("long")
                .alias("pad_slots"),
            )
        )
    res = out[0].unionByName(out[1])
    return res.select(
        "strategy",
        "n_batches",
        "real_tokens",
        "pad_slots",
        (
            F.col("pad_slots").cast("double")
            / (F.col("real_tokens") + F.col("pad_slots")).cast("double")
        ).alias("waste_frac"),
    )
