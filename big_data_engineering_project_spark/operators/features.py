"""ML feature engineering over the fact tables: leakage-free
out-of-fold target encoding.

Target encoding replaces a categorical column with the mean of a
target over that category — but the naive version leaks each row's
own target into its feature. The standard fix is K-fold OOF encoding:
a row in fold f gets the category mean computed over every OTHER
fold, so no row ever sees itself. This is a core training-data
pipeline transform (feature tables for ranking/quality models feeding
an LLM data-curation stack), and its natural Spark shape is tiny:

  ONE map-side-combined groupBy(category, fold) over the fact table
  → a stats frame of (#categories × n_folds) rows; every OOF mean is
  a SUBTRACTION over that frame (total minus own fold), never a
  second scan — the inclusion-exclusion trick that makes K passes
  cost one. The encoding map that comes back out is exactly what a
  production pipeline broadcast-joins onto the fact table; the join
  here carries no broadcast hint so AQE keeps its freedom when a
  category column has vocabulary-scale cardinality.

Determinism (the gate hash-compares doubles): target sums are exact
DECIMAL(18,6) internally — combine-order independent — and each
output is at most one double division over values both engines derive
from the identical decimal (registry.py rules). Smoothing uses an
integer pseudo-count m against the leakage-free GLOBAL prior of the
same fold (also OOF: a fold's prior excludes the fold itself), the
empirical-Bayes form of Micci-Barreca (2001).

The fold is a PORTABLE affine-scrambled hash of a row key (shared
with the oracle SQL via sketches.mg_bucket_sql), never a random() —
folds must be reproducible across engines, runs, and backfills.
Reference anchor: extends the reference's per-record enrichment UDFs
(S/kinesis_processing_2.py:69-101) to model-feature tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from big_data_engineering_project_spark.caches import pin
from big_data_engineering_project_spark.operators.sketches import (
    mg_bucket_sql,
)

DEFAULT_FOLDS = 4
DEFAULT_SMOOTH_M = 100


def target_encode_oof(
    df: DataFrame,
    category_col: str,
    target_col: str,
    fold_key: str,
    n_folds: int = DEFAULT_FOLDS,
    m: int = DEFAULT_SMOOTH_M,
) -> DataFrame:
    """Per-(category, fold) OOF encoding table: `oof_cnt` (rows of the
    category OUTSIDE this fold), `enc` (their mean target), and
    `enc_smoothed` = (oof_sum + m·prior) / (oof_cnt + m) where prior
    is the fold's OOF global mean. Rows whose category+fold has no
    out-of-fold mass (oof_cnt = 0) are dropped — there is nothing
    leak-free to encode them with.

    `fold_key` must be a non-negative integral column (e.g. a user
    id): fold = portable_hash(fold_key) % n_folds, so every row of one
    entity lands in one fold (group-aware splitting — the row-level
    alternative leaks entity-level signal across folds)."""
    return oof_finish(oof_stats(df, category_col, target_col,
                                fold_key, n_folds), m)


def oof_stats(
    df: DataFrame,
    category_col: str,
    target_col: str,
    fold_key: str,
    n_folds: int = DEFAULT_FOLDS,
) -> DataFrame:
    """The bounded sufficient-statistics frame: (category, fold, n_f,
    s_f) with exact decimal target sums. MERGEABLE by (sum, sum) per
    (category, fold) — two days' stats frames add; a streaming
    maintainer folds per-batch frames by the same addition
    (streaming/scd2.run_target_encoding_stream). s_f is pinned at
    DECIMAL(30,6) so repeated merges keep one schema instead of
    Spark's precision-widening ladder."""
    fold = F.expr(mg_bucket_sql(fold_key, n_folds)).alias("fold")
    return (
        df.select(
            F.col(category_col).alias("category"),
            fold,
            F.col(target_col).cast("decimal(18,6)").alias("__t"),
        )
        .groupBy("category", "fold")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_f"),
            F.sum("__t").cast("decimal(30,6)").alias("s_f"),
        )
    )


def oof_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Merge two stats frames over disjoint inputs: counts and exact
    decimal sums add per (category, fold)."""
    return (
        a.unionByName(b)
        .groupBy("category", "fold")
        .agg(
            F.sum("n_f").cast("long").alias("n_f"),
            F.sum("s_f").cast("decimal(30,6)").alias("s_f"),
        )
    )


def oof_finish(st: DataFrame, m: int = DEFAULT_SMOOTH_M) -> DataFrame:
    """Encodings from a (possibly merged) stats frame — the shared
    finish step for the batch operator and the streaming maintainer,
    so stream ≡ batch is equality of the SAME arithmetic over equal
    states.

    EVERY call pins the stats frame (`caches.pin`): four derived
    aggregates consume it, and without the pin Spark re-derives each
    from its own scan of the fact table. The frame itself is bounded
    (#categories × n_folds rows), and the pin FIFO is bounded too, so
    a serving loop that re-finishes the streaming-maintained state
    cannot accumulate pins."""
    st = pin(st)
    tot = st.groupBy("category").agg(
        F.sum("n_f").cast("long").alias("__n_t"),
        F.sum("s_f").alias("__s_t"),
    )
    gfold = st.groupBy("fold").agg(
        F.sum("n_f").cast("long").alias("__n_gf"),
        F.sum("s_f").alias("__s_gf"),
    )
    gall = st.agg(
        F.sum("n_f").cast("long").alias("__n_all"),
        F.sum("s_f").alias("__s_all"),
    )
    oof_cnt = F.col("__n_t") - F.col("n_f")
    oof_sum_d = (F.col("__s_t") - F.col("s_f")).cast("double")
    prior = (F.col("__s_all") - F.col("__s_gf")).cast("double") / (
        F.col("__n_all") - F.col("__n_gf")
    )
    return (
        st.join(tot, "category")
        .join(gfold, "fold")
        .crossJoin(F.broadcast(gall))  # 1-row global frame
        .filter(oof_cnt > 0)
        .select(
            "category",
            "fold",
            oof_cnt.alias("oof_cnt"),
            (oof_sum_d / oof_cnt).alias("enc"),
            (
                (oof_sum_d + F.lit(int(m)) * prior)
                / (oof_cnt + F.lit(int(m)))
            ).alias("enc_smoothed"),
        )
    )


def auc_exact(
    df: DataFrame,
    score_col: str,
    label_col: str,
    key_cols: list[str] | None = None,
    bucket_width: float | None = None,
    target_buckets: int = 1024,
) -> DataFrame:
    """EXACT ROC AUC from the Mann-Whitney rank-sum — the model-eval
    primitive next to the trainers: AUC = U / (n_pos·n_neg) with
    U = Σ ranks(positives) − n_pos(n_pos+1)/2, ties handled by
    midranks (the textbook definition; equivalent to trapezoidal ROC
    integration). Everything except the final division is INTEGER:
    midranks are kept ×2 (2·cum_before + cnt + 1), so u2 =
    2U is exact and auc = u2 / (2·n_pos·n_neg) is one correctly-
    rounded division — hash-stable cross-engine.

    Scale shape: scores collapse to the DISTINCT-value table first
    (one partial-aggregable groupBy — the weighted_median
    discipline), then the cumulative rank prefix sum is TWO-LEVEL
    like concurrency_profile: a window inside each `bucket_width`
    score bucket plus rolling per-bucket offsets — continuous scores
    (distinct ≈ n) never funnel into one sort task; the naive single
    window IS the oracle. Output one row (per key): (key_cols...,
    n_pos, n_neg, u2, auc); auc is NULL when either class is empty.

    `label_col`: boolean/int, positive = truthy and non-null.

    `bucket_width=None` (default) derives the width from the OBSERVED
    score range — (max−min)/target_buckets via one eager agg (the
    only call shape that runs a job at plan-build) — so the two-level
    rank cannot silently degenerate: the r9 verdict caught the old
    fixed 1.0 default collapsing every [0,1]-range classifier score
    into bucket 0, which sorted ALL distinct scores in one task.
    An EXPLICIT width keeps the function fully lazy and is mostly
    trusted — pass one only when you know the score scale — but a
    width wider than HALF the observed score range FAILS LOUDLY at
    execution (a plan-embedded raise_error guard on a broadcast 1-row
    min/max of the distinct-score table): a too-wide explicit width is
    exactly the r9 silent scale-killer, and it must never silently
    reproduce the one-bucket single-task sort (use None if unsure).
    """
    keys = list(key_cols or [])
    explicit_width = bucket_width is not None
    if not explicit_width:
        # ONE eager min/max agg (the only time this function runs a
        # job at plan-build): derive a width that actually splits the
        # observed range.
        rng = df.agg(
            F.min(F.col(score_col).cast("double")).alias("lo"),
            F.max(F.col(score_col).cast("double")).alias("hi"),
        ).collect()[0]
        lo, hi = rng["lo"], rng["hi"]
        degenerate = lo is None or hi is None or hi <= lo
        bucket_width = (
            1.0 if degenerate else (hi - lo) / float(target_buckets)
        )
    pos = F.when(
        F.col(label_col).isNotNull() & F.col(label_col).cast("boolean"),
        1,
    ).otherwise(0)
    g = (
        df.select(*keys, F.col(score_col).alias("__s"), pos.alias("__p"))
        .groupBy(*keys, "__s")
        .agg(
            F.count(F.lit(1)).cast("long").alias("__cnt"),
            F.sum("__p").cast("long").alias("__pos"),
        )
    )
    return _auc_from_collapsed(g, keys, bucket_width, explicit_width)


def auc_from_weighted(
    state: DataFrame,
    key_cols: list[str] | None = None,
    target_buckets: int = 1024,
) -> DataFrame:
    """Exact AUC served from an already-collapsed weighted-distinct
    score table (key_cols..., __s, __cnt, __pos) — the serving seam
    the streaming AUC maintenance twin reads through
    (streaming/scd2.py:run_auc_stream). The state IS auc_exact's
    internal distinct-score table (per-score row count + positive
    count), which merges across batches by plain integer addition —
    so served AUC over maintained state hash-equals the batch
    auc_exact over the union, the same state≡batch identity the KLL
    twin pins. Width derivation matches auc_exact's default (observed
    range / target_buckets over the distinct scores), keeping the
    arithmetic bit-identical between the two paths."""
    keys = list(key_cols or [])
    rng = state.agg(
        F.min(F.col("__s").cast("double")).alias("lo"),
        F.max(F.col("__s").cast("double")).alias("hi"),
    ).collect()[0]
    lo, hi = rng["lo"], rng["hi"]
    degenerate = lo is None or hi is None or hi <= lo
    width = 1.0 if degenerate else (hi - lo) / float(target_buckets)
    return _auc_from_collapsed(state, keys, width, False)


def _auc_from_collapsed(
    g: DataFrame,
    keys: list[str],
    bucket_width: float,
    explicit_width: bool,
) -> DataFrame:
    """auc_exact's two-level midrank machinery over the collapsed
    (keys..., __s, __cnt, __pos) table — shared by the batch entry
    point and the streaming serving read."""
    g = g.withColumn(
        "__b", F.floor(F.col("__s") / F.lit(float(bucket_width)))
    )
    if explicit_width:
        # Loud-failure guard, still lazy: broadcast a 1-row min/max of
        # the distinct-score table onto it and raise_error() at
        # execution when the explicit width exceeds HALF the observed
        # range (the width then cannot split the range — (nearly) all
        # distinct scores land in one bucket and the two-level rank
        # degenerates into a single-task sort, the r9 hazard). The
        # guard term is arithmetic 0 on the pass path and is folded
        # into __cnt so Catalyst cannot prune the check away. Empty
        # input → NULL bounds → comparison NULL → pass (nothing to
        # sort either way).
        grng = g.groupBy().agg(
            F.min(F.col("__s").cast("double")).alias("__lo"),
            F.max(F.col("__s").cast("double")).alias("__hi"),
        )
        bad = (F.col("__hi") > F.col("__lo")) & (
            F.lit(float(bucket_width))
            > (F.col("__hi") - F.col("__lo")) / F.lit(2.0)
        )
        guard = (
            F.when(
                bad,
                F.raise_error(
                    F.format_string(
                        "auc_exact: explicit bucket_width=%s exceeds half "
                        "the observed score range [%s, %s]; (nearly) all "
                        "distinct scores would fall into one bucket and "
                        "the two-level rank would degenerate into a "
                        "single-task sort. Pass bucket_width=None to "
                        "derive a safe width from the range.",
                        F.lit(str(float(bucket_width))),
                        F.col("__lo"),
                        F.col("__hi"),
                    )
                ).cast("long"),
            )
            .otherwise(F.lit(0))
            .alias("__guard")
        )
        g = (
            g.crossJoin(F.broadcast(grng.select(guard)))
            .withColumn("__cnt", F.col("__cnt") + F.col("__guard"))
            .drop("__guard")
        )
    w_in = (
        Window.partitionBy(*keys, "__b")
        .orderBy("__s")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)
    )
    within = g.withColumn(
        "__cum_in", F.coalesce(F.sum("__cnt").over(w_in), F.lit(0))
    )
    per_bucket = g.groupBy(*keys, "__b").agg(
        F.sum("__cnt").alias("__btot")
    )
    w_off = (
        Window.partitionBy(*keys)
        .orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)
    )
    offsets = per_bucket.withColumn(
        "__off", F.coalesce(F.sum("__btot").over(w_off), F.lit(0))
    ).select(*keys, "__b", "__off")
    ranked = within.join(offsets, [*keys, "__b"]).withColumn(
        "__midrank2",
        2 * (F.col("__cum_in") + F.col("__off")) + F.col("__cnt") + 1,
    )
    grp = ranked.groupBy(*keys) if keys else ranked.groupBy()
    agg = grp.agg(
        F.sum("__pos").cast("long").alias("n_pos"),
        (F.sum("__cnt") - F.sum("__pos")).cast("long").alias("n_neg"),
        F.sum(F.col("__pos") * F.col("__midrank2")).cast("long").alias("__r2"),
    )
    u2 = F.col("__r2") - F.col("n_pos") * (F.col("n_pos") + 1)
    return agg.select(
        *keys,
        "n_pos",
        "n_neg",
        u2.alias("u2"),
        F.when(
            (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
            u2.cast("double")
            / (2 * F.col("n_pos") * F.col("n_neg")).cast("double"),
        ).alias("auc"),
    )


def pr_curve(
    df: DataFrame,
    score_col: str,
    label_col: str,
    thresholds: list[float],
) -> DataFrame:
    """Precision/recall at FIXED thresholds — the operating-point
    companion to auc_exact (AUC ranks the model; deployment needs a
    threshold). One row per threshold: (threshold, tp, fp, fn,
    precision, recall); a row whose threshold admits nothing has
    precision NULL.

    Scale shape: the threshold list is a literal array — each input
    row explodes ×|thresholds| and map-side combine collapses every
    partition to ≤ |thresholds| groups before the exchange, so the
    shuffle carries |thresholds| counter rows per partition at ANY
    input size. No windows, no distinct-score table (contrast
    auc_exact, which needs the full rank structure). Counts are
    integers; precision/recall are one division each.
    """
    ts = F.array(*[F.lit(float(t)) for t in sorted(thresholds)])
    pos = F.col(label_col).isNotNull() & F.col(label_col).cast("boolean")
    ex = df.select(
        F.col(score_col).alias("__s"),
        pos.cast("int").alias("__y"),
        F.explode(ts).alias("threshold"),
    )
    above = (F.col("__s") >= F.col("threshold")).cast("int")
    agg = ex.groupBy("threshold").agg(
        F.sum(F.col("__y") * above).cast("long").alias("tp"),
        F.sum((1 - F.col("__y")) * above).cast("long").alias("fp"),
        F.sum(F.col("__y") * (1 - above)).cast("long").alias("fn"),
    )
    return agg.select(
        "threshold",
        "tp",
        "fp",
        "fn",
        F.when(
            F.col("tp") + F.col("fp") > 0,
            F.col("tp").cast("double") / (F.col("tp") + F.col("fp")),
        ).alias("precision"),
        F.when(
            F.col("tp") + F.col("fn") > 0,
            F.col("tp").cast("double") / (F.col("tp") + F.col("fn")),
        ).alias("recall"),
    )


def score_calibration(
    df: DataFrame,
    score_col: str,
    label_col: str,
    bin_width: float,
) -> DataFrame:
    """Reliability-diagram bins — the third of the eval trio (AUC
    ranks the model, the PR curve picks the threshold, calibration
    checks whether the score MEANS anything as a probability/rate):
    fixed-width score bins with observed positive rate per bin, one
    row per non-empty bin: (bin, n, n_pos, mean_score, pos_rate).

    ONE partial-aggregable groupBy; mean_score sums in exact
    DECIMAL(18,6) (combine-order independent — the registry rule) and
    each output is one double division. Fixed-width bins rather than
    quantile bins by default: they need no rank structure (zero
    windows) and are directly comparable across days/models; feed
    ntile_scalable output as the score for equal-mass bins."""
    pos = F.col(label_col).isNotNull() & F.col(label_col).cast("boolean")
    b = F.floor(F.col(score_col) / F.lit(float(bin_width))).cast("long")
    return (
        df.select(
            b.alias("bin"),
            pos.cast("long").alias("__y"),
            F.col(score_col).cast("decimal(18,6)").alias("__s"),
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("__y").cast("long").alias("n_pos"),
            (
                F.sum("__s").cast("double") / F.count(F.lit(1))
            ).alias("mean_score"),
        )
        .withColumn(
            "pos_rate", F.col("n_pos").cast("double") / F.col("n")
        )
    )


def ndcg_weights(k: int) -> list[int]:
    """Frozen INTEGER discount ladder for NDCG@k: w(i) =
    round(1e9 / log2(i+1)) for rank i = 1..k. The only irrational in
    NDCG is the log discount; freezing it to integer literals (the
    Fellegi-Sunter log-odds discipline) makes DCG/IDCG exact integer
    sums — combine-order independent, hash-stable cross-engine — and
    the oracle embeds the SAME literals, generated from this
    function."""
    import math

    return [round(1_000_000_000 / math.log2(i + 1)) for i in range(1, k + 1)]


def ndcg_at_k(
    df: DataFrame,
    key_cols: list[str],
    item_col: str,
    score_col: str,
    rel_col: str,
    k: int = 10,
) -> DataFrame:
    """NDCG@k per query key — the RANKING member of the eval family
    (auc_exact ranks the classifier, pr_curve picks its threshold,
    score_calibration checks probability meaning; this scores a
    RANKED LIST against graded relevance — the similarity-search /
    recommender eval). DCG = Σ_{i≤k} rel(i)·w(i) over items ordered
    by (score DESC, item ASC — a total order, so ties are
    deterministic); IDCG re-ranks by (rel DESC, item ASC); ndcg =
    dcg/idcg, NULL when the key has no positive relevance. With the
    frozen integer ladder (ndcg_weights) both sums are exact
    integers and ndcg is ONE correctly-rounded double division.

    Scale shape: two windows, both partitioned by the query key —
    per-key item lists sort within their key's partition, never
    globally (queries are many; a single global ranking should go
    through the two-level rank like auc_exact). Output one row per
    key: (key_cols..., dcg, idcg, ndcg)."""
    ws = ndcg_weights(k)
    warr = F.array(*[F.lit(w).cast("long") for w in ws])
    keys = list(key_cols)
    base = df.select(
        *keys,
        F.col(item_col).alias("__i"),
        F.col(score_col).alias("__s"),
        F.col(rel_col).cast("long").alias("__r"),
    )
    w_score = Window.partitionBy(*keys).orderBy(
        F.desc("__s"), F.asc("__i")
    )
    w_ideal = Window.partitionBy(*keys).orderBy(
        F.desc("__r"), F.asc("__i")
    )
    ranked = base.withColumn("__rk", F.row_number().over(w_score)).withColumn(
        "__ik", F.row_number().over(w_ideal)
    )
    dcg_term = F.when(
        F.col("__rk") <= k,
        F.col("__r") * F.element_at(warr, F.col("__rk").cast("int")),
    ).otherwise(F.lit(0))
    idcg_term = F.when(
        F.col("__ik") <= k,
        F.col("__r") * F.element_at(warr, F.col("__ik").cast("int")),
    ).otherwise(F.lit(0))
    agg = ranked.groupBy(*keys).agg(
        F.sum(dcg_term).cast("long").alias("dcg"),
        F.sum(idcg_term).cast("long").alias("idcg"),
    )
    return agg.select(
        *keys,
        "dcg",
        "idcg",
        F.when(
            F.col("idcg") > 0,
            F.col("dcg").cast("double") / F.col("idcg").cast("double"),
        ).alias("ndcg"),
    )


def ap_weights(k: int) -> tuple[int, list[int]]:
    """(L, [L/i for i=1..k]) with L = lcm(1..k): the exact-rational
    scaffolding for average precision — P@i = hits_i/i becomes the
    INTEGER hits_i·(L/i) over denominator L, so AP@k sums exactly
    with no float accumulation (the ndcg_weights discipline, with an
    lcm instead of a rounded ladder because 1/i is rational)."""
    import math

    L = 1
    for i in range(2, k + 1):
        L = L * i // math.gcd(L, i)
    return L, [L // i for i in range(1, k + 1)]


def mrr_at_k(
    df: DataFrame,
    key_cols: list[str],
    item_col: str,
    score_col: str,
    rel_col: str,
    k: int = 10,
) -> DataFrame:
    """Reciprocal rank @ k per query key — the third member of the
    ranking-eval family (NDCG grades positions, AP grades the
    precision profile, RR asks only WHERE THE FIRST HIT LANDS — the
    single-known-answer retrieval metric, e.g. known-item search /
    QA passage ranking). RR@k = 1/rank(first relevant in top k), 0
    when none. Integer-exact like its siblings: rr_num = MAX over
    hits of L DIV rank (L = lcm(1..k), divisible by every rank ≤ k,
    so the division is exact) and rr = rr_num / L is one correctly-
    rounded division. Ties break on the total order (score DESC,
    item ASC); keys with zero relevant items anywhere get NULL rr
    (no answer exists ≠ answer not found — callers averaging MRR
    drop the NULLs), keys with relevant items outside the top k get
    rr = 0. Same scale shape as ndcg_at_k/map_at_k: the only window
    partitions by the query key."""
    from math import lcm

    L = lcm(*range(1, k + 1))
    keys = list(key_cols)
    base = df.select(
        *keys,
        F.col(item_col).alias("__i"),
        F.col(score_col).alias("__s"),
        F.when(
            F.col(rel_col).isNotNull() & F.col(rel_col).cast("boolean"), 1
        )
        .otherwise(0)
        .cast("long")
        .alias("__r"),
    )
    w_rank = Window.partitionBy(*keys).orderBy(F.desc("__s"), F.asc("__i"))
    ranked = base.withColumn("__rk", F.row_number().over(w_rank))
    term = F.when(
        (F.col("__rk") <= k) & (F.col("__r") == 1),
        F.expr(f"{L} DIV __rk"),  # exact: L = lcm(1..k)
    ).otherwise(F.lit(0))
    agg = ranked.groupBy(*keys).agg(
        F.max(term).cast("long").alias("rr_num"),
        F.sum("__r").cast("long").alias("n_rel"),
    )
    return agg.select(
        *keys,
        "rr_num",
        F.lit(L).cast("long").alias("rr_den"),
        "n_rel",
        F.when(
            F.col("n_rel") > 0,
            F.col("rr_num").cast("double") / F.lit(float(L)),
        ).alias("rr"),
    )


def map_at_k(
    df: DataFrame,
    key_cols: list[str],
    item_col: str,
    score_col: str,
    rel_col: str,
    k: int = 10,
) -> DataFrame:
    """Average precision @ k per query key — NDCG's binary-relevance
    sibling (NDCG grades positions with graded relevance; AP grades
    the PRECISION PROFILE of the hits). AP@k = Σ_{i≤k, rel(i)}
    P@i / min(R, k) with R = the key's total relevant count; with the
    lcm scaffolding (ap_weights) the numerator is the exact integer
    Σ hits_i·(L/i) and the denominator L·min(R,k), so ap is ONE
    correctly-rounded division and the whole row is hash-stable.
    Ties break on the total order (score DESC, item ASC); keys with
    R = 0 return NULL ap. Same scale shape as ndcg_at_k: the ranking
    window partitions by the query key."""
    L, ws = ap_weights(k)
    warr = F.array(*[F.lit(w).cast("long") for w in ws])
    keys = list(key_cols)
    base = df.select(
        *keys,
        F.col(item_col).alias("__i"),
        F.col(score_col).alias("__s"),
        F.when(
            F.col(rel_col).isNotNull() & F.col(rel_col).cast("boolean"), 1
        )
        .otherwise(0)
        .cast("long")
        .alias("__r"),
    )
    w_rank = Window.partitionBy(*keys).orderBy(F.desc("__s"), F.asc("__i"))
    w_cum = w_rank.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked = base.withColumn("__rk", F.row_number().over(w_rank)).withColumn(
        "__hits", F.sum("__r").over(w_cum)
    )
    term = F.when(
        (F.col("__rk") <= k) & (F.col("__r") == 1),
        F.col("__hits") * F.element_at(warr, F.col("__rk").cast("int")),
    ).otherwise(F.lit(0))
    agg = ranked.groupBy(*keys).agg(
        F.sum(term).cast("long").alias("ap_num"),
        F.sum("__r").cast("long").alias("n_rel"),
    )
    den = F.lit(L).cast("long") * F.least(F.col("n_rel"), F.lit(k))
    return agg.select(
        *keys,
        "ap_num",
        den.alias("ap_den"),
        "n_rel",
        F.when(
            F.col("n_rel") > 0,
            F.col("ap_num").cast("double") / den.cast("double"),
        ).alias("ap"),
    )


def expected_calibration_error(
    df: DataFrame,
    score_col: str,
    label_col: str,
    bin_width: float,
    score_scale: float,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Expected Calibration Error over fixed-width score bins — the
    scalar that summarizes `score_calibration`'s reliability diagram:

        ECE = Σ_b (n_b/n)·|pos_rate_b − mean_conf_b|

    made EXACT up to the 2^20 confidence ladder via the identity
    n_b·|pos_b/n_b − S_b/n_b| = |pos_b − S_b|: per-row confidence
    p = score/score_scale (a mirrored double op) quantizes to
    q = floor(p·2^20) (exact longs — a decimal cast here diverges at
    the ULP between engines, the covariance lesson), so each bin's
    gap is the exact integer |pos_b·2^20 − Σq| and ECE is ONE double
    division at the end. Two partial-aggregable groupBys (bins, then
    the grand total over ≤ range/width bin rows), zero windows.

    Output: 1 row (n_bins, n, ece) — or one row per key when
    `key_cols` is given (per-cohort calibration monitoring, the same
    keyed shape as auc_exact's): bins and the final rollup both
    partition by the keys, so every stage stays a partial-aggregable
    groupBy and per-key ECE is exactly the global arithmetic applied
    within the key."""
    keys = list(key_cols or [])
    pos = F.col(label_col).isNotNull() & F.col(label_col).cast("boolean")
    b = F.floor(F.col(score_col) / F.lit(float(bin_width))).cast("long")
    q = F.floor(
        (F.col(score_col) / F.lit(float(score_scale))) * F.lit(float(1 << 20))
    ).cast("long")
    bins = (
        df.select(
            *keys, b.alias("bin"), pos.cast("long").alias("__y"),
            q.alias("__q"),
        )
        .groupBy(*keys, "bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("__n"),
            F.sum("__y").cast("long").alias("__pos"),
            F.sum("__q").cast("long").alias("__s"),
        )
    )
    gap = F.abs(F.col("__pos") * F.lit(1 << 20).cast("long") - F.col("__s"))
    grp = bins.groupBy(*keys) if keys else bins.groupBy()
    return grp.agg(
        F.count(F.lit(1)).cast("long").alias("n_bins"),
        F.sum("__n").cast("long").alias("n"),
        (
            F.sum(gap).cast("double")
            / (F.sum("__n") * F.lit(1 << 20).cast("long")).cast("double")
        ).alias("ece"),
    )


def cohen_kappa(
    df: DataFrame,
    rater_a_col: str,
    rater_b_col: str,
) -> DataFrame:
    """Cohen's kappa — chance-corrected agreement between two
    categorical labelers over the same items, THE annotation-QA
    gate for labeled training data (two human annotators, or a
    model-vs-heuristic audit):

        κ = (p_o − p_e)/(1 − p_e)
          = (N·Σ_k n_kk − Σ_k r_k·c_k) / (N² − Σ_k r_k·c_k)

    — all-integer numerator and denominator (N = items, n_kk =
    diagonal of the contingency table, r_k/c_k = marginals), ONE
    double division at the end, so the result hash-matches any
    engine. NULL labels on either side are excluded (un-annotated
    items don't vote).

    Plan shape: one map-side-combined groupBy(a, b) collapses the
    corpus to a ≤|classes|² cell table; marginals and the Σ r·c
    cross term are re-aggregations and a join OVER THAT BOUNDED
    TABLE — the full-table scan happens exactly once, and nothing
    downstream scales with N. Sums ride DECIMAL(38,0) so N²-order
    terms cannot overflow a long at petabyte row counts.

    Output: 1 row (n, agree, chance_num, kappa)."""
    cells = (
        df.filter(
            F.col(rater_a_col).isNotNull() & F.col(rater_b_col).isNotNull()
        )
        .groupBy(
            F.col(rater_a_col).alias("__a"), F.col(rater_b_col).alias("__b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("__n"))
    )
    cells = pin(cells)
    dec = "decimal(38,0)"
    r = cells.groupBy("__a").agg(F.sum("__n").cast(dec).alias("__r"))
    c = cells.groupBy("__b").agg(F.sum("__n").cast(dec).alias("__c"))
    cross = (
        r.join(c, F.col("__a") == F.col("__b"))
        .agg(F.sum(F.col("__r") * F.col("__c")).alias("__rc"))
        .select(F.coalesce(F.col("__rc"), F.lit(0).cast(dec)).alias("__rc"))
    )
    totals = cells.agg(
        F.sum("__n").cast(dec).alias("__t"),
        F.coalesce(
            F.sum(F.when(F.col("__a") == F.col("__b"), F.col("__n"))),
            F.lit(0),
        )
        .cast(dec)
        .alias("__agree"),
    )
    return totals.crossJoin(cross).select(
        F.col("__t").cast("long").alias("n"),
        F.col("__agree").cast("long").alias("agree"),
        F.col("__rc").cast("long").alias("chance_num"),
        (
            (F.col("__t") * F.col("__agree") - F.col("__rc")).cast("double")
            / (F.col("__t") * F.col("__t") - F.col("__rc")).cast("double")
        ).alias("kappa"),
    )


def fleiss_kappa(
    df: DataFrame,
    item_col: str,
    cat_col: str,
    n_raters: int,
) -> DataFrame:
    """Fleiss' kappa — chance-corrected agreement for N raters per
    item, the multi-annotator generalization of `cohen_kappa` (three
    labelers per example is the standard budget for LLM preference /
    safety annotation; pairwise Cohen's understates disagreement
    structure). Input: ONE ROW PER RATING (item, category); items
    must carry exactly `n_raters` ratings — items with any other
    count are EXCLUDED (the textbook requirement; partial items
    cannot contribute to P̄_o's n·(n−1) pairs-per-item denominator).

    All-integer algebra (one double division at the end):

        S2 = Σ_i Σ_k n_ik²      (squared cell counts)
        A  = Σ_k T_k²           (squared category totals)
        κ  = ((S2 − N·n)·N·n − A·(n−1)) / ((n−1)·((N·n)² − A))

    which is the standard κ = (P̄_o − P̄_e)/(1 − P̄_e) with both sides
    scaled by (N·n)²·(n−1) — hash-stable cross-engine. Sums ride
    DECIMAL(38,0): (N·n)² is rows², beyond long at petabyte scale.

    Plan shape: one map-side-combined groupBy(item, cat) collapses
    the ratings to ≤ N·|K| cells; the exactly-n filter, S2, N, T_k,
    and A are re-aggregations over that cell table (category totals
    are ≤ |K| rows). Nothing downstream scales with the rating count.
    κ is NULL when every rating lands in one category (1 − P̄_e = 0)
    or no item is complete. Output 1 row:
    (n_items, n_raters, s2, cat_sq, kappa)."""
    n = int(n_raters)
    if n < 2:
        raise ValueError("fleiss_kappa: n_raters must be >= 2")
    dec = "decimal(38,0)"
    cells = (
        df.filter(F.col(item_col).isNotNull() & F.col(cat_col).isNotNull())
        .groupBy(F.col(item_col).alias("__i"), F.col(cat_col).alias("__k"))
        .agg(F.count(F.lit(1)).cast("long").alias("__n"))
    )
    item_tot = cells.groupBy("__i").agg(F.sum("__n").alias("__tot"))
    complete = item_tot.filter(F.col("__tot") == n).select("__i")
    kept = pin(cells.join(complete, "__i"))
    s2n = kept.agg(
        F.sum((F.col("__n") * F.col("__n")).cast(dec)).alias("__s2"),
        F.count_distinct(F.col("__i")).cast(dec).alias("__ni"),
    )
    a = (
        kept.groupBy("__k")
        .agg(F.sum("__n").cast(dec).alias("__tk"))
        .agg(
            F.coalesce(
                F.sum(F.col("__tk") * F.col("__tk")),
                F.lit(0).cast(dec),
            ).alias("__a")
        )
    )
    nn = F.col("__ni") * F.lit(n)
    num = (F.col("__s2") - nn) * nn - F.col("__a") * F.lit(n - 1)
    den = F.lit(n - 1) * (nn * nn - F.col("__a"))
    return s2n.crossJoin(a).select(
        F.col("__ni").cast("long").alias("n_items"),
        F.lit(n).cast("long").alias("n_raters"),
        F.col("__s2").cast("long").alias("s2"),
        F.col("__a").cast("long").alias("cat_sq"),
        F.when(
            den != F.lit(0).cast(dec),
            num.cast("double") / den.cast("double"),
        ).alias("kappa"),
    )
