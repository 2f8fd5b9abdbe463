"""Z-score anomaly detection (A6 + M2 + F6).

Reference: per micro-batch, pandas `df[c].mean()` / `.std()` then flag
`abs((x-μ)/σ) > 3` (`kinesis_processing_2.py:104-119`). pandas .std()
is SAMPLE stddev (ddof=1) → `stddev_samp` here (SURVEY.md §7.4).

Scale shape: the 1-row global aggregate is broadcast back onto the
table (a broadcast nested-loop join of a singleton — no shuffle of the
fact side, one pass to aggregate + one pass to filter). A window
`avg().over(Window.partitionBy())` would funnel ALL rows into a single
partition — the anti-pattern at 100 TB; the two-pass broadcast form is
the one that scales. std == 0 → NULL z (no anomaly), replicating
pandas NaN semantics.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from big_data_engineering_project_spark.operators.joins import broadcast_join
from big_data_engineering_project_spark.functions.math_ops import zscore


def zscore_stats(df: DataFrame, value_col: str) -> DataFrame:
    """A6: 1-row (mean, sample-stddev) aggregate."""
    return df.agg(
        F.avg(value_col).alias("mu"),
        F.stddev_samp(value_col).alias("sigma"),
    )


def with_zscore(df: DataFrame, value_col: str, out: str = "z") -> DataFrame:
    """Stamp |z| on every row via broadcast of the 1-row stats (J1)."""
    stats = zscore_stats(df, value_col)
    joined = df.crossJoin(F.broadcast(stats))
    return joined.withColumn(
        out, zscore(F.col(value_col), F.col("mu"), F.col("sigma"))
    ).drop("mu", "sigma")


def detect_anomalies(
    df: DataFrame, value_col: str, threshold: float = 3.0
) -> DataFrame:
    """F6: rows with |z| > threshold (`kinesis_processing_2.py:116`)."""
    return with_zscore(df, value_col).filter(F.col("z") > threshold)


def detect_anomalies_per_group(
    df: DataFrame, group_col: str, value_col: str, threshold: float = 3.0
) -> DataFrame:
    """Grouped upgrade (idiomatic per-key stats, SURVEY.md J1): stats
    per group, broadcast-joined back on the group key. The stats side
    is |groups| rows — broadcastable at any fact-table size."""
    stats = df.groupBy(group_col).agg(
        F.avg(value_col).alias("mu"),
        F.stddev_samp(value_col).alias("sigma"),
    )
    joined = broadcast_join(df, stats, on=[group_col], how="inner")
    return (
        joined.withColumn("z", zscore(F.col(value_col), F.col("mu"), F.col("sigma")))
        .filter(F.col("z") > threshold)
        .drop("mu", "sigma")
    )


def cusum_drift(
    df: DataFrame,
    key: str,
    ts_col: str,
    id_col: str,
    value_col: str,
    k_half_sigmas: int = 1,
    h_sigma: int = 4,
    scale: int = 1_000_000,
    precomputed_stats: DataFrame | None = None,
) -> DataFrame:
    """One-sided CUSUM drift detection per key (Page 1954): alarm when
    the cumulative excess over (mean + k·sigma) exceeds h·sigma — the
    SEQUENTIAL complement of the pointwise z-score (z flags one wild
    value; CUSUM flags a persistent small shift no single point would
    trip). k = k_half_sigmas/2 sigmas of slack.

    The textbook recursion s_i = max(0, s_{i-1} + y_i) is not
    window-expressible, but its closed form is:

        s_i = S_i − min(0, min_{j≤i} S_j),   S = prefix sum of y

    two cumulative window functions over the SAME (ts, id) total
    order. Everything is INTEGER micro-units (the PageRank
    discipline): values floor to BIGINT at `scale`, mu floors from
    the exact integer sum, sigma floors from the double sqrt of a
    moment expression over exact integer sums (one deterministic IEEE
    expression, not an accumulation), and the prefix sums are BIGINT
    — so the whole statistic is combine-order-free and bit-identical
    cross-engine, giving the detector an exact DuckDB oracle. (A
    float formulation loses parity in the last bits because grouped
    AVG/STDDEV combine in engine-chosen order.)

    Shape: one per-key integer-moment aggregate (group-cardinality-
    sized, broadcast back — the z-score discipline), then ONE keyed
    window exchange for both cumulatives. Per-key series length
    bounds the window partition (same class as sessionization).
    Requires non-negative epoch-sane values × scale to stay inside
    BIGINT; per-key n must be ≥ 2 (sigma undefined otherwise — such
    keys are dropped with the stats join).

    Returns alarm rows: (key, id, ts, value, cusum_micro,
    threshold_micro) in micro-units.

    `precomputed_stats` (key, mu_u, sigma_u — from `cusum_stats` over
    a training window) freezes the detector parameters, the
    production deployment mode and what the STREAMING twin
    (streaming/stateful.py:cusum_alarm_stream) requires for
    stream ≡ batch equivalence.
    """
    from pyspark.sql import Window

    v_u = F.floor(F.col(value_col) * scale).cast("long")
    dfu = df.withColumn("__vu", v_u)
    stats = (
        cusum_stats(df, key, value_col, scale)
        if precomputed_stats is None
        else precomputed_stats
    ).select(
        key,
        F.col("mu_u").alias("__mu_u"),
        F.col("sigma_u").alias("__sigma_u"),
    )
    w = (
        Window.partitionBy(key)
        .orderBy(F.col(ts_col).asc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # Slack stays in BIGINT integer arithmetic end-to-end: SQL `div`
    # is integral division, matching the streaming twin's
    # (sigma * k) // 2 and the DuckDB oracle's `//` exactly for the
    # non-negative sigma_u/k here. The previous double-divide-then-
    # truncate form agreed only while sigma_u*k < 2^53.
    y_u = (
        F.col("__vu")
        - F.col("__mu_u")
        - F.expr(f"__sigma_u * {int(k_half_sigmas)} div 2")
    )
    with_s = (
        dfu.join(F.broadcast(stats), key)
        .withColumn("__S", F.sum(y_u).over(w))
        .withColumn(
            "__m", F.least(F.lit(0).cast("long"), F.min("__S").over(w))
        )
        .withColumn("cusum_micro", (F.col("__S") - F.col("__m")).cast("long"))
        .withColumn(
            "threshold_micro",
            (F.col("__sigma_u") * h_sigma).cast("long"),
        )
    )
    return with_s.filter(
        F.col("cusum_micro") > F.col("threshold_micro")
    ).select(
        key, id_col, ts_col, value_col, "cusum_micro", "threshold_micro"
    )


def cusum_stats(
    df: DataFrame, key: str, value_col: str, scale: int = 1_000_000
) -> DataFrame:
    """Frozen per-key CUSUM parameters (key, mu_u, sigma_u) in integer
    micro-units from exact integer moment sums — shared by the batch
    detector and the streaming twin so both run the IDENTICAL
    statistic. Keys with < 2 observations are dropped (sigma
    undefined)."""
    v_u = F.floor(F.col(value_col) * scale).cast("long")
    return (
        df.withColumn("__vu", v_u)
        .groupBy(key)
        .agg(
            F.count(F.lit(1)).cast("long").alias("__n"),
            F.sum(F.col("__vu").cast("decimal(38,0)")).alias("__s1"),
            F.sum(
                (F.col("__vu") * F.col("__vu")).cast("decimal(38,0)")
            ).alias("__s2"),
        )
        .filter(F.col("__n") >= 2)
        .select(
            key,
            F.floor(
                F.col("__s1").cast("double") / F.col("__n")
            ).cast("long").alias("mu_u"),
            F.floor(
                F.sqrt(
                    (
                        F.col("__s2").cast("double")
                        - F.col("__s1").cast("double")
                        * F.col("__s1").cast("double")
                        / F.col("__n")
                    )
                    / (F.col("__n") - 1)
                )
            ).cast("long").alias("sigma_u"),
        )
    )


def seasonal_stats(
    df: DataFrame,
    entity_col: str,
    season_col,
    value_col: str,
    scale: int = 100,
) -> DataFrame:
    """Per-(entity, season-slot) baseline (n, mean, stddev_samp) from
    exact integer sufficient statistics.

    The anomaly family's fourth member: z-score is pointwise-global,
    MAD robust, CUSUM sequential — this one conditions the baseline on
    a SEASONAL slot (hour-of-day, day-of-week, ...) so a value that is
    normal at peak hour but absurd at 4am is caught, and vice versa.

    Exactness: values are quantized round(v·scale) → BIGINT (a v with
    ≤ log10(scale) decimals never sits on a .5 tie, so HALF_UP vs
    HALF_EVEN cannot diverge); Σv and Σv² accumulate in DECIMAL(38,0)
    (order-free, no BIGINT overflow at any corpus size); the mean /
    sample-variance finishing runs in double with a FIXED operand
    order both engines mirror. Slots with < 2 rows are dropped (sigma
    undefined).

    Scale: one partial-aggregable groupBy; the stats table is
    |entities|·|slots| rows — broadcastable regardless of fact size.
    """
    v_q = F.round(F.col(value_col) * scale, 0).cast("long")
    fscale = float(scale)
    return (
        df.withColumn("__vq", v_q)
        .groupBy(F.col(entity_col), season_col.alias("season"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col("__vq").cast("decimal(38,0)")).alias("__s1"),
            F.sum(
                (F.col("__vq") * F.col("__vq")).cast("decimal(38,0)")
            ).alias("__s2"),
        )
        .filter(F.col("n") >= 2)
        .select(
            entity_col,
            "season",
            "n",
            (
                F.col("__s1").cast("double") / F.lit(fscale) / F.col("n")
            ).alias("mu"),
            F.sqrt(
                (
                    F.col("__s2").cast("double") / F.lit(fscale * fscale)
                    - (F.col("__s1").cast("double") / F.lit(fscale))
                    * (F.col("__s1").cast("double") / F.lit(fscale))
                    / F.col("n")
                )
                / (F.col("n") - 1)
            ).alias("sigma"),
        )
    )


def seasonal_apply(
    df: DataFrame,
    stats: DataFrame,
    entity_col: str,
    season_col,
    value_col: str,
    threshold: float = 3.0,
) -> DataFrame:
    """Flag rows deviating > threshold·sigma from a PRECOMPUTED
    (entity, season-slot) baseline. A pure stateless map over the fact
    side (stats broadcast), so the SAME function applies to a batch
    frame or a readStream — the streaming twin is a stream-static
    broadcast join with frozen training stats (see
    tools/streaming_check.py `seasonal_anomalies`)."""
    joined = df.withColumn("season", season_col).join(
        F.broadcast(stats), [entity_col, "season"]
    )
    z = (F.col(value_col) - F.col("mu")) / F.col("sigma")
    return (
        joined.filter(F.col("sigma") > 0)
        .withColumn("z", F.abs(z))
        .filter(F.col("z") > threshold)
    )


def seasonal_anomalies(
    df: DataFrame,
    entity_col: str,
    season_col,
    value_col: str,
    threshold: float = 3.0,
    scale: int = 100,
) -> DataFrame:
    """Rows whose value deviates > threshold·sigma from their OWN
    (entity, season-slot) baseline. Stats broadcast back onto the fact
    scan — the fact side never shuffles (same two-pass shape as the
    global z-score, conditioned per slot)."""
    stats = seasonal_stats(df, entity_col, season_col, value_col, scale)
    return seasonal_apply(
        df, stats, entity_col, season_col, value_col, threshold
    )


def trend_by_group(
    df: DataFrame,
    group_col: str,
    ts_col: str,
    value_col: str,
    t_origin: int = 1_700_000_000,
    scale: int = 100,
) -> DataFrame:
    """Per-group OLS regression of value on time from one pass of
    exact integer sufficient statistics (n, Σt, Σv, Σtv, Σt²) —
    the distributed form of 'fit a trend line per key'.

    t = floor(epoch seconds) − t_origin (a FROZEN origin keeps t
    small: Σt² in DECIMAL(38,0) is exact for ~10²² row·s² — far past
    any corpus); v quantized round(v·scale). slope/intercept finish
    in double with mirrored operand order:
      slope = (n·Σtv − Σt·Σv) / (n·Σt² − Σt·Σt)  [value-units/sec]
    Groups with a degenerate time axis (all rows same second) yield
    NULL slope via NULLIF. One partial-aggregable groupBy, output is
    |groups| rows.
    """
    fscale = float(scale)
    t = (F.unix_timestamp(F.col(ts_col)) - F.lit(t_origin)).cast("long")
    v = F.round(F.col(value_col) * scale, 0).cast("long")
    g = (
        df.withColumn("__t", t)
        .withColumn("__v", v)
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col("__t").cast("decimal(38,0)")).alias("__st"),
            F.sum(F.col("__v").cast("decimal(38,0)")).alias("__sv"),
            F.sum((F.col("__t") * F.col("__v")).cast("decimal(38,0)")).alias(
                "__stv"
            ),
            F.sum((F.col("__t") * F.col("__t")).cast("decimal(38,0)")).alias(
                "__stt"
            ),
        )
    )
    n = F.col("n").cast("double")
    st = F.col("__st").cast("double")
    sv = F.col("__sv").cast("double") / F.lit(fscale)
    stv = F.col("__stv").cast("double") / F.lit(fscale)
    stt = F.col("__stt").cast("double")
    slope = (n * stv - st * sv) / F.nullif(n * stt - st * st, F.lit(0.0))
    return g.select(
        group_col,
        "n",
        slope.alias("slope_per_sec"),
        ((sv - slope * st) / n).alias("intercept"),
    )


def theil_sen_trend(
    df: DataFrame,
    group_cols: list[str],
    ts_col: str,
    value_col: str,
) -> DataFrame:
    """Theil-Sen robust trend per group: the MEDIAN of all pairwise
    slopes (v_j − v_i)/(t_j − t_i) over t_i < t_j — the robust twin of
    `trend_by_group` (OLS breaks at one wild point; Theil-Sen
    tolerates ~29% contamination), completing the robust family
    beside MAD (location) and winsorized mean.

    Exactness: slopes are single IEEE divisions of (identical double,
    identical integer-second) operands, and the median is the exact
    sort-based interpolated percentile — both mirrored by the oracle.
    Equal-timestamp pairs are excluded (slope undefined), matching
    the textbook estimator.

    Scale: the pairwise join is O(n²) PER GROUP by nature — correct
    for bounded groups (per-(entity, day) trends, dashboard windows).
    For unbounded groups, sample pairs content-addressably (the
    `weighted_sample` hash discipline) or fall back to
    `trend_by_group`; this operator deliberately does not hide the
    quadratic term behind a silent cap.
    """
    keys = [F.col(c) for c in group_cols]
    e = df.select(
        *[F.col(c) for c in group_cols],
        F.unix_timestamp(F.col(ts_col)).cast("long").alias("__t"),
        F.col(value_col).cast("double").alias("__v"),
    )
    a, b = e.alias("a"), e.alias("b")
    cond = F.col("a.__t") < F.col("b.__t")
    for c in group_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    slopes = a.join(b, cond).select(
        *[F.col(f"a.{c}").alias(c) for c in group_cols],
        (
            (F.col("b.__v") - F.col("a.__v"))
            / (F.col("b.__t") - F.col("a.__t")).cast("double")
        ).alias("__slope"),
    )
    return slopes.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.percentile(F.col("__slope"), F.lit(0.5)).alias("ts_slope_per_sec"),
    )


def ks_drift(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    is_b: Column,
) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov distance per key: the
    distributional drift measure beside profile_drift's moment view —
    KS = max over values of |F_A(v) - F_B(v)|, where A is the rows
    with `is_b` false and B the rows with it true. Detects shape
    changes (bimodality, tail shifts) that mean/stddev comparisons
    miss.

    Exactness: the max is taken over INTEGER numerators
    |cumA*nB - cumB*nA| (cross-multiplied cumulative counts in
    DECIMAL(38,0)/HUGEINT so 1e10-row samples can't overflow); the
    single IEEE division by nA*nB happens once per key on the final
    max, mirrored by the oracle. Ties in value merge into one step
    (counts per distinct value), so the statistic is well-defined and
    engine-independent without any tiebreaker.

    Plan: collapse to (key, value) count pairs first (partial-
    aggregable; the per-key window then runs over DISTINCT values,
    not rows), one cumulative window per key, one max.
    """
    tagged = df.select(
        *key_cols,
        F.col(value_col).alias("__v"),
        F.when(is_b, 1).otherwise(0).alias("__b"),
    )
    per_v = tagged.groupBy(*key_cols, "__v").agg(
        F.sum(F.lit(1) - F.col("__b")).alias("__a_cnt"),
        F.sum("__b").alias("__b_cnt"),
    )
    w_cum = (
        Window.partitionBy(*key_cols)
        .orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy(*key_cols)
    cum = (
        per_v.withColumn("__ca", F.sum("__a_cnt").over(w_cum))
        .withColumn("__cb", F.sum("__b_cnt").over(w_cum))
        .withColumn("__na", F.sum("__a_cnt").over(w_tot))
        .withColumn("__nb", F.sum("__b_cnt").over(w_tot))
    )
    num = F.abs(
        F.col("__ca").cast("decimal(38,0)") * F.col("__nb")
        - F.col("__cb").cast("decimal(38,0)") * F.col("__na")
    )
    return (
        cum.withColumn("__num", num)
        .groupBy(*key_cols)
        .agg(
            F.max("__na").cast("long").alias("n_a"),
            F.max("__nb").cast("long").alias("n_b"),
            F.max("__num").alias("__mx"),
        )
        .select(
            *key_cols,
            "n_a",
            "n_b",
            (
                F.col("__mx").cast("double")
                / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
            ).alias("ks_stat"),
        )
    )
