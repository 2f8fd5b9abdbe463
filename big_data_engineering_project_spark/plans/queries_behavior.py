"""Behavior-analytics queries over the events fixture: sessionization,
funnel conversion, transition matrix, rolling aggregates, grouped
quantiles — plus segment-level (line-style) dedup on documents.

North-star extensions generalizing the reference's per-author running
counts (`S/kinesis_processing_2.py:93-99`) to the standard event-
warehouse operator set. Every query has an exact DuckDB oracle; the
window specs use a TOTAL order (ts, event_id) per user so the result
is engine-independent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from big_data_engineering_project_spark.operators.behavior import (
    event_transitions,
    funnel_conversion,
    grouped_quantiles,
    rolling_agg,
    session_stats,
)
from big_data_engineering_project_spark.operators.text_analysis import (
    dup_segment_fraction,
)
from big_data_engineering_project_spark.plans.registry import register
from big_data_engineering_project_spark.sources.catalog import load_table

_SESSION_GAP_S = 86_400  # 1 day: the fixture's median per-user gap is ~7 h
_FUNNEL_WINDOW_S = 7 * 86_400
_ROLL_N = 7
_SEG_TOKENS = 10

_ORDERED_CTE = """
ordered AS (
  SELECT user_id, event_id, ts, epoch_us(ts) AS us,
         lag(epoch_us(ts)) OVER
           (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
  FROM events
)
"""


@register(
    "q_session_stats",
    oracle=f"""
WITH {_ORDERED_CTE},
brk AS (
  SELECT user_id, event_id, ts, us,
         CASE WHEN prev_us IS NULL
                   OR us - prev_us > {_SESSION_GAP_S} * 1000000::BIGINT
              THEN 1 ELSE 0 END AS b
  FROM ordered
),
sess AS (
  SELECT user_id, ts,
         CAST(SUM(b) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1
              AS BIGINT) AS session_idx
  FROM brk
)
SELECT user_id, session_idx,
       MIN(ts) AS session_start, MAX(ts) AS session_end,
       COUNT(*) AS n_events,
       epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS duration_us
FROM sess GROUP BY 1, 2 ORDER BY user_id, session_idx
""",
    doc="Gap-based sessionization (24 h inactivity gap): per-session "
    "start/end/count/exact-µs duration — one shuffle on user_id. "
    "Complements q_user_sessions (F.session_window per-user counts): "
    "this is the lag-island form exposing session identity and exact "
    "durations",
    headline=True,
    tags=("behavior", "window"),
)
def q_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return session_stats(ev, "user_id", "ts", _SESSION_GAP_S).orderBy(
        "user_id", "session_idx"
    )


@register(
    "q_funnel_conversion",
    oracle=f"""
WITH a AS (
  SELECT user_id, MIN(ts) AS entered_ts
  FROM events WHERE event_type = 'signup' GROUP BY 1
),
j AS (
  SELECT a.user_id, a.entered_ts,
         MIN(CASE WHEN e.ts >= a.entered_ts THEN e.ts END) AS converted_ts
  FROM a LEFT JOIN events e
    ON e.user_id = a.user_id AND e.event_type = 'purchase'
  GROUP BY 1, 2
)
SELECT user_id, entered_ts, converted_ts,
       CASE WHEN converted_ts IS NOT NULL
                 AND epoch_us(converted_ts) - epoch_us(entered_ts)
                     <= {_FUNNEL_WINDOW_S} * 1000000::BIGINT
            THEN 1 ELSE 0 END AS converted
FROM j ORDER BY user_id
""",
    doc="Funnel: first signup → earliest purchase at-or-after it, converted "
    "iff within 7 days; per-user scalars reduced before the join",
    tags=("behavior",),
)
def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return funnel_conversion(
        ev, "user_id", "ts", "event_type", "signup", "purchase", _FUNNEL_WINDOW_S
    ).orderBy("user_id")


@register(
    "q_event_transitions",
    oracle="""
WITH o AS (
  SELECT user_id, event_type,
         lead(event_type) OVER
           (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
  FROM events
)
SELECT event_type AS from_type, next_type AS to_type, COUNT(*) AS n
FROM o WHERE next_type IS NOT NULL
GROUP BY 1, 2 ORDER BY from_type, to_type
""",
    doc="Markov transition counts over each user's totally-ordered event "
    "stream (lead window + map-side-combined count)",
    tags=("behavior", "window"),
)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return event_transitions(ev, "user_id", "ts", "event_type").orderBy(
        "from_type", "to_type"
    )


@register(
    "q_user_rolling_avg",
    oracle=f"""
SELECT event_id, user_id, ts,
       CAST(SUM(CAST("value" AS DECIMAL(18,6))) OVER w AS DOUBLE) AS roll_sum,
       COUNT(*) OVER w AS roll_n,
       CAST(SUM(CAST("value" AS DECIMAL(18,6))) OVER w AS DOUBLE)
         / COUNT(*) OVER w AS roll_avg
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN {_ROLL_N - 1} PRECEDING AND CURRENT ROW)
ORDER BY event_id
""",
    doc="Trailing-7-event rolling sum/mean per user — decimal-stabilized "
    "sum so window evaluation order can't change the double",
    tags=("behavior", "window"),
)
def q_user_rolling_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return rolling_agg(ev, "user_id", "ts", "value", _ROLL_N).orderBy("event_id")


@register(
    "q_value_quantiles_by_type",
    oracle="""
SELECT event_type,
       quantile_cont("value", 0.25) AS p25,
       quantile_cont("value", 0.50) AS p50,
       quantile_cont("value", 0.75) AS p75,
       quantile_cont("value", 0.95) AS p95
FROM events GROUP BY 1 ORDER BY event_type
""",
    doc="Exact interpolated quantiles of value per event type (sort-based "
    "percentile; approx_percentile t-digest is the high-cardinality path)",
    tags=("behavior", "agg"),
)
def q_value_quantiles_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return grouped_quantiles(
        ev, "event_type", "value", (0.25, 0.50, 0.75, 0.95)
    ).orderBy("event_type")


@register(
    "q_dup_segment_fraction",
    oracle=f"""
WITH toks AS (
  SELECT doc_id AS doc,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x != '') AS t
  FROM documents
),
segs AS (
  SELECT doc,
         unnest([array_to_string(t[(i-1)*{_SEG_TOKENS}+1:i*{_SEG_TOKENS}], ' ')
                 FOR i IN generate_series(
                   1, CAST(ceil(len(t)/{_SEG_TOKENS}.0) AS BIGINT))]) AS seg
  FROM toks
),
cnt AS (SELECT seg, COUNT(*) AS n_occ FROM segs GROUP BY 1)
SELECT doc, COUNT(*) AS n_segs,
       CAST(SUM(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_segs,
       CAST(SUM(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
         AS dup_frac
FROM segs JOIN cnt USING (seg)
GROUP BY doc ORDER BY doc
""",
    doc="C4/RefinedWeb-style segment dedup signal: per-doc fraction of "
    "10-token segments repeated verbatim anywhere in the corpus",
    headline=True,
    tags=("pipeline", "dedup"),
)
def q_dup_segment_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dup_segment_fraction(docs, "doc_id", "text", _SEG_TOKENS).orderBy("doc")


# --- cohort retention + rolling actives ----------------------------------------

_WAU_DAYS = 7


@register(
    "q_cohort_retention",
    oracle="""
WITH act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
coh AS (SELECT user_id, MIN(d) AS cohort_d FROM act GROUP BY 1),
r AS (
  SELECT strftime(cohort_d, '%Y-%m-%d') AS cohort_date,
         datediff('day', cohort_d, d) AS offset_days,
         COUNT(*) AS n_active
  FROM act JOIN coh USING (user_id) GROUP BY 1, 2
),
base AS (
  SELECT cohort_date, n_active AS cohort_size FROM r WHERE offset_days = 0
)
SELECT cohort_date, offset_days, n_active, cohort_size,
       CAST(n_active AS DOUBLE) / cohort_size AS retention
FROM r JOIN base USING (cohort_date)
ORDER BY cohort_date, offset_days
""",
    doc="Cohort retention triangle: users bucketed by first-active "
    "date; per (cohort, day-offset) active count + retention ratio. "
    "Events shuffle ONCE as distinct (user, date) pairs; everything "
    "downstream operates on the collapsed table",
    headline=True,  # r5: the cohort collapse plan gets timed
    tags=("behavior",),
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_engineering_project_spark.operators.behavior import (
        cohort_retention,
    )

    ev = load_table(spark, sf_dir, "events")
    return cohort_retention(ev, "user_id", "ts").orderBy(
        "cohort_date", "offset_days"
    )


@register(
    "q_rolling_active_users",
    oracle=f"""
WITH act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
days AS (SELECT DISTINCT d AS day FROM act),
contrib AS (
  SELECT user_id, d + CAST(s.i AS INT) AS day
  FROM act, unnest(generate_series(0, {_WAU_DAYS} - 1)) AS s(i)
)
SELECT strftime(day, '%Y-%m-%d') AS day,
       COUNT(DISTINCT user_id) AS active_users
FROM contrib SEMI JOIN days USING (day)
GROUP BY 1 ORDER BY 1
""",
    doc=f"Trailing {_WAU_DAYS}-day distinct active users per observed "
    "day (WAU): exact windowed count-distinct via bounded explode of "
    "the date-collapsed activity table — never of raw events",
    tags=("behavior",),
)
def q_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_engineering_project_spark.operators.behavior import (
        rolling_active_users,
    )

    ev = load_table(spark, sf_dir, "events")
    return rolling_active_users(ev, "user_id", "ts", _WAU_DAYS).orderBy("day")


# --- Integer PageRank over the event-transition graph -------------------------


def _pagerank_oracle(iters: int) -> str:
    from big_data_engineering_project_spark.operators.graph import (
        DAMP_DEN,
        DAMP_NUM,
        SCALE,
    )

    ctes = [
        f"pr0 AS (SELECT node, CAST(({SCALE} // nn.n) AS BIGINT) AS r "
        "FROM nodes, nn)"
    ]
    for i in range(1, iters + 1):
        ctes.append(f"""pr{i} AS (
  SELECT nd.node,
         CAST(((15 * {SCALE} // 100) // nn.n)
              + (({DAMP_NUM} * COALESCE(s.c, 0)) // {DAMP_DEN}) AS BIGINT) AS r
  FROM nodes nd CROSS JOIN nn
  LEFT JOIN (
    SELECT e.dst AS node, CAST(SUM((p.r * e.w) // e.ow) AS BIGINT) AS c
    FROM pr{i-1} p JOIN ew e ON p.node = e.src
    GROUP BY 1
  ) s ON nd.node = s.node)""")
    joined = ",\n".join(ctes)
    return f"""
WITH o AS MATERIALIZED (
  SELECT event_type,
         lead(event_type) OVER
           (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
  FROM events
),
edges AS MATERIALIZED (
  SELECT event_type AS src, next_type AS dst, CAST(COUNT(*) AS BIGINT) AS w
  FROM o WHERE next_type IS NOT NULL GROUP BY 1, 2
),
nodes AS MATERIALIZED (
  SELECT src AS node FROM edges UNION SELECT dst FROM edges
),
nn AS MATERIALIZED (SELECT COUNT(*) AS n FROM nodes),
outw AS (SELECT src, CAST(SUM(w) AS BIGINT) AS ow FROM edges GROUP BY 1),
ew AS MATERIALIZED (SELECT e.src, e.dst, e.w, o.ow FROM edges e JOIN outw o USING (src)),
{joined}
SELECT node AS event_type, r AS rank
FROM pr{iters}
ORDER BY node
"""


_PR_ITERS = 10


@register(
    "q_pagerank_event_graph",
    oracle=_pagerank_oracle(_PR_ITERS),
    doc=f"Integer PageRank ({_PR_ITERS} iterations, damping 0.85) over "
    "the Markov transition graph of event types: ranks in BIGINT "
    "micro-units with every update an integer multiply/divide, so the "
    "whole ITERATIVE fixed point is bit-identical cross-engine and "
    "holds an exact oracle (unrolled one-CTE-per-iteration SQL) — the "
    "rank-iteration sibling of the dedup-cluster Pregel loop's "
    "recursive-CTE check. Per iteration: one dst-keyed shuffle of "
    "(node, contribution) longs, partial-aggregated; edges carry "
    "their precomputed out-weight (operators/graph.py)",
    headline=True,
    tags=("behavior", "graph", "iterative"),
)
def q_pagerank_event_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_engineering_project_spark.operators.graph import pagerank

    ev = load_table(spark, sf_dir, "events")
    edges = event_transitions(ev, "user_id", "ts", "event_type").select(
        F.col("from_type").alias("src"),
        F.col("to_type").alias("dst"),
        F.col("n").cast("long").alias("w"),
    )
    return (
        pagerank(edges, iters=_PR_ITERS)
        .select(F.col("node").alias("event_type"), "rank")
        .orderBy("event_type")
    )


# --- Label-propagation communities over the sparsified transition graph -------


def _lpa_oracle(iters: int) -> str:
    ctes = ["l0 AS (SELECT node, node AS label FROM nodes)"]
    for i in range(1, iters + 1):
        ctes.append(f"""v{i} AS MATERIALIZED (
  SELECT u.b AS node, l.label, CAST(SUM(u.w) AS BIGINT) AS votes
  FROM und u JOIN l{i-1} l ON l.node = u.a GROUP BY 1, 2),
m{i} AS MATERIALIZED (SELECT node, MAX(votes) AS mv FROM v{i} GROUP BY 1),
b{i} AS MATERIALIZED (
  SELECT v.node, MIN(v.label) AS nl
  FROM v{i} v JOIN m{i} m ON v.node = m.node AND v.votes = m.mv
  GROUP BY 1),
l{i} AS MATERIALIZED (
  SELECT l.node, COALESCE(b.nl, l.label) AS label
  FROM l{i-1} l LEFT JOIN b{i} b ON l.node = b.node)""")
    joined = ",\n".join(ctes)
    return f"""
WITH o AS MATERIALIZED (
  SELECT event_type,
         lead(event_type) OVER
           (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
  FROM events
),
edges0 AS MATERIALIZED (
  SELECT event_type AS src, next_type AS dst, CAST(COUNT(*) AS BIGINT) AS w
  FROM o WHERE next_type IS NOT NULL AND next_type <> event_type
  GROUP BY 1, 2
),
sparse AS MATERIALIZED (
  SELECT src, dst, w FROM (
    SELECT src, dst, w,
           ROW_NUMBER() OVER (PARTITION BY src ORDER BY w DESC, dst ASC) AS rn
    FROM edges0) t WHERE rn <= 2
),
und AS MATERIALIZED (
  SELECT src AS a, dst AS b, w FROM sparse
  UNION ALL SELECT dst, src, w FROM sparse
),
nodes AS MATERIALIZED (SELECT DISTINCT a AS node FROM und),
{joined}
SELECT node AS event_type, label AS community
FROM l{iters}
ORDER BY node
"""


_LPA_ITERS = 4


@register(
    "q_label_propagation",
    oracle=_lpa_oracle(_LPA_ITERS),
    doc=f"Weighted synchronous label propagation ({_LPA_ITERS} fixed "
    "iterations, Raghavan et al. 2007) over the event-transition "
    "graph sparsified to each type's top-2 outgoing neighbours "
    "(self-loops dropped) — community detection beside PageRank's "
    "ranking, REUSING the same per-iteration shuffle shape. All "
    "state is exact: integer weighted votes (combine-order-free), "
    "total (votes DESC, label ASC) tie-break, fixed iteration budget "
    "(synchronous LPA may oscillate on bipartite structures; a fixed "
    "budget is what makes the result well-defined), so the whole "
    "fixed point holds an unrolled-CTE oracle. The per-node argmax "
    "is ONE grouped partial-aggregated min over (-votes, label), NOT "
    "a row_number window — a hot node's neighbourhood never lands in "
    "one window partition — and the builder fires no Spark job: the "
    "label frame enters each iteration once, so 4 iterations stay "
    "pure lineage (operators/graph.py:label_propagation)",
    headline=True,
    tags=("behavior", "graph", "iterative"),
)
def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_engineering_project_spark.operators.graph import (
        label_propagation,
    )

    ev = load_table(spark, sf_dir, "events")
    edges = event_transitions(ev, "user_id", "ts", "event_type").filter(
        F.col("from_type") != F.col("to_type")
    )
    w2 = Window.partitionBy("from_type").orderBy(
        F.desc("n"), F.asc("to_type")
    )
    sparse = (
        edges.withColumn("__rn", F.row_number().over(w2))
        .filter(F.col("__rn") <= 2)
        .select(
            F.col("from_type").alias("src"),
            F.col("to_type").alias("dst"),
            F.col("n").cast("long").alias("w"),
        )
    )
    return (
        label_propagation(sparse, iters=_LPA_ITERS)
        .select(
            F.col("node").alias("event_type"),
            F.col("label").alias("community"),
        )
        .orderBy("event_type")
    )


# --- Robust outliers: median / MAD (the z-score family's robust twin) ---------


@register(
    "q_mad_outliers",
    oracle="""
WITH med AS (
  SELECT event_type, quantile_cont("value", 0.5) AS med
  FROM events GROUP BY event_type
),
dev AS (
  SELECT e.event_id, e.event_type, e."value", m.med,
         abs(e."value" - m.med) AS d
  FROM events e JOIN med m USING (event_type)
),
mad AS (
  SELECT event_type, quantile_cont(d, 0.5) AS mad FROM dev GROUP BY event_type
)
SELECT dev.event_id, dev.event_type, dev."value", dev.med, mad.mad
FROM dev JOIN mad USING (event_type)
WHERE dev.d > 3 * mad.mad
ORDER BY dev.event_id
""",
    doc="Median/MAD robust outliers per event type — the heavy-tail-"
    "safe twin of q_zscore_anomalies (one wild value shifts a mean "
    "and explodes a stddev; it moves a median by at most one rank). "
    "Two grouped exact-percentile passes; both per-type stat tables "
    "are group-cardinality-sized and broadcast back, so raw events "
    "shuffle only for the percentile aggregations themselves. "
    "Interpolated medians are the same IEEE expression in both "
    "engines (proven pattern from q_value_quantiles_by_type)",
    tags=("behavior", "anomaly"),
)
def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.percentile("value", 0.5).alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "__d", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.percentile("__d", 0.5).alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .filter(F.col("__d") > 3 * F.col("mad"))
        .select("event_id", "event_type", "value", "med", "mad")
        .orderBy("event_id")
    )


# --- approx_percentile beside the exact + histogram paths ---------------------


@register(
    "q_approx_quantile_contrast",
    oracle=None,  # t-digest internals are engine-specific — rows-only;
    # tests/test_operators.py::test_approx_quantiles_within_bound pins
    # the accuracy contract against the exact percentile instead.
    doc="approx_percentile (t-digest style, single pass, no Expand, "
    "bounded sketch state) p50/p95 per event type NEXT TO the exact "
    "sort-based percentile — the third member of the quantile family: "
    "exact (q_value_quantiles_by_type) / mergeable-exact-oracle "
    "histogram (q_histogram_quantile_merge) / engine-approx (this). "
    "Rows-only by nature; the pytest bounds |approx − exact| by the "
    "histogram of the accuracy parameter",
    tags=("behavior", "sketch", "rows-only"),
    invariants=(
        "tests/test_operators.py::test_approx_quantiles_within_bound",
        "tests/test_behavior.py::test_approx_quantiles_close_to_exact",
    ),
)
def q_approx_quantile_contrast(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.percentile_approx("value", 0.5, 10_000).alias("p50_approx"),
            F.percentile_approx("value", 0.95, 10_000).alias("p95_approx"),
            F.percentile("value", 0.5).alias("p50_exact"),
            F.percentile("value", 0.95).alias("p95_exact"),
        )
        .orderBy("event_type")
    )


# --- Multi-source BFS hop distances over the transition graph ------------------


def _hop_oracle(max_hops: int) -> str:
    ctes = [
        "d0 AS (SELECT node, 0 AS dist FROM s0)"
    ]
    for i in range(1, max_hops + 1):
        ctes.append(f"""d{i} AS MATERIALIZED (
  SELECT node, CAST(MIN(dist) AS INTEGER) AS dist FROM (
    SELECT node, dist FROM d{i-1}
    UNION ALL
    SELECT e.dst AS node, d.dist + 1 AS dist
    FROM d{i-1} d JOIN e ON d.node = e.src
  ) u GROUP BY 1
)""")
    joined = ",\n".join(ctes)
    return f"""
WITH o AS (
  SELECT event_type,
         lead(event_type) OVER
           (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
  FROM events
),
e AS MATERIALIZED (
  SELECT DISTINCT event_type AS src, next_type AS dst
  FROM o WHERE next_type IS NOT NULL
),
s0 AS (SELECT MIN(event_type) AS node FROM events),
{joined}
SELECT node AS event_type, dist AS hops
FROM d{max_hops}
ORDER BY node
"""


_BFS_HOPS = 4


@register(
    "q_hop_distance",
    oracle=_hop_oracle(_BFS_HOPS),
    doc=f"Multi-source BFS hop distances ({_BFS_HOPS}-hop budget) "
    "from the lexicographically-first event type over the DIRECTED "
    "transition graph — the reachability/radius member completing "
    "the graph family (rank / communities / components / triangles / "
    "distances). Frontier relaxation: each hop joins only the "
    "NEWLY-reached frontier against edges and anti-joins the settled "
    "set, so per-hop work is frontier-adjacency-sized, never "
    "accumulated-table-sized; hop counts are integers, so the fixed "
    "point is bit-identical cross-engine and the oracle is the "
    "unrolled min-relaxation (settled-first-reach ≡ min over "
    "relaxations for unweighted BFS). The settled frame enters each "
    "hop twice → the operator auto-installs localCheckpoint past 4 "
    "hops (the label-propagation lineage lesson, SCALING.md r8) "
    "(operators/graph.py:hop_distance)",
    headline=True,
    tags=("behavior", "graph", "iterative"),
)
def q_hop_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_engineering_project_spark.operators.graph import (
        hop_distance,
    )

    ev = load_table(spark, sf_dir, "events")
    edges = (
        event_transitions(ev, "user_id", "ts", "event_type")
        .select(
            F.col("from_type").alias("src"), F.col("to_type").alias("dst")
        )
        .distinct()
    )
    sources = ev.agg(F.min("event_type").alias("node"))
    return (
        hop_distance(edges, sources, max_hops=_BFS_HOPS)
        .select(F.col("node").alias("event_type"), F.col("dist").alias("hops"))
        .orderBy("event_type")
    )


_LPA_DEEP_ITERS = 8


@register(
    "q_label_propagation_deep",
    oracle=_lpa_oracle(_LPA_DEEP_ITERS),
    doc=f"Label propagation at {_LPA_DEEP_ITERS} iterations — past the "
    "operator's 5-iteration pure-lineage threshold, so this query "
    "EXERCISES its automatic localCheckpoint installation (a lineage "
    "cut after iteration 5, then 3 pure iterations) under the oracle "
    "gate: the unrolled-CTE oracle proves the lineage-cut execution "
    "is bit-identical to the pure fixed point cross-engine. Same "
    "sparsified transition graph as q_label_propagation "
    "(operators/graph.py:label_propagation)",
    tags=("behavior", "graph", "iterative"),
)
def q_label_propagation_deep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_engineering_project_spark.operators.graph import (
        label_propagation,
    )

    ev = load_table(spark, sf_dir, "events")
    edges = event_transitions(ev, "user_id", "ts", "event_type").filter(
        F.col("from_type") != F.col("to_type")
    )
    w2 = Window.partitionBy("from_type").orderBy(
        F.desc("n"), F.asc("to_type")
    )
    sparse = (
        edges.withColumn("__rn", F.row_number().over(w2))
        .filter(F.col("__rn") <= 2)
        .select(
            F.col("from_type").alias("src"),
            F.col("to_type").alias("dst"),
            F.col("n").cast("long").alias("w"),
        )
    )
    return (
        label_propagation(sparse, iters=_LPA_DEEP_ITERS)
        .select(
            F.col("node").alias("event_type"),
            F.col("label").alias("community"),
        )
        .orderBy("event_type")
    )


# --- Seasonal-baseline anomalies (anomaly family, 4th member) ----------------
#
# z-score is pointwise-global, MAD robust, CUSUM sequential; this one
# conditions the baseline on the (event_type, hour-of-day) slot, so a
# value normal at peak hour but absurd at 4am is caught. Exactness:
# integer sufficient statistics (round(v·100) BIGINT, DECIMAL(38,0)
# sums) + a double finishing whose operand order both engines mirror
# textually — see operators/anomaly.py:seasonal_stats.


@register(
    "q_seasonal_anomalies",
    oracle="""
WITH q AS (
  SELECT event_id, event_type, hour(ts) AS season, value,
         CAST(round(value * 100, 0) AS BIGINT) AS vq
  FROM events
),
stats AS (
  SELECT event_type, season, COUNT(*) AS n,
         SUM(vq) AS s1, SUM(vq * vq) AS s2
  FROM q GROUP BY event_type, season HAVING COUNT(*) >= 2
),
fin AS (
  SELECT event_type, season, n,
    CAST(s1 AS DOUBLE) / 100.0 / n AS mu,
    sqrt((CAST(s2 AS DOUBLE) / 10000.0
          - (CAST(s1 AS DOUBLE) / 100.0) * (CAST(s1 AS DOUBLE) / 100.0) / n)
         / (n - 1)) AS sigma
  FROM stats
)
SELECT q.event_id, q.event_type, q.season, q.value,
       ABS((q.value - f.mu) / f.sigma) AS z
FROM q JOIN fin f ON f.event_type = q.event_type AND f.season = q.season
WHERE f.sigma > 0 AND ABS((q.value - f.mu) / f.sigma) > 3.0
ORDER BY event_id
""",
    doc=(
        "Seasonal-slot anomalies: |value - mu(type, hour)| > 3 sigma "
        "from exact integer sufficient stats; baseline table broadcasts, "
        "fact side never shuffles"
    ),
    tags=("behavior", "anomaly"),
)
def q_seasonal_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_engineering_project_spark.operators.anomaly import (
        seasonal_anomalies,
    )

    ev = load_table(spark, sf_dir, "events")
    return (
        seasonal_anomalies(ev, "event_type", F.hour("ts"), "value", 3.0)
        .select("event_id", "event_type", "season", "value", "z")
        .orderBy("event_id")
    )


# --- Per-group OLS trend (sufficient-statistics regression) ------------------


@register(
    "q_value_trend_by_type",
    oracle="""
WITH b AS (
  SELECT event_type,
         CAST(FLOOR(epoch(ts)) AS BIGINT) - 1700000000 AS t,
         CAST(round(value * 100, 0) AS BIGINT) AS v
  FROM events
),
s AS (
  SELECT event_type, COUNT(*) AS n, SUM(t) AS st, SUM(v) AS sv,
         SUM(t * v) AS stv, SUM(t * t) AS stt
  FROM b GROUP BY event_type
)
SELECT event_type, n,
  (CAST(n AS DOUBLE) * (CAST(stv AS DOUBLE) / 100.0)
   - CAST(st AS DOUBLE) * (CAST(sv AS DOUBLE) / 100.0))
  / NULLIF(CAST(n AS DOUBLE) * CAST(stt AS DOUBLE)
           - CAST(st AS DOUBLE) * CAST(st AS DOUBLE), 0.0) AS slope_per_sec,
  ((CAST(sv AS DOUBLE) / 100.0)
   - ((CAST(n AS DOUBLE) * (CAST(stv AS DOUBLE) / 100.0)
       - CAST(st AS DOUBLE) * (CAST(sv AS DOUBLE) / 100.0))
      / NULLIF(CAST(n AS DOUBLE) * CAST(stt AS DOUBLE)
               - CAST(st AS DOUBLE) * CAST(st AS DOUBLE), 0.0))
     * CAST(st AS DOUBLE)) / CAST(n AS DOUBLE) AS intercept
FROM s ORDER BY event_type
""",
    doc=(
        "Per-type OLS value trend from ONE pass of exact integer "
        "sufficient statistics (n, St, Sv, Stv, Stt) against a frozen "
        "time origin; slope/intercept finish in mirrored double"
    ),
    tags=("behavior", "regression"),
)
def q_value_trend_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_engineering_project_spark.operators.anomaly import (
        trend_by_group,
    )

    ev = load_table(spark, sf_dir, "events")
    return trend_by_group(ev, "event_type", "ts", "value").orderBy("event_type")


# --- Multi-step window funnel ------------------------------------------------
#
# windowFunnel semantics: max L with SOME strict-(ts, id)-order chain
# view -> click -> purchase whose last event is within 3 h of the
# chain's first. The ORACLE uses the k-way EXISTS-join formulation —
# the gate therefore proves the linear DP (running-max anchors, one
# user exchange) equals the quadratic reference semantics.


@register(
    "q_window_funnel",
    oracle="""
WITH e AS (
  SELECT user_id, event_id, ts, event_type,
         CAST(FLOOR(epoch(ts)) AS BIGINT) AS s
  FROM events WHERE event_type IN ('view','click','purchase')
),
l1 AS (SELECT DISTINCT user_id FROM e WHERE event_type = 'view'),
l2 AS (
  SELECT DISTINCT a.user_id FROM e a JOIN e b
    ON b.user_id = a.user_id AND a.event_type = 'view'
   AND b.event_type = 'click'
   AND (b.ts > a.ts OR (b.ts = a.ts AND b.event_id > a.event_id))
   AND b.s - a.s <= 10800
),
l3 AS (
  SELECT DISTINCT a.user_id FROM e a JOIN e b
    ON b.user_id = a.user_id AND a.event_type = 'view'
   AND b.event_type = 'click'
   AND (b.ts > a.ts OR (b.ts = a.ts AND b.event_id > a.event_id))
  JOIN e c ON c.user_id = a.user_id AND c.event_type = 'purchase'
   AND (c.ts > b.ts OR (c.ts = b.ts AND c.event_id > b.event_id))
   AND c.s - a.s <= 10800
),
levels AS (
  SELECT u.user_id,
    CASE WHEN l3.user_id IS NOT NULL THEN 3
         WHEN l2.user_id IS NOT NULL THEN 2
         WHEN l1.user_id IS NOT NULL THEN 1 ELSE 0 END AS level
  FROM (SELECT DISTINCT user_id FROM events) u
  LEFT JOIN l1 ON l1.user_id = u.user_id
  LEFT JOIN l2 ON l2.user_id = u.user_id
  LEFT JOIN l3 ON l3.user_id = u.user_id
)
SELECT level, COUNT(*) AS n_users FROM levels GROUP BY level ORDER BY level
""",
    doc=(
        "3-step strict-order window funnel (view->click->purchase, 3 h): "
        "linear running-max-anchor DP on one user exchange, gate-proven "
        "equal to the k-way EXISTS-join semantics"
    ),
    tags=("behavior", "funnel"),
)
def q_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_engineering_project_spark.operators.behavior import (
        window_funnel,
    )

    ev = load_table(spark, sf_dir, "events")
    per_user = window_funnel(
        ev, "user_id", "ts", "event_id", "event_type",
        ("view", "click", "purchase"), 10800,
    )
    return (
        per_user.groupBy("level")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
        .orderBy("level")
    )


# --- Theil-Sen robust trend ---------------------------------------------------


@register(
    "q_theil_sen_trend",
    oracle="""
WITH e AS (
  SELECT event_type, CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
         CAST(FLOOR(epoch(ts)) AS BIGINT) AS t, "value" AS v
  FROM events WHERE ts < TIMESTAMP '2024-01-08'
),
slopes AS (
  SELECT a.event_type, a.day,
         (b.v - a.v) / CAST(b.t - a.t AS DOUBLE) AS slope
  FROM e a JOIN e b
    ON a.event_type = b.event_type AND a.day = b.day AND a.t < b.t
)
SELECT event_type, day, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       quantile_cont(slope, 0.5) AS ts_slope_per_sec
FROM slopes GROUP BY event_type, day
ORDER BY event_type, day
""",
    doc=(
        "Theil-Sen robust trend per (type, day) over the first week: "
        "exact median of pairwise slopes — tolerates ~29% wild points "
        "where the OLS twin breaks at one; quadratic per bounded group "
        "by design (operators/anomaly.py:theil_sen_trend)"
    ),
    tags=("behavior", "regression", "robust"),
)
def q_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_engineering_project_spark.operators.anomaly import (
        theil_sen_trend,
    )

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts") < F.lit("2024-01-08").cast("timestamp"))
        .withColumn("day", F.to_date("ts").cast("string"))
    )
    return theil_sen_trend(
        ev, ["event_type", "day"], "ts", "value"
    ).orderBy("event_type", "day")


@register(
    "q_attribution_linear",
    oracle="""
WITH t AS (
  SELECT event_id AS touch_id, user_id, ts, event_type AS channel
  FROM events WHERE event_type IN ('click', 'view')
),
c AS (
  SELECT event_id AS conv_id, user_id, ts,
         CAST(round(value * 100, 0) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
),
j AS (
  SELECT c.conv_id, c.cents, t.touch_id, t.channel
  FROM c LEFT JOIN t
    ON t.user_id = c.user_id
   AND t.ts <= c.ts
   AND t.ts >= c.ts - INTERVAL 6 HOUR
),
n AS (
  SELECT *, COUNT(touch_id) OVER (PARTITION BY conv_id) AS n_touch FROM j
),
cr AS (
  SELECT COALESCE(channel, '(direct)') AS channel, touch_id, conv_id,
         CASE WHEN n_touch = 0 THEN cents * 1000000
              ELSE (cents * 1000000) // n_touch END AS credit
  FROM n
)
SELECT channel,
       CAST(SUM(credit) AS BIGINT) AS attributed_units,
       CAST(SUM(credit) AS DOUBLE) / 100000000.0 AS attributed_value,
       CAST(COUNT(touch_id) AS BIGINT) AS n_touches,
       CAST(COUNT(DISTINCT conv_id) AS BIGINT) AS n_conversions
FROM cr GROUP BY 1 ORDER BY channel
""",
    doc="Linear multi-touch attribution: every purchase's value split "
    "equally (integer floor-division micro-credits -> exact cross-"
    "engine) across the user's click/view touches in the preceding "
    "6 h; touchless purchases credit '(direct)' in full. Keyed join "
    "with the lookback as post-condition, one conversion-keyed window "
    "for the split size, per-channel rollup "
    "(operators/behavior.py:linear_attribution)",
    headline=True,
    tags=("behavior", "temporal", "join"),
)
def q_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_engineering_project_spark.operators.behavior import (
        linear_attribution,
    )

    ev = load_table(spark, sf_dir, "events")
    touches = ev.filter(F.col("event_type").isin("click", "view"))
    convs = ev.filter(F.col("event_type") == "purchase")
    return linear_attribution(
        touches,
        convs,
        user_col="user_id",
        touch_ts="ts",
        touch_id="event_id",
        channel_col="event_type",
        conv_ts="ts",
        conv_id="event_id",
        value_col="value",
        lookback_s=6 * 3600,
    ).orderBy("channel")


_RFM_NOW = "2001-09-01"


@register(
    "q_rfm_segments",
    oracle=f"""
WITH per_c AS (
  SELECT o_custkey AS c,
         date_diff('day', MAX(o_orderdate),
                   TIMESTAMP '{_RFM_NOW} 00:00:00') AS rec,
         CAST(COUNT(*) AS BIGINT) AS freq,
         SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS cents
  FROM orders GROUP BY 1
),
t AS (
  SELECT c,
         ntile(5) OVER (ORDER BY rec ASC, c ASC) AS r_tier,
         ntile(5) OVER (ORDER BY freq DESC, c ASC) AS f_tier,
         ntile(5) OVER (ORDER BY cents DESC, c ASC) AS m_tier
  FROM per_c
)
SELECT r_tier, f_tier, m_tier,
       CAST(COUNT(*) AS BIGINT) AS n_customers
FROM t GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
""",
    doc="RFM customer segmentation: recency (days to a frozen "
    "instant) / frequency / monetary (exact cents) quintiles, tier 1 "
    "= best, counted per (R,F,M) cell. Tiers come from the SCALE-"
    "CORRECT ntile (two-phase global_row_number + the closed-form "
    "tile formula, pinned == SQL NTILE by pytest) — the oracle uses "
    "DuckDB's native ntile over the same total orders, so the gate "
    "proves the distributed formulation reproduces single-window "
    "NTILE semantics exactly (operators/linkage.py:ntile_scalable)",
    headline=True,
    tags=("behavior", "warehouse", "window"),
)
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_engineering_project_spark.operators.linkage import (
        ntile_scalable,
    )

    orders = load_table(spark, sf_dir, "orders")
    per_c = orders.groupBy(F.col("o_custkey").alias("c")).agg(
        F.datediff(
            F.lit(_RFM_NOW).cast("timestamp"), F.max("o_orderdate")
        ).alias("rec"),
        F.count(F.lit(1)).alias("freq"),
        F.sum(
            F.round(F.col("o_totalprice") * 100, 0).cast("long")
        ).alias("cents"),
    )
    t = ntile_scalable(per_c, [F.col("rec").asc(), F.col("c").asc()], 5, "r_tier")
    t = ntile_scalable(t, [F.col("freq").desc(), F.col("c").asc()], 5, "f_tier")
    t = ntile_scalable(t, [F.col("cents").desc(), F.col("c").asc()], 5, "m_tier")
    return (
        t.groupBy("r_tier", "f_tier", "m_tier")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("r_tier", "f_tier", "m_tier")
    )


@register(
    "q_gini_by_type",
    oracle="""
WITH per_u AS (
  SELECT event_type, user_id,
         SUM(CAST(round(value * 100, 0) AS BIGINT)) AS cents
  FROM events GROUP BY 1, 2
),
ranked AS (
  SELECT event_type, cents,
         row_number() OVER (
           PARTITION BY event_type ORDER BY cents ASC, user_id ASC
         ) AS rn
  FROM per_u
),
s AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         SUM(CAST(cents AS HUGEINT)) AS s1,
         SUM(CAST(rn AS HUGEINT) * cents) AS s2
  FROM ranked GROUP BY 1
)
SELECT event_type, n,
       CAST(s1 AS BIGINT) AS total_cents,
       (2.0 * CAST(s2 AS DOUBLE))
         / (CAST(n AS DOUBLE) * CAST(s1 AS DOUBLE))
         - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE) AS gini
FROM s ORDER BY event_type
""",
    doc="Gini concentration of per-user spend within each event_type "
    "— 'how unequal is engagement value' (0 = uniform, ->1 = one "
    "whale), the skew diagnostic beside key_skew_report's shuffle "
    "view. Exact integer sufficient stats (cents, rank-weighted sum "
    "in DECIMAL(38,0)/HUGEINT over a per-type total order), double "
    "finishing mirrored operand-for-operand; per-type windows are "
    "user-cardinality-bounded, no global sort",
    headline=False,
    tags=("behavior", "analytics", "window"),
)
def q_gini_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    per_u = ev.groupBy("event_type", "user_id").agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("cents")
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("cents").asc(), F.col("user_id").asc()
    )
    ranked = per_u.withColumn("rn", F.row_number().over(w))
    s = ranked.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("cents").cast("decimal(38,0)")).alias("__s1"),
        F.sum(
            F.col("rn").cast("decimal(38,0)") * F.col("cents")
        ).alias("__s2"),
    )
    return s.select(
        "event_type",
        "n",
        F.col("__s1").cast("long").alias("total_cents"),
        (
            (F.lit(2.0) * F.col("__s2").cast("double"))
            / (F.col("n").cast("double") * F.col("__s1").cast("double"))
            - (F.col("n").cast("double") + F.lit(1.0))
            / F.col("n").cast("double")
        ).alias("gini"),
    ).orderBy("event_type")


@register(
    "q_weighted_median_price",
    oracle="""
WITH per_v AS (
  SELECT l_returnflag, l_extendedprice AS v,
         SUM(CAST(l_quantity AS BIGINT)) AS w
  FROM lineitem GROUP BY 1, 2
),
cum AS (
  SELECT l_returnflag, v, w,
         SUM(w) OVER (PARTITION BY l_returnflag ORDER BY v
                      ROWS UNBOUNDED PRECEDING) AS cw,
         SUM(w) OVER (PARTITION BY l_returnflag) AS tw
  FROM per_v
)
SELECT l_returnflag,
       MIN(v) AS weighted_median,
       CAST(MAX(tw) AS BIGINT) AS total_weight
FROM cum WHERE cw * 2 >= tw
GROUP BY 1 ORDER BY l_returnflag
""",
    doc="Exact quantity-weighted median extended price per return "
    "flag: smallest price whose cumulative quantity reaches half the "
    "group total (all-integer 2*cumw >= W compare, no division). "
    "Values collapse to distinct (key, value) weights BEFORE the "
    "cumulative window, so the per-key sort is value-cardinality-"
    "bounded, not row-bounded "
    "(operators/behavior.py:weighted_median)",
    tags=("behavior", "analytics", "window"),
)
def q_weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_engineering_project_spark.operators.behavior import (
        weighted_median,
    )

    li = load_table(spark, sf_dir, "lineitem")
    return weighted_median(
        li, ["l_returnflag"], "l_extendedprice", "l_quantity"
    ).orderBy("l_returnflag")


@register(
    "q_ks_value_drift",
    oracle="""
WITH tagged AS (
  SELECT event_type, value AS v,
         CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
              THEN 1 ELSE 0 END AS b
  FROM events
),
per_v AS (
  SELECT event_type, v,
         SUM(1 - b) AS a_cnt, SUM(b) AS b_cnt
  FROM tagged GROUP BY 1, 2
),
cum AS (
  SELECT event_type,
         SUM(a_cnt) OVER (PARTITION BY event_type ORDER BY v
                          ROWS UNBOUNDED PRECEDING) AS ca,
         SUM(b_cnt) OVER (PARTITION BY event_type ORDER BY v
                          ROWS UNBOUNDED PRECEDING) AS cb,
         SUM(a_cnt) OVER (PARTITION BY event_type) AS na,
         SUM(b_cnt) OVER (PARTITION BY event_type) AS nb
  FROM per_v
)
SELECT event_type,
       CAST(MAX(na) AS BIGINT) AS n_a,
       CAST(MAX(nb) AS BIGINT) AS n_b,
       CAST(MAX(ABS(CAST(ca AS HUGEINT) * nb
                    - CAST(cb AS HUGEINT) * na)) AS DOUBLE)
         / (CAST(MAX(na) AS DOUBLE) * CAST(MAX(nb) AS DOUBLE)) AS ks_stat
FROM cum GROUP BY 1 ORDER BY event_type
""",
    doc="Exact two-sample Kolmogorov-Smirnov drift per event_type: "
    "first-half vs second-half of the month, KS taken as the max of "
    "INTEGER cross-multiplied cumulative counts (DECIMAL(38,0)/"
    "HUGEINT) with one final IEEE division — the distribution-shape "
    "drift test beside profile_drift's moments. Distinct-value "
    "collapse before the window keeps per-key sorts value-"
    "cardinality-bounded (operators/anomaly.py:ks_drift)",
    headline=False,
    tags=("behavior", "anomaly", "window"),
)
def q_ks_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_engineering_project_spark.operators.anomaly import (
        ks_drift,
    )

    ev = load_table(spark, sf_dir, "events")
    return ks_drift(
        ev, ["event_type"], "value",
        F.col("ts") >= F.lit("2024-01-16").cast("timestamp"),
    ).orderBy("event_type")


@register(
    "q_pmi_type_hour",
    oracle="""
WITH cells AS (
  SELECT event_type, hour(ts) AS hr, CAST(COUNT(*) AS BIGINT) AS njoint
  FROM events GROUP BY 1, 2
),
mx AS (SELECT event_type, SUM(njoint) AS nx FROM cells GROUP BY 1),
my AS (SELECT hr, SUM(njoint) AS ny FROM cells GROUP BY 1),
tot AS (SELECT SUM(njoint) AS n FROM cells)
SELECT c.event_type, c.hr, c.njoint,
       CAST(c.njoint * t.n AS DOUBLE) / CAST(x.nx * y.ny AS DOUBLE)
         AS lift
FROM cells c
JOIN mx x USING (event_type)
JOIN my y USING (hr)
CROSS JOIN tot t
ORDER BY c.event_type, c.hr
""",
    doc="Type × hour-of-day association lift — 'which activity is "
    "over-represented WHEN' (lift > 1: the cell is denser than "
    "independence predicts; PMI = ln(lift) is rank-equivalent, and "
    "the ln is deliberately NOT materialized — JVM vs libm ln "
    "diverges at the ULP, the collocations rule "
    "text_analysis.py:518). ONE input pass: the (type, hour) cell "
    "table is the only scan, margins and the grand total re-aggregate "
    "FROM the cells (type-count × 24 rows, broadcast back), integer "
    "counts throughout — the only double is ONE correctly-rounded "
    "IEEE division of exact integer products, bit-stable across "
    "engines",
    headline=False,
    tags=("behavior", "analytics"),
)
def q_pmi_type_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE scan: margins and the grand total are window sums over the
    # CELLS frame, which is group-cardinality-bounded (n_types × 24
    # rows) — the same bounded-frame license as the two-phase rank
    # offset tables. Re-aggregating margins from cells as separate
    # frames plans 4 independent input scans (measured: neither
    # ReuseExchange nor a grouping-sets formulation dedupes them —
    # the optimizer prunes each Expand differently).
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type", F.hour("ts").alias("hr")
    ).agg(F.count(F.lit(1)).alias("njoint"))
    nx = F.sum("njoint").over(Window.partitionBy("event_type"))
    ny = F.sum("njoint").over(Window.partitionBy("hr"))
    n = F.sum("njoint").over(
        Window.partitionBy(F.lit(1))
    )
    return (
        cells.select(
            "event_type",
            "hr",
            "njoint",
            (
                (F.col("njoint") * n).cast("double")
                / (nx * ny).cast("double")
            ).alias("lift"),
        )
        .orderBy("event_type", "hr")
    )


@register(
    "q_value_hour_corr",
    oracle="""
WITH f AS (
  SELECT event_type,
         CAST(round(value * 100, 0) AS BIGINT) AS x,
         CAST(hour(ts) AS BIGINT) AS y
  FROM events
),
s AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         SUM(CAST(x AS HUGEINT)) AS sx,
         SUM(CAST(y AS HUGEINT)) AS sy,
         SUM(CAST(x AS HUGEINT) * y) AS sxy,
         SUM(CAST(x AS HUGEINT) * x) AS sxx,
         SUM(CAST(y AS HUGEINT) * y) AS syy
  FROM f GROUP BY 1
)
SELECT event_type, n,
       CAST(n * sxy - sx * sy AS DOUBLE)
         / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
            * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS pearson_r
FROM s ORDER BY event_type
""",
    doc="Pearson correlation (value cents × hour-of-day) per "
    "event_type from EXACT integer sufficient statistics: n, Σx, Σy, "
    "Σxy, Σx², Σy² accumulate in DECIMAL(38,0)/HUGEINT (one "
    "partial-aggregable pass, map-side combined — never a "
    "corr()-style streaming-moment kernel whose float accumulation "
    "order is engine- and partitioning-dependent); the double appears "
    "only in the closed form's final ops — two correctly-rounded "
    "sqrts and one division, mirrored operand-for-operand. The "
    "engine's own F.corr is the non-reproducible path this "
    "formulation replaces",
    headline=False,
    tags=("behavior", "analytics"),
)
def q_value_hour_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    f = ev.select(
        "event_type",
        F.round(F.col("value") * 100, 0).cast("long").alias("x"),
        F.hour("ts").cast("long").alias("y"),
    )
    d = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    s = f.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(d("x")).alias("sx"),
        F.sum(d("y")).alias("sy"),
        F.sum(d("x") * F.col("y")).alias("sxy"),
        F.sum(d("x") * F.col("x")).alias("sxx"),
        F.sum(d("y") * F.col("y")).alias("syy"),
    )
    nn = F.col("n").cast("decimal(38,0)")
    return s.select(
        "event_type",
        "n",
        (
            (nn * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
            / (
                F.sqrt(
                    (nn * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
                        "double"
                    )
                )
                * F.sqrt(
                    (nn * F.col("syy") - F.col("sy") * F.col("sy")).cast(
                        "double"
                    )
                )
            )
        ).alias("pearson_r"),
    ).orderBy("event_type")


@register(
    "q_attribution_time_decay",
    oracle="""
WITH t AS (
  SELECT event_id AS touch_id, user_id, ts, event_type AS channel
  FROM events WHERE event_type IN ('click', 'view')
),
c AS (
  SELECT event_id AS conv_id, user_id, ts,
         CAST(round(value * 100, 0) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
),
j AS (
  SELECT c.conv_id, c.cents, t.touch_id, t.channel,
         (epoch(c.ts)::BIGINT - epoch(t.ts)::BIGINT) // 3600 AS b
  FROM c LEFT JOIN t
    ON t.user_id = c.user_id
   AND t.ts <= c.ts
   AND t.ts >= c.ts - INTERVAL 6 HOUR
),
n AS (
  SELECT *, COUNT(touch_id) OVER (PARTITION BY conv_id) AS n_touch,
         (CAST(1 AS BIGINT) << LEAST(
            CAST(MAX(b) OVER (PARTITION BY conv_id) - b AS INTEGER),
            20)) AS w
  FROM j
),
s AS (
  SELECT *, SUM(w) OVER (PARTITION BY conv_id) AS sw FROM n
),
cr AS (
  SELECT COALESCE(channel, '(direct)') AS channel, touch_id, conv_id,
         CASE WHEN n_touch = 0 THEN CAST(cents AS HUGEINT) * 1000000
              ELSE (CAST(cents AS HUGEINT) * 1000000 * w) // sw
         END AS credit
  FROM s
)
SELECT channel,
       CAST(SUM(credit) AS BIGINT) AS attributed_units,
       CAST(SUM(credit) AS DOUBLE) / 100000000.0 AS attributed_value,
       CAST(COUNT(touch_id) AS BIGINT) AS n_touches,
       CAST(COUNT(DISTINCT conv_id) AS BIGINT) AS n_conversions
FROM cr GROUP BY 1 ORDER BY channel
""",
    doc="Time-decay multi-touch attribution (1 h half-life, 6 h "
    "lookback): a touch's share of the purchase halves per hour of "
    "age — the recency-weighted sibling of q_attribution_linear. The "
    "decay is NEVER a float pow: ages bucket to whole half-lives "
    "(integer div), weights are the INTEGER ladder 1 << (b_max − b) "
    "capped at 2^20, credits are exact integral divisions in "
    "DECIMAL(38,0)/HUGEINT — bit-identical cross-engine. Same "
    "user-keyed join with the lookback as post-condition, one "
    "conversion-keyed window, partial-aggregable channel rollup "
    "(operators/behavior.py:time_decay_attribution)",
    headline=False,
    tags=("behavior", "temporal", "join"),
)
def q_attribution_time_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_engineering_project_spark.operators.behavior import (
        time_decay_attribution,
    )

    ev = load_table(spark, sf_dir, "events")
    touches = ev.filter(F.col("event_type").isin("click", "view"))
    convs = ev.filter(F.col("event_type") == "purchase")
    return time_decay_attribution(
        touches,
        convs,
        user_col="user_id",
        touch_ts="ts",
        touch_id="event_id",
        channel_col="event_type",
        conv_ts="ts",
        conv_id="event_id",
        value_col="value",
        lookback_s=6 * 3600,
        half_life_s=3600,
    ).orderBy("channel")


@register(
    "q_purchase_rate_wilson",
    oracle="""
WITH h AS (
  SELECT hour(ts) AS hr,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n,
         CAST(COUNT(DISTINCT CASE WHEN event_type = 'purchase'
                                  THEN user_id END) AS BIGINT) AS k
  FROM events GROUP BY 1
),
d AS (
  -- z MUST be cast: a bare 1.96 literal is DECIMAL in DuckDB, so
  -- 1.96*1.96 would be the EXACT 3.8416, not the double
  -- 3.8415999999999997 Spark computes — a 1-ULP divergence in the
  -- bound (caught by the sf0.001 gate).
  SELECT hr, n, k,
         CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS p,
         CAST(1.96 AS DOUBLE) AS z,
         CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE) AS z2
  FROM h
)
SELECT hr, n, k, p AS rate,
       ((p + z2 / (2.0 * n)) - z * sqrt(
          (p * (1.0 - p) + z2 / (4.0 * n)) / n))
         / (1.0 + z2 / n) AS wilson_lo,
       ((p + z2 / (2.0 * n)) + z * sqrt(
          (p * (1.0 - p) + z2 / (4.0 * n)) / n))
         / (1.0 + z2 / n) AS wilson_hi
FROM d ORDER BY hr
""",
    doc="Per-hour purchase conversion with Wilson 95% score bounds — "
    "the A/B-statistics member: which hours' rates are "
    "DISTINGUISHABLE once user counts are accounted for (the "
    "normal-approximation interval misbehaves at small n / extreme p; "
    "Wilson does not). Integer distinct counts from one aggregate; "
    "the interval is a fixed chain of IEEE double ops (divisions, one "
    "correctly-rounded sqrt) mirrored PARENTHESIS-FOR-PARENTHESIS by "
    "the oracle — no libm transcendentals, so the chain is "
    "bit-stable cross-engine",
    headline=False,
    tags=("behavior", "analytics"),
)
def q_purchase_rate_wilson(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    h = ev.groupBy(F.hour("ts").alias("hr")).agg(
        F.countDistinct("user_id").alias("n"),
        F.countDistinct(
            F.when(F.col("event_type") == "purchase", F.col("user_id"))
        ).alias("k"),
    )
    p = F.col("k").cast("double") / F.col("n").cast("double")
    nD = F.col("n").cast("double")
    z = F.lit(1.96)
    z2 = z * z
    center = p + z2 / (F.lit(2.0) * nD)
    rad = z * F.sqrt(
        (p * (F.lit(1.0) - p) + z2 / (F.lit(4.0) * nD)) / nD
    )
    denom = F.lit(1.0) + z2 / nD
    return h.select(
        "hr",
        "n",
        "k",
        p.alias("rate"),
        ((center - rad) / denom).alias("wilson_lo"),
        ((center + rad) / denom).alias("wilson_hi"),
    ).orderBy("hr")


# --- exact ROC AUC (operators/features.py:auc_exact) ---------------------------


@register(
    "q_purchase_auc",
    oracle="""
WITH g AS (
  SELECT "value" AS s, COUNT(*) AS cnt,
         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS pos
  FROM events GROUP BY 1
),
r AS (
  SELECT s, cnt, pos,
         COALESCE(SUM(cnt) OVER (ORDER BY s
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
  FROM g
)
SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
       CAST(SUM(cnt) - SUM(pos) AS BIGINT) AS n_neg,
       CAST(SUM(pos * (2 * cb + cnt + 1))
            - SUM(pos) * (SUM(pos) + 1) AS BIGINT) AS u2,
       (SUM(pos * (2 * cb + cnt + 1)) - SUM(pos) * (SUM(pos) + 1))
         / CAST(2 * SUM(pos) * (SUM(cnt) - SUM(pos)) AS DOUBLE) AS auc
FROM r
""",
    doc="Exact ROC AUC of `value` as a purchase classifier — the "
    "model-eval primitive beside the trainers: Mann-Whitney rank-sum "
    "with midrank tie handling (≡ trapezoidal ROC integration), "
    "integer throughout (midranks ×2), one final division. Scores "
    "collapse to the distinct-value table, then the rank prefix sum "
    "is the TWO-LEVEL concurrency_profile form (within-bucket window "
    "+ rolling per-bucket offsets) so continuous scores never funnel "
    "one sort task; the oracle IS the naive single window "
    "(operators/features.py:auc_exact)",
    tags=("behavior", "ml", "window"),
)
def q_purchase_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_engineering_project_spark.operators.features import (
        auc_exact,
    )

    ev = load_table(spark, sf_dir, "events")
    return auc_exact(
        ev.select(
            "value",
            (F.col("event_type") == "purchase").alias("is_purchase"),
        ),
        "value",
        "is_purchase",
        bucket_width=10.0,
    )


@register(
    "q_purchase_auc_by_cohort",
    oracle="""
WITH g AS (
  SELECT event_id % 4 AS cohort, "value" AS s, COUNT(*) AS cnt,
         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS pos
  FROM events GROUP BY 1, 2
),
r AS (
  SELECT cohort, s, cnt, pos,
         COALESCE(SUM(cnt) OVER (PARTITION BY cohort ORDER BY s
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
  FROM g
)
SELECT cohort,
       CAST(SUM(pos) AS BIGINT) AS n_pos,
       CAST(SUM(cnt) - SUM(pos) AS BIGINT) AS n_neg,
       CAST(SUM(pos * (2 * cb + cnt + 1))
            - SUM(pos) * (SUM(pos) + 1) AS BIGINT) AS u2,
       (SUM(pos * (2 * cb + cnt + 1)) - SUM(pos) * (SUM(pos) + 1))
         / CAST(2 * SUM(pos) * (SUM(cnt) - SUM(pos)) AS DOUBLE) AS auc
FROM r
GROUP BY cohort
ORDER BY cohort
""",
    doc="PER-KEY exact ROC AUC (the production evaluation shape — "
    "one AUC per segment from one pass) with the RANGE-DERIVED "
    "bucket width: bucket_width=None measures (max−min)/1024 in one "
    "eager agg, closing the r9 degenerate-default hazard where "
    "[0,1]-range scores all landed in bucket 0 and the two-level "
    "rank silently became a single-task sort (explicit widths stay "
    "lazy but carry a plan-embedded raise_error guard that fails any "
    "width wider than half the observed range). Cohort key = "
    "event_id % 4 "
    "(independent of the purchase label, so both classes appear per "
    "key); the oracle is the naive per-key window "
    "(operators/features.py:auc_exact)",
    tags=("behavior", "ml", "window"),
)
def q_purchase_auc_by_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_engineering_project_spark.operators.features import (
        auc_exact,
    )

    ev = load_table(spark, sf_dir, "events")
    return auc_exact(
        ev.select(
            F.pmod(F.col("event_id"), F.lit(4)).alias("cohort"),
            "value",
            (F.col("event_type") == "purchase").alias("is_purchase"),
        ),
        "value",
        "is_purchase",
        key_cols=["cohort"],
    ).orderBy("cohort")


_PR_THRESHOLDS = (50.0, 100.0, 150.0, 190.0, 250.0)


@register(
    "q_purchase_pr_curve",
    oracle=f"""
WITH t AS (SELECT unnest([{", ".join(str(t) for t in _PR_THRESHOLDS)}]) AS threshold),
c AS (
  SELECT t.threshold,
         SUM(CASE WHEN e.event_type = 'purchase'
                   AND e."value" >= t.threshold THEN 1 ELSE 0 END) AS tp,
         SUM(CASE WHEN e.event_type <> 'purchase'
                   AND e."value" >= t.threshold THEN 1 ELSE 0 END) AS fp,
         SUM(CASE WHEN e.event_type = 'purchase'
                   AND e."value" < t.threshold THEN 1 ELSE 0 END) AS fn
  FROM events e, t GROUP BY 1
)
SELECT threshold, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
       CAST(fn AS BIGINT) AS fn,
       CASE WHEN tp + fp > 0
            THEN tp / CAST(tp + fp AS DOUBLE) END AS precision,
       CASE WHEN tp + fn > 0
            THEN tp / CAST(tp + fn AS DOUBLE) END AS recall
FROM c ORDER BY threshold
""",
    doc="Precision/recall operating points of `value` as a purchase "
    "classifier at five fixed thresholds — the deployment companion "
    "to q_purchase_auc (AUC ranks, a threshold ships): rows explode "
    "×|thresholds| and map-side combine collapses every partition to "
    "≤ 5 counter groups before the exchange — no windows, no "
    "distinct-score table, shuffle carries 5 rows per partition at "
    "any input size (operators/features.py:pr_curve)",
    tags=("behavior", "ml"),
)
def q_purchase_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_engineering_project_spark.operators.features import (
        pr_curve,
    )

    ev = load_table(spark, sf_dir, "events")
    return pr_curve(
        ev.select(
            "value",
            (F.col("event_type") == "purchase").alias("is_purchase"),
        ),
        "value",
        "is_purchase",
        list(_PR_THRESHOLDS),
    ).orderBy("threshold")


@register(
    "q_purchase_calibration",
    oracle="""
SELECT CAST(FLOOR("value" / 25.0) AS BIGINT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_pos,
       CAST(SUM(CAST("value" AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
         AS mean_score,
       SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         / CAST(COUNT(*) AS DOUBLE) AS pos_rate
FROM events
GROUP BY 1 ORDER BY 1
""",
    doc="Reliability diagram of `value` as a purchase score: fixed-"
    "width bins (width 25) with observed purchase rate and exact-"
    "decimal mean score per bin — the calibration member of the eval "
    "trio (q_purchase_auc ranks, q_purchase_pr_curve picks the "
    "threshold). One partial-aggregable groupBy, zero windows "
    "(operators/features.py:score_calibration)",
    tags=("behavior", "ml"),
)
def q_purchase_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_engineering_project_spark.operators.features import (
        score_calibration,
    )

    ev = load_table(spark, sf_dir, "events")
    return score_calibration(
        ev.select(
            "value",
            (F.col("event_type") == "purchase").alias("is_purchase"),
        ),
        "value",
        "is_purchase",
        bin_width=25.0,
    ).orderBy("bin")


_NDCG_K = 10
# frozen integer discount ladder — generated by features.ndcg_weights(10);
# the oracle embeds the SAME literals (test_ndcg pins the generator)
_NDCG_W = (1000000000, 630929754, 500000000, 430676558, 386852807, 356207187, 333333333, 315464877, 301029996, 289064826)


@register(
    "q_value_ndcg",
    oracle="""
WITH base AS (
  SELECT event_type,
         event_id AS item,
         CAST(FLOOR(epoch(ts)) AS BIGINT) AS s,
         CASE WHEN "value" >= 150 THEN 3
              WHEN "value" >= 100 THEN 2
              WHEN "value" >= 50 THEN 1 ELSE 0 END AS rel
  FROM events
),
ranked AS (
  SELECT event_type, rel,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY s DESC, item ASC) AS rk,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY rel DESC, item ASC) AS ik
  FROM base
),
agg AS (
  SELECT event_type,
    CAST(SUM(CASE WHEN rk <= 10 THEN CAST(rel AS BIGINT) * ([1000000000, 630929754, 500000000, 430676558, 386852807, 356207187, 333333333, 315464877, 301029996, 289064826][rk]) ELSE 0 END)
         AS BIGINT) AS dcg,
    CAST(SUM(CASE WHEN ik <= 10 THEN CAST(rel AS BIGINT) * ([1000000000, 630929754, 500000000, 430676558, 386852807, 356207187, 333333333, 315464877, 301029996, 289064826][ik]) ELSE 0 END)
         AS BIGINT) AS idcg
  FROM ranked GROUP BY 1
)
SELECT event_type, dcg, idcg,
       CASE WHEN idcg > 0
            THEN CAST(dcg AS DOUBLE) / CAST(idcg AS DOUBLE) END AS ndcg
FROM agg ORDER BY event_type
""",
    doc="NDCG@10 per event type — the RANKING member of the eval "
    "family (AUC ranks the classifier, PR picks the threshold, "
    "calibration checks probability meaning; NDCG scores a ranked "
    "list against graded relevance — the similarity-search / "
    "recommender eval): does recency rank high-value events first? "
    "The log2 discount is FROZEN to an integer ladder "
    "(features.ndcg_weights — the Fellegi-Sunter literal discipline), "
    "so DCG/IDCG are exact integer sums, ties break on a total order "
    "(score DESC, id ASC), and ndcg is one correctly-rounded "
    "division; both windows partition by the query key, so no global "
    "sort (operators/features.py:ndcg_at_k)",
    tags=("behavior", "ml", "window"),
)
def q_value_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_engineering_project_spark.operators.features import (
        ndcg_at_k,
    )

    ev = load_table(spark, sf_dir, "events")
    rel = (
        F.when(F.col("value") >= 150, 3)
        .when(F.col("value") >= 100, 2)
        .when(F.col("value") >= 50, 1)
        .otherwise(0)
    )
    base = ev.select(
        "event_type",
        F.col("event_id").alias("item"),
        F.unix_timestamp("ts").alias("s"),
        rel.alias("rel"),
    )
    return ndcg_at_k(
        base, ["event_type"], "item", "s", "rel", k=_NDCG_K
    ).orderBy("event_type")


_AP_K = 10
# lcm(1..10) scaffolding — generated by features.ap_weights(10);
# the oracle embeds the SAME integers (test_map_at_k pins the generator)
_AP_L = 2520
_AP_W = (2520, 1260, 840, 630, 504, 420, 360, 315, 280, 252)


@register(
    "q_purchase_map",
    oracle=f"""
WITH base AS (
  SELECT event_type,
         event_id AS item,
         CAST(FLOOR(epoch(ts)) AS BIGINT) AS s,
         CASE WHEN "value" >= 150 THEN 1 ELSE 0 END AS rel
  FROM events
),
ranked AS (
  SELECT event_type, rel,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY s DESC, item ASC) AS rk,
         SUM(rel) OVER (PARTITION BY event_type
                        ORDER BY s DESC, item ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS hits
  FROM base
),
agg AS (
  SELECT event_type,
    CAST(SUM(CASE WHEN rk <= {_AP_K} AND rel = 1
             THEN CAST(hits AS BIGINT) * ([{", ".join(str(w) for w in _AP_W)}][rk])
             ELSE 0 END) AS BIGINT) AS ap_num,
    CAST(SUM(rel) AS BIGINT) AS n_rel
  FROM ranked GROUP BY 1
)
SELECT event_type, ap_num,
       CAST({_AP_L} AS BIGINT) * LEAST(n_rel, {_AP_K}) AS ap_den,
       n_rel,
       CASE WHEN n_rel > 0
            THEN CAST(ap_num AS DOUBLE)
                 / ({_AP_L} * LEAST(n_rel, {_AP_K})) END AS ap
FROM agg ORDER BY event_type
""",
    doc="Average precision @ 10 per event type — the binary-"
    "relevance sibling of q_value_ndcg completing the ranking-eval "
    "pair: does recency put high-value (≥150) events at the top? "
    "P@i = hits/i becomes the exact integer hits·(lcm(1..k)/i) "
    "(features.ap_weights — rational sums need an lcm, not a rounded "
    "ladder), so ap_num/ap_den are exact integers and ap is one "
    "correctly-rounded division; the rank window partitions by the "
    "query key (operators/features.py:map_at_k)",
    tags=("behavior", "ml", "window"),
)
def q_purchase_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_engineering_project_spark.operators.features import (
        map_at_k,
    )

    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        F.col("event_id").alias("item"),
        F.unix_timestamp("ts").alias("s"),
        (F.col("value") >= 150).alias("rel"),
    )
    return map_at_k(
        base, ["event_type"], "item", "s", "rel", k=_AP_K
    ).orderBy("event_type")


@register(
    "q_purchase_mrr",
    oracle=f"""
WITH base AS (
  SELECT event_type,
         event_id AS item,
         CAST(FLOOR(epoch(ts)) AS BIGINT) AS s,
         CASE WHEN "value" >= 150 THEN 1 ELSE 0 END AS rel
  FROM events
),
ranked AS (
  SELECT event_type, rel,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY s DESC, item ASC) AS rk
  FROM base
)
SELECT event_type,
       CAST(MAX(CASE WHEN rk <= {_AP_K} AND rel = 1
                     THEN {_AP_L} // rk ELSE 0 END) AS BIGINT) AS rr_num,
       CAST({_AP_L} AS BIGINT) AS rr_den,
       CAST(SUM(rel) AS BIGINT) AS n_rel,
       CASE WHEN SUM(rel) > 0
            THEN MAX(CASE WHEN rk <= {_AP_K} AND rel = 1
                          THEN {_AP_L} // rk ELSE 0 END)
                 / CAST({_AP_L} AS DOUBLE) END AS rr
FROM ranked GROUP BY 1 ORDER BY event_type
""",
    doc="Reciprocal rank @ 10 per event type — completes the "
    "ranking-eval trio (NDCG grades positions, AP grades the "
    "precision profile, RR asks where the FIRST high-value hit "
    "lands: the known-item-search / QA-passage metric). rr_num = "
    "MAX(L DIV rank) over top-k hits with L = lcm(1..10) = 2520 — "
    "the division is exact for every rank ≤ k, so the row is integer "
    "until one final correctly-rounded division; zero-relevant keys "
    "get NULL (no answer exists ≠ answer not found); the only window "
    "partitions by the query key "
    "(operators/features.py:mrr_at_k)",
    tags=("behavior", "ml", "window"),
)
def q_purchase_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_engineering_project_spark.operators.features import (
        mrr_at_k,
    )

    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        F.col("event_id").alias("item"),
        F.unix_timestamp("ts").alias("s"),
        (F.col("value") >= 150).alias("rel"),
    )
    return mrr_at_k(
        base, ["event_type"], "item", "s", "rel", k=_AP_K
    ).orderBy("event_type")


@register(
    "q_purchase_ece",
    oracle="""
WITH bins AS (
  SELECT CAST(FLOOR("value" / 25.0) AS BIGINT) AS bin,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS pos,
         CAST(SUM(CAST(FLOOR(("value" / 100.0) * 1048576.0) AS BIGINT))
              AS BIGINT) AS s
  FROM events GROUP BY 1
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_bins,
       CAST(SUM(n) AS BIGINT) AS n,
       CAST(SUM(ABS(pos * 1048576 - s)) AS DOUBLE)
         / CAST(SUM(n) * 1048576 AS DOUBLE) AS ece
FROM bins
""",
    doc="Expected Calibration Error of `value`/100 as a purchase "
    "probability (width-25 bins): per-bin gaps are EXACT integers via "
    "the n_b·|acc−conf| = |pos_b − Σq| identity on the 2^20 "
    "confidence ladder, one final division — the scalar summary of "
    "q_purchase_calibration's reliability diagram "
    "(operators/features.py:expected_calibration_error)",
    tags=("behavior", "ml"),
)
def q_purchase_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_engineering_project_spark.operators.features import (
        expected_calibration_error,
    )

    ev = load_table(spark, sf_dir, "events")
    return expected_calibration_error(
        ev.select(
            "value",
            (F.col("event_type") == "purchase").alias("is_purchase"),
        ),
        "value",
        "is_purchase",
        bin_width=25.0,
        score_scale=100.0,
    )


@register(
    "q_annotator_kappa",
    oracle="""
WITH labeled AS (
  SELECT CASE WHEN "value" >= 75.0 THEN 'high'
              WHEN "value" >= 25.0 THEN 'mid' ELSE 'low' END AS a,
         CASE WHEN k >= 75 THEN 'high'
              WHEN k >= 25 THEN 'mid' ELSE 'low' END AS b
  FROM (SELECT "value",
               CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) AS k
        FROM events)
  WHERE "value" IS NOT NULL AND k IS NOT NULL
), cells AS (
  SELECT a, b, CAST(COUNT(*) AS BIGINT) AS n FROM labeled GROUP BY 1, 2
), r AS (SELECT a, CAST(SUM(n) AS HUGEINT) AS r FROM cells GROUP BY 1),
c AS (SELECT b, CAST(SUM(n) AS HUGEINT) AS c FROM cells GROUP BY 1),
cross_t AS (
  SELECT COALESCE(CAST(SUM(r.r * c.c) AS HUGEINT), 0) AS rc
  FROM r JOIN c ON r.a = c.b
), tot AS (
  SELECT CAST(SUM(n) AS HUGEINT) AS t,
         COALESCE(CAST(SUM(CASE WHEN a = b THEN n END) AS HUGEINT), 0)
           AS agree
  FROM cells
)
SELECT CAST(t AS BIGINT) AS n,
       CAST(agree AS BIGINT) AS agree,
       CAST(rc AS BIGINT) AS chance_num,
       CAST(t * agree - rc AS DOUBLE) / CAST(t * t - rc AS DOUBLE) AS kappa
FROM tot, cross_t
""",
    doc="Cohen's kappa between two deterministic 'annotators' of an "
    "engagement tier (value thresholds vs props.k thresholds) — "
    "chance-corrected agreement, the annotation-QA gate: all-integer "
    "N·Σn_kk − Σr_k·c_k numerator over the bounded contingency-cell "
    "table, one final division "
    "(operators/features.py:cohen_kappa)",
    tags=("behavior", "ml"),
)
def q_annotator_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_engineering_project_spark.operators.features import (
        cohen_kappa,
    )

    ev = load_table(spark, sf_dir, "events")
    tier = lambda col: (  # noqa: E731
        F.when(col >= F.lit(75.0), "high")
        .when(col >= F.lit(25.0), "mid")
        .otherwise("low")
    )
    k = F.from_json("props", "k LONG").getField("k")
    labeled = ev.filter(
        F.col("value").isNotNull() & k.isNotNull()
    ).select(
        tier(F.col("value")).alias("a"),
        tier(k.cast("double")).alias("b"),
    )
    return cohen_kappa(labeled, "a", "b")


@register(
    "q_fleiss_kappa",
    oracle="""
WITH r AS (
  SELECT user_id,
         CASE WHEN "value" >= 75.0 THEN 'high'
              WHEN "value" >= 25.0 THEN 'mid' ELSE 'low' END AS k,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events
  WHERE "value" IS NOT NULL AND user_id IS NOT NULL
), rt AS (SELECT user_id AS i, k FROM r WHERE rn <= 3),
cells AS (SELECT i, k, CAST(COUNT(*) AS BIGINT) AS n FROM rt GROUP BY 1, 2),
tot AS (SELECT i, SUM(n) AS t FROM cells GROUP BY 1),
kept AS (SELECT cells.i, cells.k, cells.n
         FROM cells JOIN tot ON cells.i = tot.i WHERE tot.t = 3),
s2n AS (SELECT CAST(SUM(n * n) AS HUGEINT) AS s2,
               CAST(COUNT(DISTINCT i) AS HUGEINT) AS ni FROM kept),
a AS (SELECT COALESCE(CAST(SUM(tk * tk) AS HUGEINT), 0) AS a
      FROM (SELECT k, CAST(SUM(n) AS HUGEINT) AS tk FROM kept GROUP BY 1))
SELECT CAST(ni AS BIGINT) AS n_items,
       CAST(3 AS BIGINT) AS n_raters,
       CAST(s2 AS BIGINT) AS s2,
       CAST(a AS BIGINT) AS cat_sq,
       CASE WHEN 2 * (ni * 3 * ni * 3 - a) != 0
            THEN CAST((s2 - ni * 3) * ni * 3 - a * 2 AS DOUBLE)
                 / CAST(2 * (ni * 3 * ni * 3 - a) AS DOUBLE) END AS kappa
FROM s2n, a
""",
    doc="Fleiss' kappa over 3 'ratings' per user (each user's first "
    "three events' engagement tiers, row_number-deterministic) — "
    "multi-rater chance-corrected agreement, the n>2 generalization "
    "of q_annotator_kappa: all-integer ((S2-Nn)Nn - A(n-1)) / "
    "((n-1)((Nn)^2 - A)) over the bounded contingency-cell table, "
    "DECIMAL(38,0) sums, one final division "
    "(operators/features.py:fleiss_kappa)",
    tags=("behavior", "ml"),
)
def q_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_engineering_project_spark.operators.features import (
        fleiss_kappa,
    )

    ev = load_table(spark, sf_dir, "events")
    tier = (
        F.when(F.col("value") >= F.lit(75.0), "high")
        .when(F.col("value") >= F.lit(25.0), "mid")
        .otherwise("low")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ratings = (
        ev.filter(F.col("value").isNotNull() & F.col("user_id").isNotNull())
        .select("user_id", tier.alias("k"), F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 3)
    )
    return fleiss_kappa(ratings, "user_id", "k", 3)


@register(
    "q_purchase_ece_by_cohort",
    oracle="""
WITH bins AS (
  SELECT CASE WHEN user_id % 2 = 0 THEN 'even' ELSE 'odd' END AS cohort,
         CAST(FLOOR("value" / 25.0) AS BIGINT) AS bin,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS pos,
         CAST(SUM(CAST(FLOOR(("value" / 100.0) * 1048576.0) AS BIGINT))
              AS BIGINT) AS s
  FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2
)
SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n_bins,
       CAST(SUM(n) AS BIGINT) AS n,
       CAST(SUM(ABS(pos * 1048576 - s)) AS DOUBLE)
         / CAST(SUM(n) * 1048576 AS DOUBLE) AS ece
FROM bins GROUP BY cohort ORDER BY cohort
""",
    doc="Per-cohort Expected Calibration Error (even/odd user id "
    "cohorts) — calibration MONITORING is per segment in production "
    "(a model calibrated globally can be badly off inside one "
    "cohort); the keyed form partitions both groupBys by the key so "
    "every stage stays partial-aggregable, the same keyed shape as "
    "q_purchase_auc_by_cohort "
    "(operators/features.py:expected_calibration_error)",
    tags=("behavior", "ml"),
)
def q_purchase_ece_by_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_engineering_project_spark.operators.features import (
        expected_calibration_error,
    )

    ev = load_table(spark, sf_dir, "events")
    cohort = F.when(F.col("user_id") % 2 == 0, "even").otherwise("odd")
    return expected_calibration_error(
        ev.filter(F.col("user_id").isNotNull()).select(
            "value",
            (F.col("event_type") == "purchase").alias("is_purchase"),
            cohort.alias("cohort"),
        ),
        "value",
        "is_purchase",
        bin_width=25.0,
        score_scale=100.0,
        key_cols=["cohort"],
    ).orderBy("cohort")
