"""Iterative graph algorithms as DataFrame loops.

PageRank (Page et al. 1999) here is INTEGER PageRank: ranks live in
BIGINT micro-units (SCALE = 1e12 = rank 1.0) and every update is
integer multiply/divide — (r·w) DIV ow, (85·Σ) DIV 100 — so the
per-iteration values are bit-identical in any engine and the whole
10-iteration fixed point has an EXACT SQL oracle (unrolled CTEs, one
per iteration; see plans.queries_behavior). Float PageRank would
diverge across engines in the sum order of incoming contributions;
integer arithmetic makes the iteration order-free (integer addition
is associative) at the cost of a deliberate, DEFINED truncation per
edge. The same trick as the repo's decimal-stabilized sums, one level
stronger.

Scale shape per iteration: contributions = pr ⋈ edges on src (edges
carry their precomputed out-weight, so no per-iteration re-join for
degrees) → groupBy(dst) sum — one shuffle keyed on dst per iteration,
partial-aggregated map-side. The rank table is one row per node; for
web-scale graphs the known hazards are lineage growth (checkpoint
every few iterations — the `materialize` hook) and hub skew in the
dst aggregation (AQE skew handling, or salt the hot dst). The
dedup-cluster Pregel loop (operators/dedup.py) is this module's
min-label sibling; this one exists for rank-style numeric iteration.

Dangling nodes (no outgoing edges) simply leak their mass, matching
the oracle exactly: both engines drop the same integer amounts.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from big_data_engineering_project_spark.caches import pin

SCALE = 10**12
DAMP_NUM = 85
DAMP_DEN = 100
DEFAULT_ITERS = 10


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    iters: int = DEFAULT_ITERS,
    materialize: Callable[[DataFrame], DataFrame] | None = None,
    materialize_every: int = 1,
) -> DataFrame:
    """Weighted integer PageRank over `edges` [src, dst, weight:long].

    Returns [node, rank] with rank in SCALE micro-units. The node set
    is src ∪ dst; the driver reads exactly ONE scalar (the node count,
    needed for the teleport term) — rank state itself never leaves the
    cluster. `materialize` (e.g. lambda df: df.localCheckpoint()) cuts
    lineage every `materialize_every` iterations; default None keeps
    the pure plan (fine for tens of iterations).

    Choosing `materialize_every` (measured — SCALING.md "PageRank
    lineage"): localCheckpoint costs a FIXED ~0.2-0.3 s per call at
    local fixture scale, while the pure plan's analysis cost grows
    only linearly and stays under execution cost through 60
    iterations — so per-iteration checkpointing (every=1) is a net
    LOSS below O(100) iterations. The hook's real constituency is
    (a) O(100)+ iterations, where driver plan analysis and lineage
    stack depth grow superlinearly, and (b) real clusters, where an
    executor loss without a checkpoint recomputes EVERY prior
    iteration's joins. There, checkpoint every 5-10 iterations:
    lineage is bounded at `materialize_every` joins and the fixed
    cost amortizes to ~1/every per iteration. Result values are
    IDENTICAL for any (materialize, materialize_every) — the hook is
    an execution boundary, not a semantic change (pinned by
    tests/test_operators.py::test_pagerank_materialize_hook).

    Overflow headroom: r ≤ SCALE (1e12) and r·w must stay < 2^63, so
    per-edge weights up to ~9e5 are safe; pre-normalize heavier edge
    weights (divide the whole weight column by a constant) above that.
    """
    e_src, e_dst, e_w = F.col(src), F.col(dst), F.col(weight)
    # nodes and the out-weighted edge frame are STATIC across every
    # iteration, but each iteration's plan embeds a fresh copy of
    # their lineage — when `edges` is itself derived (a windowed
    # transition count, a support-filtered pair table), the derivation
    # re-executes once per iteration unless the frame is materialized.
    # Pin both once: iterations then read the cached frames, and the
    # nodes.count() below materializes the node cache up front.
    # Results are unchanged — persistence is an execution boundary.
    nodes = pin(
        edges.select(e_src.alias("node"))
        .union(edges.select(e_dst.alias("node")))
        .distinct()
    )
    n = nodes.count()  # the one driver scalar: |V|
    init = SCALE // n
    base = (15 * SCALE // 100) // n

    out_w = edges.groupBy(e_src.alias("__s")).agg(F.sum(e_w).alias("__ow"))
    # Edges carry their out-weight once — iterations never re-derive
    # it. out_w is node-sized, so the join is left to AQE: broadcast
    # when it fits, sort-merge co-partitioned with the groupBy above
    # when it doesn't.
    e = pin(
        edges.select(
            e_src.alias("__s"), e_dst.alias("__d"), e_w.alias("__w")
        ).join(out_w, "__s")
    )

    pr = nodes.select("node", F.lit(init).cast("long").alias("rank"))
    for it in range(iters):
        contrib = (
            pr.join(e, pr["node"] == e["__s"])
            .select(
                F.col("__d").alias("node"),
                F.expr("(rank * __w) DIV __ow").alias("__c"),
            )
            .groupBy("node")
            .agg(F.sum("__c").alias("__in"))
        )
        pr = nodes.join(contrib, "node", "left").select(
            "node",
            (
                F.lit(base).cast("long")
                + F.expr(
                    f"({DAMP_NUM} * coalesce(__in, CAST(0 AS BIGINT))) "
                    f"DIV {DAMP_DEN}"
                )
            ).alias("rank"),
        )
        if materialize is not None and (it + 1) % materialize_every == 0:
            pr = materialize(pr)
    return pr


# Longest pure-lineage LPA segment: a deeper loop with no explicit
# `materialize` localCheckpoints every this many iterations. Measured
# (SCALING.md "LPA without lineage doubling"): through 6 iterations
# pure lineage is within 0.2 s of the best cadence and fires no job
# while the plan is built; from 7 on it loses. Cadences 2-5 tie at
# 8-32 iterations, and 6 is already slower.
_LPA_PURE_LINEAGE_MAX_ITERS = 5


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    iters: int = 4,
    materialize: Callable[[DataFrame], DataFrame] | None = None,
    materialize_every: int = 1,
) -> DataFrame:
    """Synchronous weighted label propagation (Raghavan et al. 2007)
    over an edge list, treated as undirected: each node starts
    labelled with itself; per iteration every node adopts the label
    with the LARGEST weighted vote among its neighbours, smallest
    label winning ties. Returns [node, label] — nodes sharing a final
    label form a community. Contract: endpoints and weights are
    non-null, weights are longs (every caller passes counts).

    Determinism: votes are integer weight sums (combine-order-free),
    the argmax tie-break is total ((votes DESC, label ASC)), and the
    iteration count is FIXED — synchronous LPA can oscillate on
    bipartite structures, so a fixed budget is what makes the result
    well-defined at all, and here it also makes it bit-identical
    cross-engine (exact unrolled-CTE oracle, like pagerank above).

    Scale shape per iteration: labels ⋈ undirected-edges on the
    vote-source key, a partial-aggregated (node, label) vote sum, then
    ONE partial-aggregated per-node min over the struct (-votes,
    label) — the argmax in a single ordinary aggregate, with the same
    total order. Deliberately NOT a row_number window, which would
    pile a hot node's whole neighbourhood into one unsplittable
    window partition (the sliding-coverage lesson), and not a
    max-then-join-back chain, which would reference the vote frame
    twice.

    The label frame enters each iteration ONCE, so the plan grows
    linearly, as pagerank's does; planning cost still grows faster
    than linearly with depth. So when `materialize` is None and
    `iters` > _LPA_PURE_LINEAGE_MAX_ITERS, a localCheckpoint hook is
    installed every _LPA_PURE_LINEAGE_MAX_ITERS iterations; otherwise
    `materialize`/`materialize_every` as in pagerank. Results are
    bit-identical at any cadence.
    """
    if materialize is None and iters > _LPA_PURE_LINEAGE_MAX_ITERS:
        materialize = lambda d: d.localCheckpoint()  # noqa: E731
        materialize_every = _LPA_PURE_LINEAGE_MAX_ITERS
    e_src, e_dst, e_w = F.col(src), F.col(dst), F.col(weight)
    # The undirected edge frame is static across iterations; pin it
    # once (same rationale as pagerank above — when `edges` is derived,
    # e.g. the sparsified transition graph, every iteration's vote join
    # would otherwise re-run the derivation).
    und = pin(
        edges.select(
            e_src.alias("a"), e_dst.alias("b"), e_w.alias("__w")
        ).union(
            edges.select(e_dst.alias("a"), e_src.alias("b"), e_w.alias("__w"))
        )
    )
    lab = und.select(F.col("a").alias("node"), F.col("a").alias("label"))
    lab = lab.distinct()
    # No kept-label fallback join: `und` is symmetric and the node set
    # is distinct(und.a), so every node receives at least one vote in
    # every iteration.
    for it in range(iters):
        lab = (
            lab.join(und, lab["node"] == und["a"])
            .groupBy(F.col("b").alias("node"), "label")
            .agg(F.sum("__w").alias("__v"))
            .groupBy("node")
            .agg(F.min(F.struct(-F.col("__v"), "label")).alias("__m"))
            .select("node", F.col("__m.label").alias("label"))
        )
        if materialize is not None and (it + 1) % materialize_every == 0:
            lab = materialize(lab)
    return lab


def triangle_count(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Exact triangle enumeration over an undirected graph, one row
    per triangle with vertices sorted ascending (a < b < c) — the
    third member of the graph family beside pagerank (ranking) and
    label_propagation (communities), and the classic distributed-join
    stress test.

    Degree-ordered orientation (the standard fan-out bound): every
    edge is oriented from its lower to its higher endpoint under the
    TOTAL order (degree, node-id), making the graph a DAG where each
    node's out-degree is O(sqrt(m)) regardless of how hot the
    original node was — a celebrity node with 10^6 neighbors receives
    almost all its edges INBOUND, so the wedge join below never
    explodes around it. Each triangle then has exactly one node with
    out-degree 2 within it, so enumerating (out-neighbor pairs of
    each node) ∩ (oriented edges) counts every triangle exactly once.

    Shape: canonical distinct on the edge list, one degree aggregate
    (node-cardinality-sized, broadcast back), the wedge self-join on
    the source node, and one closing semi-ish join on the oriented
    edge set — shuffles key on node ids; nothing keys on a raw hot
    vertex thanks to the orientation.

    Vertices must be non-null and mutually comparable; self-loops and
    duplicate/reverse edges are dropped.
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        e.select(F.col("a").alias("n"))
        .unionAll(e.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    da = F.broadcast(deg.select(F.col("n").alias("a"), F.col("d").alias("__da")))
    db = F.broadcast(deg.select(F.col("n").alias("b"), F.col("d").alias("__db")))
    ka = F.struct(F.col("__da").alias("d"), F.col("a").alias("n"))
    kb = F.struct(F.col("__db").alias("d"), F.col("b").alias("n"))
    o = pin(
        e.join(da, "a")
        .join(db, "b")
        .select(
            F.when(ka < kb, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(ka < kb, F.col("b")).otherwise(F.col("a")).alias("v"),
            F.when(ka < kb, kb).otherwise(ka).alias("__kv"),
        )
    )
    w1 = o.select("u", F.col("v").alias("v1"), F.col("__kv").alias("__k1"))
    w2 = o.select("u", F.col("v").alias("v2"), F.col("__kv").alias("__k2"))
    wedges = w1.join(w2, "u").filter(F.col("__k1") < F.col("__k2"))
    closing = o.select(
        F.col("u").alias("v1"), F.col("v").alias("v2")
    ).withColumn("__closed", F.lit(1))
    tri = (
        wedges.join(closing, ["v1", "v2"], "inner")
        .select(
            F.array_sort(
                F.array(F.col("u"), F.col("v1"), F.col("v2"))
            ).alias("__t")
        )
        .select(
            F.col("__t")[0].alias("a"),
            F.col("__t")[1].alias("b"),
            F.col("__t")[2].alias("c"),
        )
    )
    return tri


# Pure-lineage BFS has the SAME doubling hazard as label propagation
# (the distance frame enters each hop twice: relax join + min-merge
# union), so the same auto-checkpoint threshold applies.
_BFS_PURE_LINEAGE_MAX_HOPS = 4


def hop_distance(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_hops: int = 6,
    materialize: Callable[[DataFrame], DataFrame] | None = None,
    materialize_every: int = 1,
) -> DataFrame:
    """Multi-source BFS hop distances over a DIRECTED edge list:
    returns (node, dist) for every node reachable from `sources`
    (a one-column frame of seed nodes, dist 0) within `max_hops`
    hops — the reachability/radius member of the graph family beside
    pagerank (rank), label_propagation (communities),
    duplicate_clusters (components), and triangle_count (local
    density).

    All-integer frontier relaxation: per hop, the CURRENT frontier
    (nodes first reached last hop — NOT the full distance table)
    joins edges on the source key, proposes dist+1 for each out-
    neighbour, and a left_anti against the settled table keeps only
    NEWLY reached nodes. Unweighted BFS settles a node the first
    time it is reached, so the per-hop join input is the frontier —
    at 100 TB the work per hop is frontier-adjacency-sized, never
    accumulated-table-sized, and the fixed hop budget bounds the
    loop. Deterministic: hop counts are integers; no tie-break is
    even needed.

    Lineage: the settled table enters each hop twice (anti-join +
    union), so past _BFS_PURE_LINEAGE_MAX_HOPS hops a localCheckpoint
    hook at every-1 cadence is installed automatically when no
    `materialize` is given — the lineage-doubling lesson (SCALING.md
    round-8); results are bit-identical at any cadence.
    """
    if materialize is None and max_hops > _BFS_PURE_LINEAGE_MAX_HOPS:
        materialize = lambda d: d.localCheckpoint()  # noqa: E731
        materialize_every = 1
    # Deliberately NOT persisting `edges` here: at ≤ the pure-lineage
    # budget this operator runs as ONE job and AQE exchange reuse
    # already dedupes the per-hop edge subtrees — measured r14:
    # persisting REGRESSED 2.2 s → 3.4 s at sf0.1 (cache
    # materialization barrier vs. free reuse).
    settled = sources.select(
        F.col(sources.columns[0]).alias("node"),
        F.lit(0).cast("int").alias("dist"),
    ).distinct()
    frontier = settled
    for hop in range(1, max_hops + 1):
        reached = (
            frontier.join(edges, frontier["node"] == edges[src])
            .select(
                F.col(dst).alias("node"),
                (F.col("dist") + 1).cast("int").alias("dist"),
            )
            .distinct()
        )
        new_nodes = reached.join(
            settled.select("node"), "node", "left_anti"
        )
        settled = settled.unionByName(new_nodes)
        frontier = new_nodes
        if materialize is not None and hop % materialize_every == 0:
            settled = materialize(settled)
            frontier = materialize(frontier)
    return settled


# The peeled edge frame enters each iteration three times (degree agg
# + two endpoint semi joins), so pure lineage grows geometrically —
# the lineage-doubling lesson (SCALING.md round-8), with a lower
# threshold.
_KCORE_PURE_LINEAGE_MAX_ITERS = 3


def k_core(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    iters: int | None = None,
    max_iters: int = 30,
    materialize: Callable[[DataFrame], DataFrame] | None = None,
    materialize_every: int = 1,
) -> DataFrame:
    """k-core decomposition by iterative peeling: repeatedly delete
    nodes of degree < k (undirected) until the fixed point; returns
    (node, core_degree) for the surviving subgraph — the dense-
    backbone member of the graph family beside pagerank (rank), LPA
    (communities), duplicate_clusters (components), triangle_count
    (local density) and hop_distance (reachability).

    Two modes, same peel:
    - `iters=N` — FIXED budget (the label_propagation discipline):
      the result is well-defined independent of the engine and holds
      an unrolled-CTE oracle; peeling is monotone, so any budget ≥
      the convergence depth IS the true k-core (a pytest asserts one
      more peel is a no-op on the fixture).
    - `iters=None` — run to convergence: per iteration the driver
      reads ONE long (the edge count) and stops when it is stable or
      `max_iters` is hit.

    Scale per peel: one partial-aggregable degree count + two
    endpoint LEFT SEMI joins against the (node-sized, shuffled —
    never force-broadcast) survivor list; work shrinks monotonically
    with the surviving subgraph. Degrees are integers — no tie-break
    exists, so the whole fixed point is bit-identical cross-engine.
    """
    budget = iters if iters is not None else max_iters
    if materialize is None and budget > _KCORE_PURE_LINEAGE_MAX_ITERS:
        materialize = lambda d: d.localCheckpoint()  # noqa: E731
        materialize_every = 1
    # The symmetrized start frame feeds the first peel's degree agg AND
    # both its semi joins; pin it once so a derived `edges` input
    # is not re-derived per consumer.
    und = pin(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
    )

    def peel(u: DataFrame) -> DataFrame:
        keep = (
            u.groupBy("a")
            .agg(F.count(F.lit(1)).alias("__d"))
            .filter(F.col("__d") >= k)
            .select(F.col("a").alias("__keep"))
        )
        keep_b = keep.select(F.col("__keep").alias("__keepb"))
        return (
            u.join(keep, F.col("a") == F.col("__keep"), "left_semi")
            .join(keep_b, F.col("b") == F.col("__keepb"), "left_semi")
        )

    if iters is not None:
        for it in range(iters):
            und = peel(und)
            if materialize is not None and (it + 1) % materialize_every == 0:
                und = materialize(und)
    else:
        prev = und.count()
        for it in range(max_iters):
            und = peel(und)
            if materialize is not None and (it + 1) % materialize_every == 0:
                und = materialize(und)
            cur = und.count()
            if cur == prev:
                break
            prev = cur
    return (
        und.groupBy(F.col("a").alias("node"))
        .agg(F.count(F.lit(1)).cast("long").alias("core_degree"))
    )


# The distance frame enters each relaxation twice (join + union), so
# the BFS lineage rule applies.
_SSSP_PURE_LINEAGE_MAX_ITERS = 4


def shortest_path_costs(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    iters: int = 4,
    materialize: Callable[[DataFrame], DataFrame] | None = None,
    materialize_every: int = 1,
) -> DataFrame:
    """Bellman-Ford shortest-path costs from `sources` (cost 0) over a
    DIRECTED weighted edge list, `iters` relaxation rounds — the
    weighted twin of `hop_distance` (whose settled-first-reach frontier
    trick is only valid unweighted: under weights a settled node can
    still IMPROVE, so every round relaxes the full edge set against
    the current distance table and keeps the per-node min). With
    integer weights the fixed point is bit-identical cross-engine
    (unrolled-CTE oracle); `iters` bounds the path length considered —
    budget ≥ graph diameter gives the true distances.

    Per round: one equi-join (distance table, node-sized, against
    edges) + one partial-aggregable min — both shuffles carry
    (node, cost) pairs, never adjacency blowup. Auto-localCheckpoint
    past _SSSP_PURE_LINEAGE_MAX_ITERS rounds (the distance frame
    enters each round twice)."""
    if materialize is None and iters > _SSSP_PURE_LINEAGE_MAX_ITERS:
        materialize = lambda d: d.localCheckpoint()  # noqa: E731
        materialize_every = 1
    # Static edge list re-joined every round — pin it once so a
    # derived edge frame is not re-derived per relaxation.
    edges = pin(edges)
    dist = sources.select(
        F.col(sources.columns[0]).alias("node"),
        F.lit(0).cast("long").alias("cost"),
    ).distinct()
    for it in range(iters):
        relaxed = dist.join(edges, dist["node"] == edges[src]).select(
            F.col(dst).alias("node"),
            (F.col("cost") + F.col(weight)).cast("long").alias("cost"),
        )
        dist = (
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("cost").alias("cost"))
        )
        if materialize is not None and (it + 1) % materialize_every == 0:
            dist = materialize(dist)
    return dist


def link_prediction(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    ra_scale: int = 1_000_000_000,
    max_center_degree: int | None = None,
    min_common: int = 1,
) -> DataFrame:
    """Link prediction scores for NON-adjacent node pairs: common-
    neighbor count and the resource-allocation index RA(u,v) =
    sum over common neighbors z of 1/deg(z) (Zhou-Lu-Zhang), the
    strongest of the classic local similarity indices. RA is kept in
    integer micro-units (`ra_scale div deg`) so scores and ranking are
    bit-identical cross-engine — the same -log-proxy discipline as the
    SSSP edge costs.

    Input: an UNDIRECTED simple edge list, one row per pair with
    src < dst (frequent_pairs' shape). Output: (u, v) with u < v,
    `common_neighbors`, `ra_units` — existing edges anti-joined away.

    Plan: symmetrize -> per-node degree (partial-aggregable) -> wedge
    self-join on the center z (equi-join; the u < v bound halves it)
    -> groupBy pair -> LEFT ANTI against the edge list. Shuffles carry
    (node, node, long) triples only.

    Scale guard: a center of degree d fans out d*(d-1)/2 wedges — the
    celebrity-vertex hazard triangle orientation cannot fix here
    because EVERY common neighbor must be counted. `max_center_degree`
    excludes super-hub centers (the stop-shingle cut's graph twin):
    their per-pair RA contribution is at most ra_scale/d -> negligible
    exactly when d is large, so the cut removes the quadratic term
    while perturbing scores the least. Pass None only when the degree
    distribution is known to be bounded.
    """
    # `e` feeds three consumers (both union arms via `und`, and the
    # final anti-join) and `ctr` feeds both sides of the wedge
    # self-join — when `edges` is derived (a support-filtered pair
    # table), each consumer would re-run the derivation. Pin both
    # once; `ctr` is edge-cardinality ×2 rows of (long, long, long),
    # bounded.
    e = pin(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    )
    und = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    deg = und.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
    if max_center_degree is not None:
        deg = deg.filter(F.col("deg") <= int(max_center_degree))
    ctr = pin(
        und.join(deg, "a").select(
            F.col("a").alias("z"),
            F.col("b").alias("n"),
            F.expr(f"CAST({int(ra_scale)} AS BIGINT) div deg").alias("ra"),
        )
    )
    wedges = (
        ctr.alias("l")
        .join(
            ctr.alias("r"),
            (F.col("l.z") == F.col("r.z")) & (F.col("l.n") < F.col("r.n")),
        )
        .select(
            F.col("l.n").alias("u"),
            F.col("r.n").alias("v"),
            F.col("l.ra").alias("ra"),
        )
    )
    scored = (
        wedges.groupBy("u", "v")
        .agg(
            F.count(F.lit(1)).alias("common_neighbors"),
            F.sum("ra").cast("long").alias("ra_units"),
        )
        .filter(F.col("common_neighbors") >= int(min_common))
    )
    return scored.join(
        e,
        (scored["u"] == e["a"]) & (scored["v"] == e["b"]),
        "left_anti",
    )


def connected_components_star(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iters: int = 30,
) -> DataFrame:
    """Connected components by alternating large-star / small-star
    contraction (Kiveris et al., "Connected Components in MapReduce
    and Beyond", SoCC 2014) — the O(log n)-round alternative to
    dedup.duplicate_clusters' min-label propagation, whose round count
    is the graph DIAMETER. Near-dup components are usually tiny and
    dense (min-label wins on constants), but chain-shaped components —
    doc A quotes B quotes C quotes ... , version histories, reply
    threads — have diameter ~ component size, and at 100 TB a
    1e6-long chain means 1e6 shuffle rounds for min-label vs ~20
    here. Same contract as duplicate_clusters: input (src, dst)
    pairs, output (doc, keeper=component min) for every node that
    appears in ≥ 1 pair; the fixpoint is engine-independent, so the
    EXACT recursive-CTE oracle of the min-label query applies
    verbatim.

    Each round: large-star hangs every neighbor LARGER than u onto
    the minimum of u's neighborhood (keeps star edges), then
    small-star re-hangs the smaller-or-equal neighbors. Both steps
    are groupBy(node).min + an equi-join back onto the adjacency —
    map-side-combined aggregates and AQE-splittable joins; a
    celebrity node's adjacency spreads across tasks in the agg, never
    sorts in one window. Convergence = the edge multiset is unchanged
    (checked with exceptAll both ways, one bounded count per round:
    by then edges are star edges, |E| = n - #components).

    Each round ends in an EAGER localCheckpoint, not a persist: the
    round's plan nests joins + distincts, and without lineage
    truncation Catalyst re-optimizes an exponentially deepening tree
    (the probe showed minutes by round ~8; checkpointed rounds run in
    constant time). Same per-iteration materialization discipline as
    integer_pagerank's `materialize` hook, applied unconditionally
    because the convergence check forces evaluation every round
    anyway."""
    e0 = pairs.select(
        F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v")
    )
    edges = e0.distinct().localCheckpoint()
    # Node set from the CHECKPOINTED edges, not e0: the final labeling
    # join must not re-derive the input pair generation (for near-dup
    # graphs that is the whole shingle/inverted-index pipeline) a
    # second time.
    nodes = (
        edges.select(F.col("u").alias("doc"))
        .unionAll(edges.select(F.col("v").alias("doc")))
        .distinct()
    )
    for _ in range(max_iters):
        # ---- large-star: symmetrize; for each u, m = min(N(u) ∪ {u});
        # emit (v, m) for v ∈ N(u), v > u. Star edges (v ≤ u side)
        # are preserved by the v > u guard on the symmetrized set.
        sym = edges.unionAll(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("__m0"))
            .select("u", F.least("__m0", "u").alias("m"))
        )
        ls = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        # ---- small-star: orient every edge large → small; for each
        # u, m = min(N(u) ∪ {u}); emit (v, m) for v ∈ N(u) ∪ {u}, v ≠ m.
        ori = ls.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).filter(F.col("u") != F.col("v"))
        mins2 = ori.groupBy("u").agg(F.min("v").alias("m"))
        ss = (
            ori.join(mins2, "u")
            .select(
                F.col("v").alias("u"), F.col("m").alias("v")
            )  # hang each smaller neighbor on the min
            .unionAll(
                mins2.select(F.col("u"), F.col("m").alias("v"))
            )  # and u itself
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint()  # eager: truncates the iteration lineage
        )
        # Both sides are distinct() sets, so set equality is "same
        # cardinality AND one-sided difference empty" — one exceptAll
        # shuffle per round instead of two (r8 ADVICE #3; the counts
        # are off the already-checkpointed frames, so the count pass
        # is a scan, not a recompute).
        converged = (
            ss.count() == edges.count()
            and ss.exceptAll(edges).count() == 0
        )
        edges = ss
        if converged:
            break
    else:
        raise RuntimeError(f"star-CC did not converge in {max_iters} rounds")
    # Fixpoint edges are (node, component-min) stars; roots have no
    # outgoing edge and label themselves.
    return nodes.join(
        edges.select(F.col("u").alias("doc"), F.col("v").alias("__m")),
        "doc",
        "left",
    ).select("doc", F.coalesce("__m", "doc").alias("keeper"))
