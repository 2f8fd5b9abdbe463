"""Physical-plan assertions: the scale posture is part of correctness.

Each test pins the plan shape Catalyst should pick for an operator —
filters/pruning reach the Parquet scan, small dims broadcast, top-k
avoids a global sort, semi/anti stay semi/anti, aggregates partial-
aggregate. If a refactor regresses one of these, the query still
returns right answers at sf0.01 but would fall over at 100 TB; these
tests make that regression visible at test time.
"""

from __future__ import annotations

import pytest

from big_data_engineering_project_spark.plans import REGISTRY


def plan_of(df, mode: str = "formatted") -> str:
    return df.sparkSession._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode
    )


@pytest.fixture(scope="module")
def plans(spark, sf_dir):
    def get(name: str, mode: str = "formatted") -> str:
        return plan_of(REGISTRY[name].builder(spark, sf_dir), mode)

    return get


def test_filter_pushes_down_to_scan(plans):
    p = plans("q_filter_high_value")
    assert "PushedFilters" in p
    assert "GreaterThan(value,190.0)" in p


def test_column_pruning_reaches_scan(plans):
    # A count-by-type query must read ONLY event_type from parquet.
    p = plans("q_counts_by_type")
    scan = p[p.index("Scan parquet") :]
    read_schema = scan[scan.index("ReadSchema") : scan.index("\n", scan.index("ReadSchema"))]
    assert "event_type" in read_schema
    assert "props" not in read_schema and "value" not in read_schema


def test_topk_is_take_ordered_not_global_sort(plans):
    assert "TakeOrderedAndProject" in plans("q_top10_by_value")


def test_dimension_joins_broadcast(plans):
    p = plans("q_nation_revenue")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p  # lineitem is never shuffled for dims


def test_semi_join_stays_semi(plans):
    assert "LeftSemi" in plans("q_orders_with_heavy_items")


def test_anti_join_stays_anti(plans):
    assert "LeftAnti" in plans("q_customers_without_orders")


def test_aggregation_is_partial_then_final(plans):
    # Two HashAggregates (partial before the exchange, final after) —
    # the map-side combine that keeps 100 TB shuffles small.
    p = plans("q_counts_by_type")
    assert p.count("HashAggregate") >= 2
    assert "Exchange" in p


def test_zscore_stats_broadcast_not_window(plans):
    # The 1-row stats join must be a broadcast nested loop, not a
    # Window.partitionBy() (which would funnel all rows to one task).
    p = plans("q_zscore_anomalies")
    assert "BroadcastNestedLoopJoin" in p
    assert "Window" not in p


def test_serving_is_single_pass(plans):
    # The bronze here is a derived subquery (CASE over event_id), so
    # the quality predicates evaluate right above the scan rather than
    # inside it (on a MATERIALIZED bronze table they'd push down).
    # What this shape must guarantee: filter before project, and no
    # shuffle except the final presentation sort.
    p = plans("q_serving_try_cast", mode="simple")
    assert "Filter" in p
    assert p.count("Exchange") <= 1  # only the ORDER BY


def test_shipping_priority_broadcasts_customer(plans):
    # customer (filtered dim) broadcast; orders⋈lineitem can shuffle.
    p = plans("q_shipping_priority")
    assert "BroadcastHashJoin" in p


def test_entry_flagship_partial_agg(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    p = plan_of(df)
    assert p.count("HashAggregate") >= 2
    assert "PushedFilters" in p


def test_curation_pipeline_never_shuffles_text(plans):
    """The curation pass stamps split + fingerprint BEFORE its keyed
    shuffles, so no Exchange ships the document body — at 100 TB the
    fingerprint window and final agg move 8-byte keys and counters,
    not text."""
    p = plans("q_curation_pipeline")
    # Every KEYED Exchange (hash/range) must not carry the text col.
    # The round-robin spread() right after the scan is exempt: it is
    # the fixture-width work-distribution crutch (a real corpus scan
    # is already wide), not part of the query's shuffle structure.
    for block in p.split("\n\n"):
        if "Exchange" in block.split("\n")[0] and "RoundRobinPartitioning" not in block:
            assert "text#" not in block, f"text column crosses a keyed shuffle:\n{block}"
    # r7: the min-id keeper is a partial-aggregable min_by, not a
    # fingerprint window — a hot fingerprint collapses map-side
    # instead of landing in one unsplittable window partition.
    assert "Window" not in p


def test_pretrain_pipeline_never_shuffles_text(plans):
    """The composed pretraining pipeline (gate → lang-ID → minhash
    dedup → decontam → mix → pack) must ship ids/counters/hashed longs
    through every keyed Exchange — gate rows are (source, q_int, fp),
    dedup rides the hashed-shingle index, and the pack stage joins the
    budget-bounded manifest to the corpus by BROADCAST, so document
    text never crosses a keyed shuffle (the curation-pipeline contract
    extended to the full composition)."""
    p = plans("q_pretrain_pipeline")
    for block in p.split("\n\n"):
        if (
            "Exchange" in block.split("\n")[0]
            and "RoundRobinPartitioning" not in block
        ):
            assert "text#" not in block, (
                f"text column crosses a keyed shuffle:\n{block}"
            )
    # the manifest→corpus join for the pack stage is broadcast (the
    # bounded side), never a shuffled hash join of the corpus on text
    assert "BroadcastHashJoin" in p or "BroadcastExchange" in p


def test_ann_plans_broadcast_query_never_shuffle_vectors(plans):
    """ANN scale posture: the (tiny, ≤ a few dozen rows) query/probe
    side broadcasts; the vector table itself never crosses a
    hash-partitioned Exchange — at 100 TB the only acceptable plan is
    scan → narrow cosine projection → TakeOrdered (brute force) or
    bucket-pruned scan → same (LSH multi-probe)."""
    for name in ("q_embedding_topk", "q_embedding_lsh_topk"):
        p = plans(name)
        assert "BroadcastExchange" in p, name
        for block in p.split("\n\n"):
            head = block.split("\n")[0]
            if "Exchange" in head and "Broadcast" not in head:
                assert "hashpartitioning" not in block, (
                    f"{name}: vector table crosses a keyed shuffle:\n{block}"
                )
        assert "TakeOrderedAndProject" in p, name


def test_rollup_cascade_single_scan(plans):
    """The multi-resolution rollup must scan the fact table ONCE —
    minute partials explode into per-level labels and re-aggregate;
    a per-level union would scan three times."""
    p = plans("q_rollup_cascade")
    assert p.count("Scan parquet") == 2  # formatted mode: tree + detail


def test_dup_segment_two_bounded_branches(plans):
    """r7 contract (supersedes the r5 single-scan pin): the plan has
    exactly TWO corpus branches — a row-local totals branch (tokenize
    only, NO segment explode) and the segment-aggregation branch —
    and nothing more. The r5 form saved one scan with a sum-window
    over the segment key, which parked every copy of a corpus-hot
    segment in one unsplittable partition; the recompute is parallel,
    the hot window was not (see test_dup_segment_no_hot_segment_window
    for the no-window half of the contract)."""
    p = plans("q_dup_segment_fraction")
    # formatted mode lists each scan in tree + detail: 2 branches -> 4
    assert p.count("Scan parquet") == 4
    # the totals branch must not explode segments: exactly one
    # Generate (explode) in the whole plan, on the segment branch
    assert p.count("Generate (") == 1


def test_asof_salted_partitions_by_key_and_bucket(plans):
    """The salted as-of's big window must partition by (key, bucket) —
    that's the whole point. A plain per-key partitioning would regress
    to the hot-key-in-one-partition plan it exists to avoid. (The tiny
    per-key carry window over bucket SUMMARIES is allowed.)"""
    import re

    p = plans("q_asof_salted")
    assert re.search(r"hashpartitioning\(__k#\d+L?, __b#\d+L?", p), (
        "no (key, bucket) exchange found in salted as-of plan"
    )


def test_media_histogram_never_shuffles_blobs(plans):
    """Multimodal scale posture: blob bytes feed mapInPandas and stop
    there — histogram aggregation shuffles (kind, bin, count) longs,
    and the metadata join broadcasts."""
    p = plans("q_media_histogram_topk")
    for block in p.split("\n\n"):
        head = block.split("\n")[0]
        if "Exchange" in head and "Broadcast" not in head:
            assert "blob#" not in block, (
                f"blob bytes cross a keyed shuffle:\n{block}"
            )


def test_cohort_and_wau_collapse_before_shuffle(plans):
    """Both cohort retention and rolling actives must partial-agg the
    distinct (user, date) collapse map-side — raw events may not reach
    an exchange uncombined."""
    for name in ("q_cohort_retention", "q_rolling_active_users"):
        p = plans(name)
        assert p.count("HashAggregate") >= 2, name


def test_asof_forward_is_single_exchange_no_join(plans):
    """The forward as-of must keep the union+window shape: ONE keyed
    exchange on the key, no join operator — a naive join→filter→rank
    formulation would multiply rows before pruning."""
    p = plans("q_asof_next_purchase", mode="simple")
    assert "Join" not in p.replace("union", "")  # no physical join node
    assert "Window" in p


def test_kmv_no_global_sort_window(plans):
    """The KMV sketch plan must BE the sketch algebra: two bounded
    hash aggregations (per-shard k-smallest via collect_set, then
    merge), never a row_number window that sorts every distinct hash
    of a key in one task — the r5 formulation this replaced."""
    for name in ("q_kmv_distinct_users", "q_kmv_set_ops"):
        p = plans(name)
        assert "Window" not in p, f"{name}: per-key sort window in plan"
        assert "collect_set" in p, f"{name}: shard-level collect_set missing"


def test_media_frame_query_prunes_to_video_partition(plans):
    """The sf-scaled media fixture is parquet partitioned by kind; the
    frame query's kind='video' filter must become a PartitionFilter
    (image/audio files never opened) and the scan must not read
    width — only the columns the frame decoder needs."""
    p = plans("q_media_frame_means")
    assert "PartitionFilters" in p and "kind" in p.split("PartitionFilters", 1)[1].split("\n")[0]
    scan = p[p.index("Scan parquet"):]
    read_schema = scan[scan.index("ReadSchema"): scan.index("\n", scan.index("ReadSchema"))]
    assert "blob" in read_schema and "width" not in read_schema


def test_tpch2_dims_broadcast_facts_never_shuffle_for_dims(plans):
    """Suite-completion queries: every dimension join (part, supplier,
    nation-derived maps, scalar thresholds) must be a broadcast join —
    no SortMergeJoin on a dim key anywhere in these plans."""
    for name in ("q_product_profit", "q_promo_revenue", "q_disjunctive_revenue",
                 "q_part_supplier_variety"):
        p = plans(name)
        assert "BroadcastHashJoin" in p, name
        assert "SortMergeJoin" not in p, name  # no fact-fact join in these


def test_tpch2_scalar_subqueries_broadcast_not_collect(plans):
    """Q11/Q15/Q22 thresholds: the 1-row aggregate joins via
    BroadcastNestedLoopJoin/BroadcastHashJoin — never a driver-side
    collect (no CollectLimit) and never a shuffled cross join."""
    for name in ("q_important_parts", "q_top_supplier", "q_wealthy_inactive"):
        p = plans(name)
        assert "Broadcast" in p, name
        assert "CartesianProduct" not in p, name


def test_q21_windows_share_one_exchange_over_collapsed_frame(plans):
    """q_blocking_suppliers: ONE exchange (on l_orderkey) serves the
    (order, supplier) collapse AND both per-order windows — the
    partitioning on a subset of the group keys satisfies the group-by
    clustering, and the windows reuse it with a single sort. A
    regression to groupBy-then-window would show a second exchange."""
    p = plans("q_blocking_suppliers")
    tree = p[: p.index("(1) Scan parquet")]
    section = tree[tree.index("Window") : tree.index("Scan parquet")]
    assert section.count("Window") == 2
    assert section.count("Sort") == 1  # one sort feeds both windows
    assert section.count("Exchange") == 1  # the l_orderkey repartition
    assert "SortMergeJoin" not in p  # join-free lateness analysis


def test_q22_anti_join_stays_anti_with_pushed_date_filter(plans):
    p = plans("q_wealthy_inactive")
    assert "LeftAnti" in p
    # The recency predicate must reach the orders scan, not sit above
    # the anti join.
    assert "PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate" in p


def test_bloom_semi_join_broadcasts_bitmap_and_stays_semi(plans):
    """q_bloom_semi_orders: the bitmap is a broadcast (never a
    shuffle), the probe-side Filter carries the getbit tests BELOW the
    exact join, and the exact join stays LeftSemi."""
    p = plans("q_bloom_semi_orders")
    assert "LeftSemi" in p
    assert "getbit" in p
    # the bitmap row reaches the probe via broadcast
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p


def test_sharded_topk_first_window_partitions_by_key_and_shard(plans):
    """q_topk_lineitems_sharded: level-1 ranking must partition by
    (key, shard) — a regression to a single per-key window recreates
    the hot-key sort this plan exists to avoid. Two Window nodes total."""
    import re

    p = plans("q_topk_lineitems_sharded")
    assert p.count("Window (") >= 2
    # the shard expression materializes as a projected _w column that
    # joins l_suppkey in the level-1 exchange
    assert re.search(r"hashpartitioning\(l_suppkey#\d+L?, _w\d+#\d+L?", p), (
        "level-1 window does not partition by (key, shard)"
    )
    assert "pmod(xxhash64" in p  # the shard really is the hash bucket
    # Bonus shape Spark gives this form: rank-limit pushdown
    # (WindowGroupLimit) prunes each partition to k before the sort.
    assert "WindowGroupLimit" in p


def test_gap_fill_is_join_free_single_window(plans):
    """q_gap_fill_6h: union + ONE keyed window — no join operator; a
    grid⋈asof formulation would multiply rows."""
    p = plans("q_gap_fill_6h")
    assert "Join" not in p
    assert "Window" in p
    assert p.count("Window (") == 1


def test_dup_segment_no_hot_segment_window(plans):
    """q_dup_segment_fraction (r7 reformulation): duplicate detection
    must be pure partial-aggregable groupBys + one doc-level join —
    no window at all, and in particular no window over the segment
    key, where one boilerplate segment repeated corpus-wide would
    occupy a single unsplittable partition."""
    p = plans("q_dup_segment_fraction")
    assert "Window" not in p
    assert "HashAggregate" in p


def test_sliding_coverage_no_hot_gram_window(plans):
    """q_sliding_dup_coverage: per-gram occurrence counts must come
    from a partial-aggregating groupBy(g) joined back — NEVER a
    `Window.partitionBy(g)`, which concentrates every occurrence of a
    corpus-hot k-gram (license boilerplate) in one unsplittable window
    partition. The groupBy collapses hot grams map-side before the
    exchange and the equi-join back is AQE-skew-splittable. The only
    Window allowed in this plan is the per-doc interval-union one,
    bounded by a single document's gram count."""
    p = plans("q_sliding_dup_coverage")
    # exactly one Window node, and every windowspec is keyed by doc —
    # never the gram hash g
    assert p.count("Window (") == 1
    specs = [
        p[m : p.index(")", m)]
        for m in (
            i
            for i in range(len(p))
            if p.startswith("windowspecdefinition(", i)
        )
    ]
    assert specs and all(s.split("(", 1)[1].startswith("doc") for s in specs)
    # the gram-count side partial-aggregates before its exchange
    assert "HashAggregate" in p


def test_ohlc_is_window_free_partial_agg(plans):
    """q_ohlc_daily_value: open/close via min/max(struct) must compile
    to ONE partial-aggregated HashAggregate pair — no Window node, no
    sort. The oracle's row_number formulation would sort each
    (symbol, day) partition; the struct-argmin form keeps O(1) state
    per group and merges map-side, which is what makes a hot
    symbol-day survive 100×."""
    p = plans("q_ohlc_daily_value")
    assert "Window" not in p
    # struct min/max is not hash-aggregable, so Spark picks
    # SortAggregate — still with a map-side partial_min/partial_max
    # pass (the part that matters: hot groups collapse before the
    # exchange; per-partition sort is by group key, not by time).
    assert "partial_min" in p and "partial_max" in p
    assert p.count("hashpartitioning(") == 1  # one agg exchange


def test_basket_pairs_support_joins_are_hint_free_equi_joins(plans):
    """q_basket_pair_lift: the per-item support tables are one row
    per DISTINCT ITEM — unbounded when items are a token/doc
    vocabulary — so the pair→support joins must carry NO broadcast
    hint: Spark stays free to plan sort-merge/shuffled-hash when the
    supports are big, and AQE still broadcasts at runtime from the
    observed post-aggregate size when they are small. Only the 1-row
    basket-count frame keeps its hint. The input is still scanned
    ONCE into a persisted tagged counts aggregate (InMemoryTableScan
    on every consumer)."""
    p = plans("q_basket_pair_lift")
    # analyzed plan: exactly one ResolvedHint — the 1-row N frame
    ext = plans("q_basket_pair_lift", "extended")
    analyzed = ext[ext.index("== Analyzed Logical Plan ==")
                   : ext.index("== Optimized Logical Plan ==")]
    assert analyzed.count("ResolvedHint") == 1, analyzed
    # the support joins remain equi-joins on the item columns —
    # whichever physical strategy Spark picks
    assert "item_a" in p and "item_b" in p
    # every consumer branch reads the persisted counts aggregate —
    # the parquet scan lives only inside the cached-plan definition
    # (printed per reference) and executes once to fill the cache
    assert "InMemoryTableScan" in p


def test_scd2_single_exchange_for_all_windows(plans):
    """q_scd2_user_type_history: compaction lag, validity lead, and
    version row_number all partition on user_id over the same (ts,
    event_id) order — Catalyst must plan ONE hash exchange on
    user_id reused by every Window node, not re-shuffle between
    them."""
    p = plans("q_scd2_user_type_history")
    # exactly one hash exchange (on user_id); the only other exchange
    # is the presentation ORDER BY's rangepartitioning
    assert p.count("hashpartitioning(") == 1, p[:2000]
    assert "Window" in p


def test_cusum_single_keyed_exchange_broadcast_stats(plans):
    """q_cusum_drift: both cumulative window functions (prefix sum +
    running min) share one hashpartitioning exchange on the key, and
    the per-type moments table joins by BROADCAST — never a second
    fact-side shuffle. (The final ORDER BY adds rangepartitioning.)"""
    p = plans("q_cusum_drift")
    assert p.count("hashpartitioning(") <= 2  # stats agg + window
    assert "BroadcastHashJoin" in p
    assert "Window" in p


def test_top_journeys_episode_collapse_before_journey_shuffle(plans):
    """q_top_journeys: the rn <= n_steps cut must apply BEFORE the
    journey groupBy (episodes collapse to <= n_steps rows each first),
    and the final top-k is a TakeOrdered, not a global sort."""
    p = plans("q_top_journeys")
    assert "TakeOrderedAndProject" in p
    # the rank filter exists between the window and the aggregate
    assert "row_number" in p and "Filter" in p


def test_incremental_diff_prunes_by_broadcast_semi(plans):
    """q_incremental_snapshot_diff: the changed-bucket set (≤
    n_buckets rows) must prune BOTH row-level sides as a broadcast
    LeftSemi BEFORE the only row-level exchange (the key-digest
    full-outer); level 1's digests aggregate map-side into bounded
    bucket groups."""
    p = plans("q_incremental_snapshot_diff")
    assert p.count("LeftSemi") >= 2, p[:1500]
    assert "BroadcastExchange" in p
    assert "FullOuter" in p or "full_outer" in p.lower()


def test_sample_sketches_are_window_free_two_level_aggs(plans):
    """q_reservoir_sample_merge / q_priority_sample_weighted: both
    samples must compile to bounded two-level aggregations — NO
    Window (a per-key row_number would pile a hot key's candidates
    into one partition) and no global Sort other than the
    presentation ORDER BY."""
    for name in ("q_reservoir_sample_merge", "q_priority_sample_weighted"):
        p = plans(name)
        assert "Window" not in p, name
        assert p.count("HashAggregate") >= 2 or "ObjectHashAggregate" in p, name


def test_lsh_neardups_no_product_no_window(plans):
    """q_embedding_lsh_neardups: candidates come from equi-joins
    inside band buckets with the degenerate-bucket allow-list as a
    semi join — never a vector cross product, and no window anywhere
    (signatures are a row-local map). The only nested-loop joins are
    the broadcast 1-row corpus-count stamps."""
    p = plans("q_embedding_lsh_neardups")
    assert "CartesianProduct" not in p
    assert "Window (" not in p
    assert "LeftSemi" in p  # allowed-buckets guard stays a semi join


def test_tf_cosine_no_product_no_window(plans):
    """q_tf_cosine_neardups: the inverted-index self-join and the
    dot-product join are equi-joins on (term) / (doc, term) — no
    cartesian anywhere; tf/df/norms are pure partial-aggregable
    groupBys (no window); the only nested-loop joins are the 1-row
    corpus-count broadcasts feeding the df band."""
    p = plans("q_tf_cosine_neardups")
    assert "CartesianProduct" not in p
    assert "Window (" not in p
    assert "HashAggregate" in p


def test_global_row_number_ranks_inside_range_partitions(plans):
    """q_sorted_neighborhood_dups: the global rank must be the
    two-phase form — an Exchange rangepartitioning on the total order,
    with EVERY row_number window partitioned by the range-partition id
    (parallel local ranks). A row_number over an unpartitioned spec
    would be the single-task global sort this operator exists to
    avoid; the only SinglePartition step is the ≤ n_parts-row offsets
    window."""
    import re

    p = plans("q_sorted_neighborhood_dups")
    assert "rangepartitioning" in p
    specs = re.findall(r"row_number\(\) windowspecdefinition\(([^,]+),", p)
    assert specs, "no row_number window found"
    assert all(s.startswith("__pid") for s in specs), specs
    assert "CartesianProduct" not in p


def test_seasonal_anomalies_broadcast_stats_no_window(plans):
    """q_seasonal_anomalies: the per-slot baseline joins back as a
    broadcast (the stats side is |entities|·|slots| rows) — the fact
    scan must not shuffle, and the stats come from a partial-aggregable
    groupBy, not a window."""
    p = plans("q_seasonal_anomalies")
    assert "Window (" not in p
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_scd2_temporal_join_single_user_exchange_no_range_join(plans):
    """q_scd2_temporal_join: the fact-to-version match must be the
    union+window as-of plan — NO join between facts and the version
    interval table (a range join would multiply facts by versions),
    and every window hash-partitions on the union's user key. The
    only joins allowed are broadcast 1-row stamps (none here)."""
    p = plans("q_scd2_temporal_join")
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p  # as-of is union+window, not a join
    assert "Window" in p


def test_pareto_no_global_window_over_points(plans):
    """q_pareto_parts: the prefix max must run inside range
    partitions (two-phase); the only unpartitioned window is the
    <= n_parts-row offsets table. The threshold join back to points
    may be planned as broadcast."""
    import re

    p = plans("q_pareto_parts")
    assert "rangepartitioning" in p
    assert "CartesianProduct" not in p
    # every windowspec over the grouped x-table is partitioned by __pid
    specs = re.findall(r"max\(__gmax[^)]*\) windowspecdefinition\(([^,]+),", p)
    assert specs, "no running-max window found"
    assert any(s.startswith("__pid") for s in specs), specs


def test_link_prediction_equi_wedges_anti_edges(plans):
    """q_link_prediction: wedges come from an equi-join on the center
    z (the u < v bound is a post-condition), existing edges leave via
    LeftAnti, and nothing is a cartesian product."""
    p = plans("q_link_prediction")
    assert "CartesianProduct" not in p
    assert "LeftAnti" in p
    # r9: the hub-center cap (quadratic-term guard) must be ON in the
    # registered query — visible as a degree filter in the plan.
    assert "<= 64" in p


def test_attribution_keyed_join_single_conv_window(plans):
    """q_attribution_linear: the touch-conversion match is an
    equi-join on the user with the lookback as a range post-condition
    (sort-merge or shuffled-hash, never a nested loop), and the split
    size is ONE window keyed by the conversion id."""
    p = plans("q_attribution_linear")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert p.count("Window") >= 1


def test_dq_validation_single_scan(plans):
    """q_dq_validation: five rules must compile to ONE scan of events
    — the explode-of-struct-array form, not a union of five
    aggregation branches."""
    p = plans("q_dq_validation")
    # formatted mode prints each node once in the tree ("Scan parquet
    # (1)") and once in the detail section — count tree nodes.
    assert p.count("Scan parquet  (") == 1
    assert "Union" not in p


def test_erasure_audit_counters_only_union(plans):
    """q_erasure_cascade_audit: each relation reduces to a 1-row
    counter aggregate before the union — no fact columns survive past
    the per-relation aggregation, and the tombstone joins stay
    equi-joins (left outer/semi), never products."""
    p = plans("q_erasure_cascade_audit")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "Union" in p


def test_ks_and_weighted_median_collapse_before_window(plans):
    """q_ks_value_drift / q_weighted_median_price: the cumulative
    window must run over the DISTINCT-value collapsed table — an
    aggregate appears BELOW the window in the plan, so per-key sorts
    are value-cardinality-bounded."""
    for name in ("q_ks_value_drift", "q_weighted_median_price"):
        p = plans(name)
        assert "Window" in p, name
        agg_pos = p.find("HashAggregate")
        assert agg_pos != -1, name


def test_int8_topk_broadcast_query_takeordered(plans):
    """q_embedding_int8_topk: same plan contract as the float brute
    force — the 1-row quantized query broadcasts (the vector table
    never shuffles) and the top-k is TakeOrderedAndProject, not a
    global sort."""
    p = plans("q_embedding_int8_topk")
    assert "TakeOrderedAndProject" in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p
    assert "Exchange hashpartitioning" not in p


def test_pmi_lift_single_scan_bounded_windows(plans):
    """q_pmi_type_hour: margins and the grand total must be window
    sums over the aggregated CELLS frame (group-cardinality-bounded),
    not re-aggregations of separate frames — the latter plans four
    independent input scans (measured; neither ReuseExchange nor a
    grouping-sets form dedupes them, the optimizer prunes each Expand
    differently). Exactly ONE parquet scan of events."""
    import re

    p = plans("q_pmi_type_hour")
    # formatted mode prints each node once in the tree and once in the
    # detail section — count distinct scan NODES, not substring hits
    scan_nodes = re.findall(r"\(\d+\) Scan parquet", p)
    assert len(scan_nodes) == 1, scan_nodes
    assert "HashAggregate" in p


def test_keep_best_no_per_cluster_window(plans):
    """q_dedup_keep_best: the canonical pick must be a
    partial-aggregable max_by per cluster joined back on the cluster
    key — no window over the corpus-sized labeled frame, and the text
    column must never enter the plan (clusters carry ids only)."""
    p = plans("q_dedup_keep_best")
    assert "max_by" in p
    # no window over the labeled corpus frame (windows exist only
    # inside the upstream CC machinery, which is id-only):
    assert "windowspecdefinition(cluster" not in p


def test_mg_heavy_hitters_windowgrouplimit_prune(plans):
    """q_mg_heavy_hitters: the (k+1)-th-largest prune must take the
    rank-limit pushdown form (WindowGroupLimit) so map tasks keep k+1
    rows per bucket BEFORE the window exchange — a bucket's full
    distinct-item list (vocabulary/16 items at vocab scale) must never
    sort inside one task without a prior cut. Both halves + the merge
    re-prune → ≥ 3 WindowGroupLimit nodes; counts stay hash
    aggregations (map-side combined)."""
    p = plans("q_mg_heavy_hitters")
    assert p.count("WindowGroupLimit") >= 3
    assert "HashAggregate" in p


def test_target_encoding_single_fact_scan_via_pinned_stats(plans):
    """q_target_encoding_oof: the four derived aggregates (per-
    category totals, per-fold totals, global prior, the stats rows
    themselves) must all consume the PINNED bounded stats frame — one
    InMemoryRelation, so the fact table is scanned once, not once per
    branch. The only cross join is the 1-row global-totals stamp."""
    p = plans("q_target_encoding_oof")
    assert p.count("InMemoryTableScan") >= 4
    assert "InMemoryRelation" in p


def test_order_concurrency_two_level_prefix_sum(plans):
    """q_order_concurrency: the sweep-line prefix sum must be the
    two-level form — within-bucket running sums plus per-bucket
    offsets — i.e. at least two Window nodes partitioned differently,
    and never a cartesian/nested-loop join."""
    p = plans("q_order_concurrency")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert p.count("Window") >= 2


def test_ivf_incremental_prunes_probed_cells(plans):
    """q_embedding_ivf_incremental reads the persisted index back
    from parquet: the cell predicate must land in PartitionFilters
    (directory pruning over the batch=*/cell=* layout — probe-all
    here, but the filter shape is what a partial probe prunes with),
    and the final top-k must be a TakeOrderedAndProject, not a global
    sort."""
    p = plans("q_embedding_ivf_incremental")
    assert "PartitionFilters" in p
    pf = p.split("PartitionFilters", 1)[1].split("\n")[0]
    assert "cell" in pf
    assert "TakeOrderedAndProject" in p


def test_rrf_shortlists_are_takeordered_then_fused(plans):
    """q_hybrid_search_rrf: each signal collapses via
    TakeOrderedAndProject (per-partition heaps) BEFORE its rank
    window, and the fusion is one hash aggregate — no global sort of
    either corpus and no per-corpus Window."""
    p = plans("q_hybrid_search_rrf")
    assert p.count("TakeOrderedAndProject") >= 3  # 2 shortlists + final
    assert "HashAggregate" in p
    assert "CartesianProduct" not in p


def test_ranking_evals_window_partitioned_by_key(plans):
    """q_value_ndcg / q_purchase_map / q_purchase_auc_by_cohort: the
    rank windows must partition by the query key (the plan's
    windowspecdefinition carries the key before the order spec — no
    empty partition spec = no single-task global sort)."""
    for name, key in (
        ("q_value_ndcg", "event_type"),
        ("q_purchase_map", "event_type"),
        ("q_purchase_auc_by_cohort", "cohort"),
    ):
        p = plans(name, "extended")
        import re as _re

        specs = _re.findall(r"windowspecdefinition\(([^)]*)\)", p)
        assert specs, name
        for spec in specs:
            assert spec.split(",")[0].strip().startswith(key), (name, spec)


def test_label_propagation_builder_fires_no_jobs(spark, sf_dir):
    """Builders build plans and fire no Spark job: the LPA builder
    returns pure lineage (the label frame enters each iteration once),
    with no eager localCheckpoint inside the call."""
    from big_data_engineering_project_spark.caches import (
        clear_all_owned_caches,
    )
    from big_data_engineering_project_spark.sources.catalog import load_table

    load_table(spark, sf_dir, "events")  # warm the scan: its schema
    # read may fire a job, and the memoized scan is shared by builders
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    before = sched.numTotalJobs()
    REGISTRY["q_label_propagation"].builder(spark, sf_dir)
    fired = sched.numTotalJobs() - before
    clear_all_owned_caches()
    assert fired == 0, fired
