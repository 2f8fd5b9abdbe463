"""Market-basket association mining: frequent item pairs + lift.

North-star extension (no reference analog — the reference stops at
per-key counts): co-occurrence statistics over a basket-structured
fact table, the standard first step of association-rule mining
(Agrawal & Srikant, VLDB'94 — the a-priori support prefilter below is
that paper's key pruning idea).

Pipeline shape — ONE pass over the input, all exact integers until
the final lift division:

1. per-basket sorted item sets: groupBy(basket) + sort_array(
   collect_set(item)) — the only input-sized shuffle; collect_set
   dedups within the basket (≡ DISTINCT (basket, item)).
2. each basket emits, row-locally: its C(n,2) ordered pairs
   (a < b), its single items tagged (x, NULL), and one (NULL,
   NULL) basket marker — one exploded stream into ONE
   groupBy(a, b) count. Fan-out is Σ C(basket_size, 2), bounded
   by the largest basket (TPC-H order ≤ 7 lines → ≤ 21 pairs; a
   real corpus needs the min-support cut to bound this).
3. pair supports, item supports, and the basket count N are then
   FILTERS over that one counts aggregate (pinned with
   caches.pin, because Catalyst pushes the filters
   below the aggregate and would otherwise recompute the full
   upstream per consumer).
4. lift(a,b) = N·supp(a,b) / (supp(a)·supp(b)) computed as ONE
   double division of exact BIGINT products — both engines evaluate
   the identical IEEE expression, so lift is hash-comparable. The
   support tables are item-cardinality-sized — UNBOUNDED when items
   are a token/doc vocabulary — so the support joins carry NO
   broadcast hint: AQE broadcasts from observed size when small,
   and Spark keeps the freedom to shuffle-join when not.
5. a-priori prune (min_item_support > 1): item supports computed
   first, survivors semi-joined (hint-free, same reasoning) before
   pair generation — an item below threshold cannot be in a pair
   above it (Agrawal & Srikant); N still counts pruned-empty
   baskets so lift stays a full-corpus probability ratio.

Scale: no all-pairs product anywhere (pairs exist only within a
basket); the input is scanned ONCE and shuffled once (on basket);
everything after step 2's aggregate is pair-cardinality-sized. A
pathologically hot ITEM inflates pair fan-out linearly, not
quadratically, because it pairs only within baskets; a
pathologically hot BASKET is C(n,2) — cap upstream or raise
min_item_support.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from big_data_engineering_project_spark.caches import pin


def frequent_pairs(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_item_support: int = 1,
) -> DataFrame:
    """Within-basket item pairs with support and lift.

    Returns (item_a, item_b, pair_support, support_a, support_b,
    lift) with item_a < item_b; lift relative to the TOTAL basket
    count (including baskets emptied by the support prune — lift
    stays a probability ratio over the full corpus).
    """
    item_t = dict(df.dtypes)[item_col]
    src = df.filter(
        F.col(basket_col).isNotNull() & F.col(item_col).isNotNull()
    ).select(
        F.col(basket_col).alias("__basket"), F.col(item_col).alias("__item")
    )

    pre_prune_n = None
    if min_item_support > 1:
        # a-priori prune needs item supports BEFORE pair generation —
        # two-pass path: supports from one distinct, survivors semi-
        # joined (broadcast), then the single-pass core below. N must
        # count baskets the prune EMPTIES too (lift stays a full-
        # corpus probability ratio), so it comes from the pre-prune
        # stream, not the basket markers.
        pre_prune_n = src.select(
            F.countDistinct("__basket").cast("long").alias("__n")
        )
        supp0 = (
            src.distinct()
            .groupBy("__item")
            .agg(F.count(F.lit(1)).cast("long").alias("__supp"))
            .filter(F.col("__supp") >= min_item_support)
        )
        # hint-free semi join for the same reason as the support
        # joins below: the survivor set is item-cardinality-sized
        # and unbounded for vocabulary-scale runs; AQE broadcasts
        # it at runtime when it is actually small.
        src = src.join(supp0.select("__item"), "__item", "left_semi")

    # ONE pass: per-basket sorted item set (collect_set dedups within
    # the basket; sort_array makes pair order canonical), then every
    # basket emits its pairs (a < b), its single items tagged (x,
    # NULL), and one (NULL, NULL) basket marker — a single exploded
    # stream into a single groupBy. Pair supports, item supports, and
    # the basket count are then FILTERS over that one aggregate, whose
    # shuffle Catalyst plans once and reuses (ReusedExchange) for all
    # three consumers — versus the naive self-join form which scans
    # and distinct-shuffles the input five times.
    baskets = src.groupBy("__basket").agg(
        F.sort_array(F.collect_set("__item")).alias("__its")
    )
    null_item = F.lit(None).cast(item_t)
    pairs_arr = F.flatten(
        F.transform(
            F.col("__its"),
            lambda x, i: F.transform(
                F.slice(F.col("__its"), i + 2, F.size(F.col("__its"))),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    singles_arr = F.transform(
        F.col("__its"),
        lambda x: F.struct(x.alias("a"), null_item.alias("b")),
    )
    marker_arr = F.array(
        F.struct(null_item.alias("a"), null_item.alias("b"))
    )
    counts = pin(
        baskets.select(
            F.explode(
                F.concat(pairs_arr, singles_arr, marker_arr)
            ).alias("__t")
        )
        .select(F.col("__t.a").alias("a"), F.col("__t.b").alias("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    pair_counts = counts.filter(
        F.col("a").isNotNull() & F.col("b").isNotNull()
    ).select(
        F.col("a").alias("item_a"),
        F.col("b").alias("item_b"),
        F.col("c").alias("pair_support"),
    )
    sa = counts.filter(
        F.col("a").isNotNull() & F.col("b").isNull()
    ).select(F.col("a").alias("item_a"), F.col("c").alias("support_a"))
    sb = counts.filter(
        F.col("a").isNotNull() & F.col("b").isNull()
    ).select(F.col("a").alias("item_b"), F.col("c").alias("support_b"))
    nb = (
        pre_prune_n
        if pre_prune_n is not None
        else counts.filter(F.col("a").isNull()).select(
            F.col("c").alias("__n")
        )
    )  # 1 row
    # The support joins carry NO broadcast hint: sa/sb are one row
    # per DISTINCT ITEM, unbounded by input size when the operator
    # runs over a token/doc vocabulary (10^7-10^9 items) — a forced
    # broadcast would OOM executors there, while for a small catalog
    # AQE still converts the equi-join to a broadcast join at
    # runtime from the OBSERVED post-aggregate size. Spark must stay
    # free to pick sort-merge/shuffled-hash when the supports are
    # big (tests/test_plans.py pins the hint-free form). Only the
    # 1-row basket-count frame keeps its broadcast.
    return (
        pair_counts.join(sa, "item_a")
        .join(sb, "item_b")
        .crossJoin(F.broadcast(nb))
        .withColumn(
            "lift",
            (F.col("pair_support") * F.col("__n")).cast("double")
            / (F.col("support_a") * F.col("support_b")).cast("double"),
        )
        .select(
            "item_a",
            "item_b",
            "pair_support",
            "support_a",
            "support_b",
            "lift",
        )
    )
