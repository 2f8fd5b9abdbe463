"""Pareto frontier (skyline) operator.

"Best trade-off" queries — cheapest-and-largest part, fastest-and-
freshest replica — ask for the points no other point dominates on
(minimize x, maximize y). The textbook formulation is a quadratic
NOT-EXISTS self-join (the registered query's ORACLE, so the gate
verifies this plan against the naive semantics); the 2-D skyline
collapses to a PREFIX MAX over x: a point survives iff no strictly-
smaller-x point reaches its y.

Scale shape (the `global_row_number` discipline from
operators/linkage.py — never a bare Window.orderBy over the corpus):

1. collapse points to x-groups with their max y (partial-aggregable);
2. range-repartition the group table on x, EXCLUSIVE local running
   max per partition;
3. per-partition maxes -> an EXCLUSIVE prefix-max offsets table,
   <= n_partitions rows, the only single-task step, broadcast back;
4. threshold(x) = greatest(local, offset); a point survives iff
   y == its group max AND threshold < y (NULL threshold = smallest-x
   group, always on the frontier).

Equal-x ties: the group max settles same-x dominance (strictly
larger y dominates); duplicate (x, y) points are mutually
non-dominating and all survive — matching the NOT-EXISTS semantics
exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from big_data_engineering_project_spark.caches import pin


def pareto_frontier_2d(
    df: DataFrame,
    min_col: str,
    max_col: str,
    n_parts: int | None = None,
) -> DataFrame:
    """All rows of `df` not Pareto-dominated under (minimize
    `min_col`, maximize `max_col`). Dominance: q dominates p iff
    q.min <= p.min AND q.max >= p.max AND (q.min < p.min OR
    q.max > p.max). Returns the input rows (all columns) that
    survive. NULL in either dimension excludes the row (NULL
    compares to nothing, matching the oracle's NOT EXISTS)."""
    spark = df.sparkSession
    pts = df.filter(F.col(min_col).isNotNull() & F.col(max_col).isNotNull())
    groups = pts.groupBy(F.col(min_col).alias("__x")).agg(
        F.max(max_col).alias("__gmax")
    )
    n = n_parts or spark.sparkContext.defaultParallelism
    parted = groups.repartitionByRange(n, "__x").withColumn(
        "__pid", F.spark_partition_id()
    )
    # Pinned (spills — never recomputes) so the
    # local prefix maxes and the per-partition maxes read the SAME
    # evaluation of the range shuffle: repartitionByRange re-samples
    # boundaries per evaluation and a shuffled upstream's row order is
    # fetch-order-dependent, so two evaluations can bucket differently
    # (SPARK-23207 family) and the pid-keyed join below would mix them.
    local = pin(
        parted.withColumn(
            "__lmax",
            F.max("__gmax").over(
                Window.partitionBy("__pid")
                .orderBy("__x")
                .rowsBetween(Window.unboundedPreceding, -1)
            ),
        )
    )
    # per-partition maxes -> exclusive prefix max: <= n rows, the only
    # single-task window, broadcast back.
    pmax = local.groupBy("__pid").agg(F.max("__gmax").alias("__pm"))
    offsets = pmax.withColumn(
        "__off",
        F.max("__pm").over(
            Window.orderBy("__pid").rowsBetween(
                Window.unboundedPreceding, -1
            )
        ),
    ).select("__pid", "__off")
    thresholds = (
        local.join(F.broadcast(offsets), "__pid")
        .select(
            "__x",
            "__gmax",
            F.greatest("__lmax", "__off").alias("__thr"),
        )
    )
    return (
        pts.join(thresholds, pts[min_col] == F.col("__x"))
        .filter(
            (F.col(max_col) == F.col("__gmax"))
            & (F.col("__thr").isNull() | (F.col("__thr") < F.col(max_col)))
        )
        .drop("__x", "__gmax", "__thr")
    )
