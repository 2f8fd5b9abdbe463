"""SparkSession factory with scale-aware defaults.

The reference delegates all execution to Athena/Presto, Catalyst and
pandas (SURVEY.md §4); it configures nothing. Here we pin the session
settings that matter for correctness (UTC timezone — the reference's
naive/aware datetime mismatch, `reddit_kinesis_1.py:36` vs
`kinesis_processing_2.py:86` — is resolved by pinning UTC) and for
scale (AQE, skew-join handling, partial-aggregation-friendly shuffle
sizing, Arrow for the few pandas UDF boundaries).

At 100 TB these defaults matter:
- AQE re-plans at runtime: coalesces tiny post-shuffle partitions,
  converts sort-merge→broadcast when a side turns out small, and splits
  skewed partitions (the synthetic data is Zipf-skewed on purpose).
- `spark.sql.shuffle.partitions` is only the *initial* number; AQE
  coalesces down. On a real cluster you'd size it ~2-3× total cores.
- Arrow makes the sentiment / stemming pandas UDFs batch-vectorized
  instead of row-at-a-time pickling.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def default_driver_memory() -> str:
    """`spark.driver.memory` when SPARK_DRIVER_MEMORY is unset: half of
    physical memory, at most 24g. The other half is headroom for what
    lives outside the heap: the Python driver and pandas/Arrow
    workers, and the JVM's own off-heap memory (metaspace, thread
    stacks, direct buffers). A heap sized past physical memory grows
    until the kernel kills the JVM."""
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(24 * 1024, phys_mb // 2)}m"


def get_spark(
    app_name: str = "bde-spark-engine",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    local[N] for tests; on a cluster the master/resource settings come
    from spark-submit and everything here still applies.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    n_shuffle = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Correctness-critical: the reference mixes naive and aware UTC
        # datetimes; we pin the session to UTC everywhere.
        .config("spark.sql.session.timeZone", "UTC")
        # Adaptive execution: runtime partition coalescing, skew-join
        # splitting, dynamic join-strategy switching.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let AQE re-optimize INSIDE cached plans (partition coalescing
        # above all): the engine pins many bounded frames (shingle
        # memo, graph edge frames, two-phase rank shuffles), and
        # without this flag a cached subtree executes with the static
        # shuffle-partition count — dozens of near-empty tasks per
        # tiny cached aggregate locally, uncoalesced small partitions
        # at cluster scale. Values are unchanged (AQE moves partition
        # BOUNDARIES only; every pinned consumer reads the one
        # materialization). Re-adjudicated r15 over the dedup family +
        # pretrain + the pinned-frame queries in a committed
        # interleaved A/B (plans/r15/ab_cachedplan_aqe.json):
        # link_prediction +31%, mg +12%, decontaminate +10%,
        # incremental_rs +6%, ngram/pretrain/rfm wash, minhash −11%
        # (burst-contaminated arm); total 3.4% in favor of ON — keep.
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        # Arrow-vectorized pandas UDF transfer (UD2 sentiment, UD5 stem).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Broadcast small dimension tables automatically (region/nation/
        # supplier/part stay far under this at any SF; facts never join
        # without either a broadcast or a co-partitioned shuffle).
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # The driver's `events` table stores timestamp[ns]; Spark has no
        # nanosecond timestamp type, so read as long and convert in the
        # catalog (sources/catalog.py) — truncation to µs, like DuckDB's
        # ns→µs cast.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Quiet local runs; harmless on a cluster.
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory(),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel(os.environ.get("SPARK_LOG_LEVEL", "WARN"))
    # Python UDFs pickle by module reference; ship the package so
    # executor workers can import it regardless of driver cwd.
    from big_data_engineering_project_spark.sources.catalog import (
        ensure_package_on_executors,
    )

    ensure_package_on_executors(spark)
    return spark
