"""The hot-path pipeline: source → enrichment → foreachBatch body
(author-count stamp + sinks) (SURVEY.md §3.1 engine mapping). The hot
path is one more runner of streaming/scd2.py: the same `_drain`, the
same prior reader (`_read_prior`), the same uncommitted-directory rule
(`_uncommitted`) and the same directory-per-batch sinks (`_batch_tag`).

Enrichment is the full `preprocess_record` port
(`kinesis_processing_2.py:48-102`, UD3) decomposed into native column
expressions — the reference's per-record Python loop becomes
whole-stage-codegen'd JVM work; only nothing remains in Python (the
sentiment lexicon is itself a Catalyst expression; see
functions/sentiment.py).

Scale notes:
- Micro-batch caps (`maxFilesPerTrigger`) ≡ the consumer's
  `get_records(Limit=100)` (T1/O7).
- `checkpointLocation` upgrades the reference's at-least-once-no-
  checkpoint loop (T8) to exactly-once sinks: each batch writes its
  table rows, anomalies and author-count delta to its own
  `batch=<lineage>-<id>` directory, which a replay overwrites.
- The running author count (T4) is JVM work inside the batch body:
  `row_number` within the batch plus each author's prior total, read
  from per-batch `(author, total)` delta directories that live in the
  checkpoint. Per-batch work is O(touched authors) plus one scan of
  the prior totals, pruned to the batch's authors before any
  aggregate or broadcast; no Python runs per record or per author.
  Deltas fold into one base at the start of each `run_hot_path` call
  (a read and write of every total), and inside a call into one
  merged run every MERGE_AT batches, so a prior read never lists more
  than MERGE_AT + 2 directories however long the call.
- The per-batch anomaly stats (T5) are observed DURING the table
  write (an `Observation` of avg/stddev_samp over the BATCH, not the
  stream); the anomalies are then a filter with literal μ/σ over the
  same persisted frame — no separate stats job, no broadcast.
"""

from __future__ import annotations

import datetime as dt
import posixpath
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from big_data_engineering_project_spark.functions.datetime_ops import (
    parse_timestamp,
    post_age_minutes,
    time_of_day,
)
from big_data_engineering_project_spark.functions.math_ops import (
    popularity_score,
    post_type,
    zscore,
)
from big_data_engineering_project_spark.functions.sentiment import sentiment_col
from big_data_engineering_project_spark.functions.text import (
    remove_stopwords,
    strip_punctuation,
    tokenize,
)
from big_data_engineering_project_spark.operators.compaction import (
    _fs_delete,
    _fs_list,
    _fs_list_batches,
    compact_batches,
)
from big_data_engineering_project_spark.streaming.scd2 import (
    _batch_tag,
    _drain,
    _json_stream,
    _last_committed,
    _read_prior,
    _uncommitted,
)

# The 14-field producer record (`reddit_kinesis_1.py:41-56`; FIXTURES.md §2)
# + `seq`, an explicit arrival sequence the tests use to cross-check the
# stateful count against the batch row_number formulation.
STREAM_SCHEMA = StructType(
    [
        StructField("seq", LongType()),
        StructField("id", StringType()),
        StructField("author", StringType()),
        StructField("title", StringType()),
        StructField("subreddit", StringType()),
        StructField("created_time", StringType()),
        StructField("score", IntegerType()),
        StructField("num_comments", IntegerType()),
        StructField("is_self_post", BooleanType()),
        StructField("flair_text", StringType()),
        StructField("upvote_ratio", DoubleType()),
        StructField("edited", StringType()),
        StructField("over_18", BooleanType()),
        StructField("thumbnail", StringType()),
        StructField("stickied", BooleanType()),
    ]
)


def stream_source(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """S2/S3: JSON-lines micro-batch file source — the Kinesis shard
    poll re-expressed (`maxFilesPerTrigger` ≡ get_records Limit)."""
    return _json_stream(spark, STREAM_SCHEMA, input_dir, max_files_per_trigger)


def enrich_stream(df: DataFrame, now: dt.datetime) -> DataFrame:
    """UD3 `preprocess_record` as pure column expressions (works on
    batch AND streaming frames — tests exploit that equivalence).

    `now` is injected (frozen in tests) — kinesis_processing_2.py:86
    uses wall clock, which would make results non-reproducible.
    """
    created = parse_timestamp(F.col("created_time"))
    cleaned_title = strip_punctuation(F.lower(F.col("title")))  # X1+X2
    return (
        df.withColumn("created_ts", created)
        .withColumn(
            "title_tokens", remove_stopwords(tokenize(cleaned_title))  # X8+F5
        )
        .withColumn("sentiment", sentiment_col(F.col("title")))  # UD2
        .withColumn(
            "post_age_minutes",
            post_age_minutes(F.col("created_ts"), F.lit(now)),  # D3
        )
        .withColumn(
            "popularity_score",
            popularity_score(  # M1 + M4 defaults
                F.col("score"), F.col("upvote_ratio"), F.col("num_comments")
            ),
        )
        .withColumn("post_type", post_type(F.col("thumbnail")))  # M3
        .withColumn("time_of_day", time_of_day(F.col("created_ts")))  # D6
    )


# One `(author, total)` row per author a batch touched, in
# `<checkpoint>/author_counts/batch=<tag>/`; the explicit schema spares
# every prior read a schema-inference job.
COUNTS_SCHEMA = "author STRING, total BIGINT, batch STRING"


def stamp_author_counts(batch: DataFrame, counts_root: str, tag: str) -> DataFrame:
    """T4: `batch` plus `author_activity_count` — each author's prior
    total plus `row_number()` over `partitionBy(author).orderBy(seq)`
    within the batch (the reference stamps in poll-loop order,
    `kinesis_processing_2.py:98-100`) — and `_last`, true on each
    author's last row, whose count is the author's new total.

    The prior totals are every delta under `counts_root` except the
    batch's own `tag` (a replay must not read itself), pruned to the
    batch's authors by a left-semi join BEFORE the max-per-author
    aggregate, so a large prior costs one scan and never a shuffle or
    broadcast of its own size. The planner picks the semi join by the
    batch's size. The pruned prior is broadcast by hint: it holds at
    most one row per distinct author of the batch, but the planner
    estimates a semi join at the size of its left side, the whole
    prior. Joins are null-safe: a null author is one author, as
    Spark's window partitioning treats it."""
    by_author = Window.partitionBy("author")
    stamped = batch.select(
        "*",
        F.row_number().over(by_author.orderBy("seq")).alias("_n"),
        F.count(F.lit(1)).over(by_author).alias("_c"),
    )
    prior_total = F.lit(0)
    prior = _read_prior(batch.sparkSession, counts_root, tag, COUNTS_SCHEMA)
    if prior is not None:
        authors = batch.select(F.col("author").alias("_a"))
        prior = (
            prior.join(authors, F.col("author").eqNullSafe(F.col("_a")), "left_semi")
            .groupBy(F.col("author").alias("_pa"))
            .agg(F.max("total").alias("_prior"))
        )
        stamped = stamped.join(
            F.broadcast(prior), F.col("author").eqNullSafe(F.col("_pa")), "left"
        )
        prior_total = F.coalesce(F.col("_prior"), F.lit(0))
    return stamped.select(
        *batch.columns,
        (prior_total + F.col("_n")).cast("long").alias("author_activity_count"),
        (F.col("_n") == F.col("_c")).alias("_last"),
    )


# A batch body merges the committed non-base directories into one once
# there are this many, so a prior read inside a long call lists and
# scans at most MERGE_AT + 2 directories (base, merged run, deltas).
MERGE_AT = 8


def _max_total(df: DataFrame) -> DataFrame:
    return df.groupBy("author").agg(F.max("total").alias("total"))


def _compact_author_counts(spark: SparkSession, checkpoint_dir: str) -> None:
    """At the start of a call: delete the uncommitted delta, if a
    crash left one (its replay rewrites it), then fold every committed
    delta into one `batch=base` directory, one row per author, in one
    file per core: every batch scans the base whole, so its files set
    the scan's parallelism. Costs one read and one write of all the
    totals."""
    root = posixpath.join(checkpoint_dir, "author_counts")
    tags = _fs_list_batches(spark, root)
    stale = _uncommitted(tags, checkpoint_dir, _last_committed(spark, checkpoint_dir))
    for t in stale:
        _fs_delete(spark, posixpath.join(root, f"batch={t}"))
    if set(tags) - set(stale) - {"base"}:
        compact_batches(
            spark,
            root,
            transform=_max_total,
            n_files=spark.sparkContext.defaultParallelism,
        )


def _merge_author_counts(spark: SparkSession, checkpoint_dir: str) -> None:
    """Inside a call: once MERGE_AT committed non-base directories
    exist, write their max-per-author rows to one `<lineage>-m<last>`
    run and delete them. The base is not touched, so the merge costs
    O(authors touched since the call's fold). The inputs are deleted
    only after the run is written, and max is idempotent, so a crash
    at any point leaves the same totals. The run's name is new: each
    batch of a call sees another last commit, and each call starts
    from the fold, which leaves no run behind."""
    root = posixpath.join(checkpoint_dir, "author_counts")
    tags = _fs_list_batches(spark, root)
    last = _last_committed(spark, checkpoint_dir)
    stale = _uncommitted(tags, checkpoint_dir, last)
    merged = [t for t in tags if t != "base" and t not in stale]
    if len(merged) < MERGE_AT:
        return
    run = _batch_tag(checkpoint_dir, f"m{last}")
    _max_total(
        spark.read.schema(COUNTS_SCHEMA)
        .parquet(root)
        .filter(F.col("batch").isin(merged))
    ).coalesce(1).write.mode("overwrite").parquet(
        posixpath.join(root, f"batch={run}")
    )
    for t in merged:
        _fs_delete(spark, posixpath.join(root, f"batch={t}"))


def run_hot_path(
    spark: SparkSession,
    input_dir: str,
    table_path: str,
    anomaly_path: str,
    checkpoint_dir: str,
    now: dt.datetime,
    anomaly_col: str = "score",
    threshold: float = 3.0,
    max_files_per_trigger: int = 1,
) -> list[dict]:
    """End-to-end hot path with AvailableNow trigger (bounded run ≡ the
    55-min cutoff T3, but data-driven: process everything then stop),
    drained by streaming/scd2.py's `_drain` over the enriched stream.
    Returns `durationMs` (phase → ms) of each recent micro-batch
    progress, oldest first.

    The foreachBatch body, per micro-batch with tag `<lineage>-<id>`:
      a) persists the enriched batch once (the source is read once),
         merges the committed author-count deltas once there are
         MERGE_AT of them (`_merge_author_counts`), and stamps
         `author_activity_count` (`stamp_author_counts`);
      b) writes it to the typed Parquet table — the DynamoDB put_item
         table (K3/T6) — as `table_path/batch=<tag>/` with batch_id,
         observing avg/stddev_samp of `anomaly_col` during that write;
      c) writes its own `(author, total)` delta for the authors it
         touched, `<checkpoint>/author_counts/batch=<tag>/`;
      d) writes the z-score anomalies OVER THIS BATCH ONLY (T5,
         kinesis_processing_2.py:104-119) to
         `anomaly_path/batch=<tag>/`, a filter with the observed μ/σ
         as literals.
    c) and d) only read the persisted frame, so c) runs on a pool
    thread beside d): the two small jobs at once take ~10% off a
    100-record trigger (SCALING.md).

    State lifetime and replay: the author counts live in the
    checkpoint, as a state store would, so a fresh checkpoint starts
    fresh counts and a restart continues them. Each call first deletes
    a delta a crash left uncommitted and folds the committed ones into
    `batch=base` (`_compact_author_counts`), a read and write of every
    author's total. A batch replayed after a crash before its commit
    reads the same prior (its own delta is excluded, later ones do not
    exist yet), so it stamps the same counts, and every write of b)-d)
    overwrites the batch's own directory: the table, the anomalies and
    the counts are exactly-once across the replay (streaming/scd2.py,
    replay contract).

    Raises ValueError before the stream starts when `table_path` or
    `anomaly_path` holds a visible entry (not `_`- or `.`-prefixed)
    that is not a `batch=` directory, e.g. the flat files of a table
    an earlier version appended to: a parquet read of such a root
    sees only the `batch=` partitions and silently drops the rest.
    """
    for root in (table_path, anomaly_path):
        stray = [
            n for n in _fs_list(spark, root) if not n.startswith(("batch=", "_", "."))
        ]
        if stray:
            raise ValueError(
                f"run_hot_path: {root} holds {stray[0]} beside its batch= "
                "directories, which a read would drop; start a fresh path"
            )
    counts_root = posixpath.join(checkpoint_dir, "author_counts")
    _compact_author_counts(spark, checkpoint_dir)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        tag = _batch_tag(checkpoint_dir, batch_id)
        _merge_author_counts(spark, checkpoint_dir)
        batch = batch_df.persist()
        stamped = (
            stamp_author_counts(batch, counts_root, tag)
            .withColumn("batch_id", F.lit(batch_id))
            .persist()
        )
        try:
            table = stamped.drop("_last")
            stats = Observation()
            table.observe(
                stats,
                F.avg(anomaly_col).alias("mu"),
                F.stddev_samp(anomaly_col).alias("sigma"),
            ).write.mode("overwrite").parquet(
                posixpath.join(table_path, f"batch={tag}")
            )
            delta = (
                stamped.filter(F.col("_last"))
                .select("author", F.col("author_activity_count").alias("total"))
                .coalesce(1)
                .write.mode("overwrite")
            )
            with ThreadPoolExecutor(1) as pool:
                written = pool.submit(
                    delta.parquet, posixpath.join(counts_root, f"batch={tag}")
                )
                observed = stats.get
                mu, sigma = (
                    F.lit(observed[k]).cast("double") for k in ("mu", "sigma")
                )
                (
                    table.withColumn("z", zscore(F.col(anomaly_col), mu, sigma))
                    .filter(F.col("z") > threshold)
                    .write.mode("overwrite")
                    .parquet(posixpath.join(anomaly_path, f"batch={tag}"))
                )
                written.result()
        finally:
            stamped.unpersist()
            batch.unpersist()

    return _drain(
        enrich_stream(stream_source(spark, input_dir, max_files_per_trigger), now),
        checkpoint_dir,
        process_batch,
    )


def dedup_stream(
    df: DataFrame, id_col: str = "id", ts_col: str = "created_ts", within: str = "1 hour"
) -> DataFrame:
    """At-least-once → effectively-once: drop duplicate record ids
    arriving within the watermark horizon. The reference's no-checkpoint
    consumer re-reads and double-writes on crash (T8); a keyed
    dropDuplicatesWithinWatermark bounds the dedup state while
    guaranteeing duplicates inside the horizon are removed."""
    return df.withWatermark(ts_col, within).dropDuplicatesWithinWatermark([id_col])


# --- streaming curation (incremental training-data ingest) ---------------------

DOC_STREAM_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
    ]
)


def run_curation_stream(
    spark: SparkSession,
    input_dir: str,
    out_path: str,
    checkpoint_dir: str,
    quality_min: float,
    max_files_per_trigger: int = 1,
) -> None:
    """The batch curation pass (`plans.queries_pipeline.curate_documents`)
    as an INCREMENTAL ingest stream — how a production corpus actually
    arrives: quality/lang gate → content-hash split stamp →
    fingerprint → cross-batch exact dedup → parquet sink.

    Stream ≡ batch by construction (tested) for the gate, split and
    fingerprint columns — identical expressions on both paths. Dedup
    keeper semantics are slightly weaker: streaming `dropDuplicates`
    keeps the first MICRO-BATCH's row per fingerprint, but within a
    single micro-batch row order is undefined, so when two
    different-id duplicates land in the SAME batch the survivor is
    arbitrary (the batch pass keeps min doc_id). Stream ≡ batch on
    doc_id therefore holds when duplicates arrive in doc_id-ordered
    batches — an ingest log's natural order, and what the equivalence
    test replays; id-exact parity under arbitrary batching would need
    a per-batch min_by collapse via foreachBatch at the cost of the
    operator-level state store.

    State posture: the fingerprint dedup state is one 8-byte hash per
    UNIQUE document ever seen — the smallest possible exact-dedup
    state, checkpointed with the query. For bounded-state deployments
    swap in `dropDuplicatesWithinWatermark` (accepting horizon-limited
    dedup, cf. `dedup_stream`).
    """
    from big_data_engineering_project_spark.operators.sampling import with_split
    from big_data_engineering_project_spark.operators.text_analysis import (
        fingerprint_col,
        text_profile_named,
    )

    src = _json_stream(spark, DOC_STREAM_SCHEMA, input_dir, max_files_per_trigger)
    prof = text_profile_named("text")
    kept = (
        src.select("doc_id", "source", "text", prof.alias("_prof"))
        .filter(
            (F.col("_prof.quality") >= quality_min)
            & (F.col("_prof.lang") == "en")
        )
        .select(
            "doc_id",
            "source",
            "text",
            F.col("_prof.n_tokens").alias("n_tokens"),
        )
    )
    stamped = with_split(kept, "text").select(
        "doc_id",
        "source",
        "split",
        "n_tokens",
        fingerprint_col(F.col("text")).alias("f"),
    )
    deduped = stamped.dropDuplicates(["f"]).drop("f")
    query = (
        deduped.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
