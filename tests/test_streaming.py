"""Streaming tests (SURVEY.md §5.4): file-source micro-batches with a
frozen clock; author_activity_count == batch row_number formulation;
per-batch z-score anomalies == pandas oracle; exactly-once restart."""

from __future__ import annotations

import datetime as dt
import json
import random

import pandas as pd
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from big_data_engineering_project_spark.streaming.pipeline import (
    STREAM_SCHEMA,
    enrich_stream,
    run_hot_path,
)

FROZEN_NOW = dt.datetime(2026, 1, 16, 0, 0, 0)


def _gen_records(n: int, seed: int = 42) -> list[dict]:
    rng = random.Random(seed)
    authors = [f"user{i}" for i in range(8)]
    recs = []
    for i in range(n):
        score = rng.randint(0, 100)
        if i % 37 == 0:
            score = 100_000  # guaranteed z-score outlier (FIXTURES.md §2)
        recs.append(
            {
                "seq": i,
                "id": f"post{i:05d}",
                "author": rng.choice(authors),
                "title": rng.choice(
                    ["Good news everyone", "bad terrible day!!", "Just a question?"]
                ),
                "subreddit": rng.choice(["jobs", "college"]),
                "created_time": (
                    dt.datetime(2026, 1, 15, 0, 0, 0) + dt.timedelta(minutes=i)
                ).strftime("%Y-%m-%d %H:%M:%S"),
                "score": score,
                "num_comments": rng.randint(0, 50),
                "is_self_post": bool(rng.getrandbits(1)),
                "flair_text": rng.choice(["Help", None]),
                "upvote_ratio": round(rng.random(), 2),
                "edited": "False",
                "over_18": False,
                "thumbnail": rng.choice(["self", "http://img/x.jpg"]),
                "stickied": False,
            }
        )
    return recs


def _write_batches(dirpath, recs, batch_size=40):
    # Spark's file source orders by modification time (ties → undefined
    # order); strictly increasing mtimes pin arrival order = seq order.
    import os
    import time

    t0 = time.time() - 3600
    for b, start in enumerate(range(0, len(recs), batch_size)):
        path = f"{dirpath}/{b:04d}.json"
        with open(path, "w") as f:
            for r in recs[start : start + batch_size]:
                f.write(json.dumps(r) + "\n")
        os.utime(path, (t0 + b, t0 + b))


@pytest.fixture(scope="module")
def hot_path_output(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("stream")
    in_dir, table, anom, cp = (
        str(base / "in"),
        str(base / "table"),
        str(base / "anomalies"),
        str(base / "cp"),
    )
    (base / "in").mkdir()
    recs = _gen_records(200)
    _write_batches(in_dir, recs, batch_size=40)
    run_hot_path(
        spark, in_dir, table, anom, cp, now=FROZEN_NOW, max_files_per_trigger=1
    )
    return {"in": in_dir, "table": table, "anom": anom, "cp": cp, "recs": recs}


def test_all_records_land_exactly_once(spark, hot_path_output):
    out = spark.read.parquet(hot_path_output["table"])
    assert out.count() == 200
    assert out.select("id").distinct().count() == 200


def test_batches_respect_trigger_cap(spark, hot_path_output):
    out = spark.read.parquet(hot_path_output["table"])
    per_batch = {
        r["batch_id"]: r["cnt"]
        for r in out.groupBy("batch_id").agg(F.count("*").alias("cnt")).collect()
    }
    # 200 records / 40 per file / 1 file per trigger = 5 batches (T1/O7).
    assert len(per_batch) == 5
    assert all(v == 40 for v in per_batch.values())


def test_author_count_equals_batch_row_number(spark, hot_path_output):
    """The stateful streaming count must equal the batch formulation
    row_number().over(partitionBy(author).orderBy(seq)) — SURVEY §7.3
    'has exact batch equivalent for testing'."""
    out = spark.read.parquet(hot_path_output["table"])
    w = Window.partitionBy("author").orderBy("seq")
    expected = (
        spark.read.schema(STREAM_SCHEMA)
        .json(hot_path_output["in"])
        .withColumn("expected", F.row_number().over(w))
        .select("seq", "expected")
    )
    joined = out.join(expected, "seq")
    mismatches = joined.filter(
        F.col("author_activity_count") != F.col("expected")
    ).count()
    assert mismatches == 0


def test_enrichment_matches_batch_mode(spark, hot_path_output):
    """Streaming enrichment == the same expressions applied in batch
    mode over the same files (stream/batch unification)."""
    out = spark.read.parquet(hot_path_output["table"])
    batch = enrich_stream(
        spark.read.schema(STREAM_SCHEMA).json(hot_path_output["in"]), FROZEN_NOW
    )
    cols = [
        "seq",
        "sentiment",
        "post_age_minutes",
        "popularity_score",
        "post_type",
        "time_of_day",
    ]
    a = out.select(cols).toPandas().sort_values("seq").reset_index(drop=True)
    b = batch.select(cols).toPandas().sort_values("seq").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_per_batch_anomalies_match_pandas_oracle(spark, hot_path_output):
    """T5: z-score anomalies recomputed per micro-batch only — verify
    against a pandas groupby-per-batch oracle (ddof=1 like the
    reference's pandas .std())."""
    table = spark.read.parquet(hot_path_output["table"]).toPandas()
    anom = spark.read.parquet(hot_path_output["anom"]).toPandas()
    expected = set()
    for batch_id, g in table.groupby("batch_id"):
        mu, sigma = g["score"].mean(), g["score"].std(ddof=1)
        if sigma and sigma > 0:
            z = ((g["score"] - mu) / sigma).abs()
            expected |= set(g.loc[z > 3.0, "seq"])
    assert set(anom["seq"]) == expected
    assert len(expected) > 0  # the generator plants outliers


def test_restart_is_exactly_once_and_state_continues(spark, hot_path_output):
    """T8: re-running with the same checkpoint after new files arrive
    processes ONLY the new files; author counts continue from state."""
    in_dir, table, anom, cp = (
        hot_path_output["in"],
        hot_path_output["table"],
        hot_path_output["anom"],
        hot_path_output["cp"],
    )
    more = _gen_records(40, seed=7)
    for r in more:
        r["seq"] += 1000
        r["id"] = f"late{r['seq']}"
    with open(f"{in_dir}/9999.json", "w") as f:
        for r in more:
            f.write(json.dumps(r) + "\n")
    run_hot_path(
        spark, in_dir, table, anom, cp, now=FROZEN_NOW, max_files_per_trigger=1
    )
    out = spark.read.parquet(table)
    assert out.count() == 240  # old 200 NOT reprocessed
    # State continued: for an author seen before, the new max count >
    # the count reachable from the late file alone.
    late = out.filter(F.col("seq") >= 1000)
    per_author_late_n = late.groupBy("author").count().collect()
    maxes = {
        r["author"]: r["m"]
        for r in out.groupBy("author").agg(F.max("author_activity_count").alias("m")).collect()
    }
    for r in per_author_late_n:
        assert maxes[r["author"]] > r["count"]


def test_windowed_stream_matches_batch(spark, tmp_path):
    """T7: watermarked streaming window counts == batch F.window over
    the same data, for windows the watermark has closed."""
    import os
    import time as _time

    from big_data_engineering_project_spark.streaming.pipeline import (
        enrich_stream,
        stream_source,
    )
    from big_data_engineering_project_spark.streaming.windows import (
        run_windowed_stream,
        windowed_counts,
    )

    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    recs = _gen_records(160)
    _write_batches(in_dir, recs, batch_size=40)

    stream = enrich_stream(stream_source(spark, in_dir, 2), FROZEN_NOW)
    q = run_windowed_stream(
        stream,
        str(tmp_path / "out"),
        str(tmp_path / "cp"),
        window="1 hour",
        watermark="1 minute",
    )
    q.awaitTermination()

    got = spark.read.parquet(str(tmp_path / "out"))
    batch = windowed_counts(
        enrich_stream(
            spark.read.schema(STREAM_SCHEMA).json(in_dir), FROZEN_NOW
        ),
        "created_ts",
        "subreddit",
        "1 hour",
    )
    # Append mode only emits windows the watermark closed; every emitted
    # window must match the batch count exactly, and most windows close
    # (records span ~2.7h; only the tail window may be withheld).
    emitted = {
        (r["window_start"], r["subreddit"]): r["cnt"] for r in got.collect()
    }
    expected = {
        (r["window_start"], r["subreddit"]): r["cnt"] for r in batch.collect()
    }
    assert len(emitted) > 0
    for k, v in emitted.items():
        assert expected[k] == v, k


def test_dedup_stream_drops_redelivered_records(spark, tmp_path):
    """T8 upgrade: duplicate ids re-delivered in later micro-batches
    (the at-least-once failure mode) are dropped within the watermark."""
    import os

    from big_data_engineering_project_spark.streaming.pipeline import (
        dedup_stream,
        enrich_stream,
        stream_source,
    )

    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    recs = _gen_records(80)
    dupes = [dict(r) for r in recs[20:40]]  # redelivered batch (same ids)
    _write_batches(in_dir, recs + dupes, batch_size=40)

    stream = dedup_stream(
        enrich_stream(stream_source(spark, in_dir, 1), FROZEN_NOW)
    )
    q = (
        stream.writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "cp"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.read.parquet(str(tmp_path / "out"))
    assert out.count() == 80  # 100 deliveries, 80 unique ids
    assert out.select("id").distinct().count() == 80


def test_rate_source_trigger_semantics_no_files(spark):
    """T1/T2 trigger semantics without any tmp files: the built-in
    rate source emits a monotonically increasing `value` at a capped
    rows-per-second; across several processing-time micro-batches the
    union of batches must be gapless and duplicate-free (the same
    exactly-once contract the file-source tests pin, but driven purely
    by trigger timing)."""
    import time

    stream = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 200)
        .load()
        .withColumn("author", (F.col("value") % 3).cast("string"))
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("rate_sink")
        .outputMode("append")
        .trigger(processingTime="300 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 30
        while time.time() < deadline:
            n_batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
            if n_batches >= 3:
                break
            time.sleep(0.3)
        assert n_batches >= 3, "expected several non-empty micro-batches"
    finally:
        q.stop()
    out = spark.sql("SELECT value FROM rate_sink").collect()
    vals = sorted(r["value"] for r in out)
    assert len(vals) > 0
    assert vals == list(range(vals[0], vals[0] + len(vals)))  # gapless, no dupes


def test_streaming_sessionize_matches_batch(spark, tmp_path):
    """Streaming gap sessionization (applyInPandasWithState) must equal
    the batch lag-island formulation (operators.behavior.sessionize)
    over the same records — including sessions that SPAN micro-batch
    boundaries (per-user state carries last_ts across batches)."""
    import os

    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from big_data_engineering_project_spark.operators.behavior import sessionize
    from big_data_engineering_project_spark.streaming.stateful import (
        with_session_idx,
    )

    rng = random.Random(7)
    base = dt.datetime(2026, 1, 15, 0, 0, 0)
    recs, t = [], {u: base for u in range(4)}
    for i in range(120):
        u = rng.randrange(4)
        # gaps straddle the 1h session threshold in both directions
        t[u] += dt.timedelta(minutes=rng.choice([5, 20, 90, 200]))
        recs.append(
            {"event_id": i, "user_id": u,
             "ts": t[u].strftime("%Y-%m-%d %H:%M:%S")}
        )
    # arrival order == event_id order == per-user ts order (file mtimes
    # strictly increasing, 30 records per file)
    in_dir = str(tmp_path / "in"); os.makedirs(in_dir)
    _write_batches(in_dir, recs, batch_size=30)

    schema = StructType(
        [
            StructField("event_id", IntegerType()),
            StructField("user_id", IntegerType()),
            StructField("ts", StringType()),
        ]
    )
    parsed = lambda df: df.withColumn(  # noqa: E731
        "ts", F.to_timestamp("ts", "yyyy-MM-dd HH:mm:ss")
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(in_dir)
    )
    out_dir, cp = str(tmp_path / "out"), str(tmp_path / "cp")
    q = (
        with_session_idx(
            parsed(stream), "user_id", "ts", gap_seconds=3600,
            order_col="event_id",
        )
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", cp)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        (r["event_id"]): r["session_idx"]
        for r in spark.read.parquet(out_dir).collect()
    }
    batch = sessionize(
        parsed(spark.read.schema(schema).json(in_dir)),
        "user_id", "ts", gap_seconds=3600, tiebreak_col="event_id",
    )
    want = {r["event_id"]: r["session_idx"] for r in batch.collect()}
    assert got == want and len(got) == 120


def test_stateful_sessionize_multichunk_arrow_batches(spark, tmp_path):
    """Regression (r5 advice): applyInPandasWithState hands ONE group's
    micro-batch over as MULTIPLE Arrow chunks in shuffle-arrival order;
    the per-chunk sort mis-stamped any batch larger than one chunk.
    Force 5-record chunks and scrambled arrival so a single user's 90
    rows span ~18 chunks — stream must still equal batch exactly."""
    import os

    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    from big_data_engineering_project_spark.operators.behavior import sessionize
    from big_data_engineering_project_spark.streaming.stateful import (
        with_session_idx,
    )

    rng = random.Random(11)
    base = dt.datetime(2026, 2, 1, 0, 0, 0)
    recs, t = [], base
    for i in range(90):
        t += dt.timedelta(minutes=rng.choice([5, 20, 90, 200]))
        recs.append(
            {"event_id": i, "user_id": 1,
             "ts": t.strftime("%Y-%m-%d %H:%M:%S")}
        )
    scrambled = recs[:]
    rng.shuffle(scrambled)  # arrival order != event order inside the batch
    in_dir = str(tmp_path / "in"); os.makedirs(in_dir)
    _write_batches(in_dir, scrambled, batch_size=90)  # one micro-batch

    schema = StructType(
        [
            StructField("event_id", IntegerType()),
            StructField("user_id", IntegerType()),
            StructField("ts", StringType()),
        ]
    )
    parsed = lambda df: df.withColumn(  # noqa: E731
        "ts", F.to_timestamp("ts", "yyyy-MM-dd HH:mm:ss")
    )
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "5")
    try:
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(in_dir)
        )
        out_dir, cp = str(tmp_path / "out"), str(tmp_path / "cp")
        q = (
            with_session_idx(
                parsed(stream), "user_id", "ts", gap_seconds=3600,
                order_col="event_id",
            )
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    finally:
        if old is None:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
        else:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)

    got = {
        r["event_id"]: r["session_idx"]
        for r in spark.read.parquet(out_dir).collect()
    }
    batch = sessionize(
        parsed(spark.read.schema(schema).json(in_dir)),
        "user_id", "ts", gap_seconds=3600, tiebreak_col="event_id",
    )
    want = {r["event_id"]: r["session_idx"] for r in batch.collect()}
    assert got == want and len(got) == 90


def test_curation_stream_matches_batch(spark, tmp_path):
    """Incremental curation ≡ batch curation: the same gate/split/
    fingerprint expressions run as a 3-micro-batch stream with
    cross-batch dedup state; output must equal curate_documents over
    the union (arrival order follows doc_id, so first-arrival ==
    min-doc_id keeper)."""
    import json as _json
    import os
    import time as _time

    from big_data_engineering_project_spark.plans.queries_pipeline import (
        _CURATION_MIN_QUALITY,
        curate_documents,
    )
    from big_data_engineering_project_spark.streaming.pipeline import (
        run_curation_stream,
    )

    en = ("the quick brown fox jumps over the lazy dog and then walks "
          "slowly home through the quiet evening streets with a friend "
          "while the city lights come on one after another and people "
          "gather in small groups near the old market square to share "
          "stories about the long day that is finally winding down now")
    en2 = ("a completely different english paragraph about data engines "
           "that should also survive the quality gate and the language "
           "gate without any trouble because it keeps a natural mix of "
           "common words and longer phrases the way ordinary writing "
           "does when someone simply explains their work to a colleague "
           "over coffee in the late afternoon light of the office")
    junk = "zzzz qqqq xxxx vvvv"  # fails the gate in both paths
    batches = [
        # batch 0: two keepers + an exact redelivery of doc 1 (same id)
        [
            {"doc_id": 1, "text": en, "lang": "en", "source": "s"},
            {"doc_id": 1, "text": en, "lang": "en", "source": "s"},
            {"doc_id": 2, "text": en2, "lang": "en", "source": "s"},
        ],
        # batch 1: cross-batch duplicate of doc 1 under a NEW id + junk
        [
            {"doc_id": 3, "text": en, "lang": "en", "source": "s"},
            {"doc_id": 4, "text": junk, "lang": "en", "source": "s"},
        ],
        # batch 2: another cross-batch duplicate + a fresh keeper
        [
            {"doc_id": 5, "text": en2, "lang": "en", "source": "s"},
            {"doc_id": 6, "text": en + " extended with unique suffix",
             "lang": "en", "source": "s"},
        ],
    ]
    in_dir = str(tmp_path / "in"); os.makedirs(in_dir)
    for i, recs in enumerate(batches):
        with open(os.path.join(in_dir, f"b{i}.json"), "w") as fh:
            for r in recs:
                fh.write(_json.dumps(r) + "\n")
        _time.sleep(0.05)  # strictly increasing mtimes → arrival order

    out, cp = str(tmp_path / "out"), str(tmp_path / "cp")
    run_curation_stream(
        spark, in_dir, out, cp, quality_min=_CURATION_MIN_QUALITY
    )
    got = {
        r["doc_id"]: (r["source"], r["split"], r["n_tokens"])
        for r in spark.read.parquet(out).collect()
    }
    flat = [r for b in batches for r in b]
    from pyspark.sql import Row as _Row

    batch_df = spark.createDataFrame(
        [_Row(**r) for r in flat]
    ).dropDuplicates(["doc_id"])
    want = {
        r["doc_id"]: (r["source"], r["split"], r["n_tokens"])
        for r in curate_documents(batch_df).collect()
    }
    assert got == want
    assert 1 in got and 2 in got and 6 in got  # keepers survive
    assert 3 not in got and 5 not in got      # cross-batch dups dropped
    assert 4 not in got                        # junk gated out


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """Stream-stream inner interval join (clicks ⋈ buys within 30 min)
    drains to exactly the batch join of the same files — and the
    time-range lives in the JOIN condition, so state is bounded (Spark
    rejects the unbounded form outright)."""
    import os

    from big_data_engineering_project_spark.streaming.joins import (
        interval_join_streams,
    )

    base = dt.datetime(2026, 1, 15, 0, 0, 0)
    clicks = [
        {"c_user": f"user{i % 5}", "click_id": i,
         "click_ts": (base + dt.timedelta(minutes=3 * i)).strftime("%Y-%m-%d %H:%M:%S")}
        for i in range(60)
    ]
    buys = [
        {"b_user": f"user{i % 5}", "buy_id": 1000 + i,
         "buy_ts": (base + dt.timedelta(minutes=3 * i + (7 if i % 3 else 45))).strftime("%Y-%m-%d %H:%M:%S")}
        for i in range(60)
    ]
    cdir, bdir = str(tmp_path / "clicks"), str(tmp_path / "buys")
    os.makedirs(cdir), os.makedirs(bdir)
    _write_batches(cdir, clicks, batch_size=20)
    _write_batches(bdir, buys, batch_size=20)

    c_schema = "c_user STRING, click_id LONG, click_ts STRING"
    b_schema = "b_user STRING, buy_id LONG, buy_ts STRING"

    def prep(df, ts):
        return df.withColumn(ts, F.to_timestamp(ts))

    cs = prep(
        spark.readStream.schema(c_schema).option("maxFilesPerTrigger", 1).json(cdir),
        "click_ts",
    )
    bs = prep(
        spark.readStream.schema(b_schema).option("maxFilesPerTrigger", 1).json(bdir),
        "buy_ts",
    )
    joined = interval_join_streams(
        cs, bs, "c_user", "b_user", "click_ts", "buy_ts", 30 * 60
    )
    out = str(tmp_path / "out")
    q = (
        joined.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = {
        (r["click_id"], r["buy_id"])
        for r in spark.read.parquet(out).collect()
    }
    cb = prep(spark.read.schema(c_schema).json(cdir), "click_ts")
    bb = prep(spark.read.schema(b_schema).json(bdir), "buy_ts")
    want = {
        (r["click_id"], r["buy_id"])
        for r in interval_join_streams(
            cb, bb, "c_user", "b_user", "click_ts", "buy_ts", 30 * 60
        ).collect()
    }
    assert len(want) > 0
    assert got == want


def test_cusum_stream_equals_batch_with_frozen_stats(spark, tmp_path):
    """Streaming CUSUM (recursion in 8-byte keyed state, frozen
    training stats) must emit EXACTLY the batch operator's alarm rows
    on the same ordered data — closed form ≡ recursion, all integer.
    The drift is planted to start mid-stream so alarms depend on
    state carried across micro-batches."""
    import datetime as dt
    import json as _json
    import os
    import time as _time

    from big_data_engineering_project_spark.operators.anomaly import (
        cusum_drift,
        cusum_stats,
    )
    from big_data_engineering_project_spark.streaming.stateful import (
        cusum_alarm_stream,
    )

    base = dt.datetime(2026, 1, 10)
    rows = []
    i = 0
    for k, shift_at in (("a", 40), ("b", 999)):  # b never drifts
        for j in range(80):
            v = 50.0 + 3.0 * (j % 2) + (12.0 if j >= shift_at else 0.0)
            rows.append(
                {
                    "k": k,
                    "ts": (base + dt.timedelta(minutes=j)).strftime(
                        "%Y-%m-%d %H:%M:%S"
                    ),
                    "id": i,
                    "v": v,
                }
            )
            i += 1
    # training stats from the PRE-DRIFT window only (production shape)
    train = spark.createDataFrame(
        [
            (r["k"], float(r["v"]))
            for r in rows
            if int(r["id"]) % 80 < 40 or r["k"] == "b"
        ],
        "k STRING, v DOUBLE",
    )
    stats = cusum_stats(train, "k", "v")

    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    # interleave keys by time so batches carry both keys
    rows.sort(key=lambda r: (r["ts"], r["id"]))
    t0 = _time.time() - 3600
    for b, start in enumerate(range(0, len(rows), 20)):
        p = os.path.join(in_dir, f"{b:04d}.json")
        with open(p, "w") as f:
            for r in rows[start : start + 20]:
                f.write(_json.dumps(r) + "\n")
        os.utime(p, (t0 + b, t0 + b))

    schema = "k STRING, ts STRING, id LONG, v DOUBLE"
    ss = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(in_dir)
        .withColumn("ts", F.to_timestamp("ts"))
    )
    out_dir, cp = str(tmp_path / "out"), str(tmp_path / "cp")
    q = (
        cusum_alarm_stream(ss, stats, "k", "ts", "id", "v")
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", cp)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = sorted(
        (r["k"], r["id"], r["cusum_micro"], r["threshold_micro"])
        for r in spark.read.parquet(out_dir).collect()
    )
    bb = (
        spark.read.schema(schema)
        .json(in_dir)
        .withColumn("ts", F.to_timestamp("ts"))
    )
    want = sorted(
        (r["k"], r["id"], r["cusum_micro"], r["threshold_micro"])
        for r in cusum_drift(
            bb, "k", "ts", "id", "v", precomputed_stats=stats
        ).collect()
    )
    assert got == want and len(got) > 0
    assert {k for k, *_ in got} == {"a"}  # only the drifted key alarms


def _scd2_changelog(n_keys: int = 25, n_rows: int = 400, seed: int = 11):
    """Deterministic changelog: per-key attr sequences with planted
    echoes (no-change rows), NULL attr states, and ties broken by
    event_id. Globally ts-ordered so batch partitions respect the
    per-key event-time-monotonic CDC ingest contract."""
    rng = random.Random(seed)
    t0 = dt.datetime(2026, 1, 10, 0, 0, 0)
    attrs = ["A", "B", "C", None]
    rows = []
    for i in range(n_rows):
        rows.append(
            {
                "user_id": rng.randrange(n_keys),
                "event_id": i,
                "ts": t0 + dt.timedelta(minutes=i),
                "event_type": rng.choice(attrs),
            }
        )
    return rows


def test_scd2_merge_batch_fold_equals_batch_operator(spark):
    """Folding ANY micro-batch partition of a changelog through
    scd2_merge_batch must yield the identical history as the batch
    operator over the union — versions, intervals, is_current flags,
    null-attr transitions and all."""
    from big_data_engineering_project_spark.operators.cdc import (
        scd2_from_changelog,
    )
    from big_data_engineering_project_spark.streaming.scd2 import (
        scd2_merge_batch,
    )

    rows = _scd2_changelog()
    mk = lambda rs: spark.createDataFrame(  # noqa: E731
        pd.DataFrame(rs),
        "user_id long, event_id long, ts timestamp, event_type string",
    )
    expected = sorted(
        repr(tuple(r))
        for r in scd2_from_changelog(
            mk(rows), "user_id", "ts", "event_type", ("event_id",)
        ).collect()
    )
    for batch_size in (50, 173, 400):
        history = None
        for start in range(0, len(rows), batch_size):
            merged = scd2_merge_batch(
                history,
                mk(rows[start : start + batch_size]),
                "user_id",
                "ts",
                "event_type",
                ("event_id",),
            )
            # materialize each step like the foreachBatch sink does
            history = spark.createDataFrame(
                merged.toPandas(), merged.schema
            )
        got = sorted(repr(tuple(r)) for r in history.collect())
        assert got == expected, f"batch_size={batch_size}"


def test_scd2_merge_batch_replay_is_idempotent(spark):
    """Redelivering an already-applied micro-batch must leave the
    history bit-identical: applied changes sit at ts <= the open
    version's effective_from (replay guard), echoes re-compact."""
    from big_data_engineering_project_spark.streaming.scd2 import (
        scd2_merge_batch,
    )

    rows = _scd2_changelog(n_keys=10, n_rows=120, seed=7)
    mk = lambda rs: spark.createDataFrame(  # noqa: E731
        pd.DataFrame(rs),
        "user_id long, event_id long, ts timestamp, event_type string",
    )
    b1, b2 = rows[:60], rows[60:]
    h1 = scd2_merge_batch(
        None, mk(b1), "user_id", "ts", "event_type", ("event_id",)
    )
    h1 = spark.createDataFrame(h1.toPandas(), h1.schema)
    h2 = scd2_merge_batch(
        h1, mk(b2), "user_id", "ts", "event_type", ("event_id",)
    )
    h2 = spark.createDataFrame(h2.toPandas(), h2.schema)
    replayed = scd2_merge_batch(
        h2, mk(b2), "user_id", "ts", "event_type", ("event_id",)
    )
    assert sorted(repr(tuple(r)) for r in replayed.collect()) == sorted(
        repr(tuple(r)) for r in h2.collect()
    )


def test_ohlc_partial_merge_fold_equals_batch(spark):
    """Folding ANY micro-batch partition of a tick stream through
    ohlc_partial + ohlc_merge yields bars identical to the batch
    ohlc_resample over the union — including same-timestamp ties whose
    tied rows sit in DIFFERENT batches (struct tie-break by unique id
    must survive the merge)."""
    from big_data_engineering_project_spark.operators.temporal import (
        ohlc_resample,
    )
    from big_data_engineering_project_spark.streaming.scd2 import (
        ohlc_finish,
        ohlc_merge,
        ohlc_partial,
    )

    base = dt.datetime(2026, 3, 1)
    rng = random.Random(7)
    rows = []
    i = 0
    for sym in ("X", "Y"):
        for minute in range(0, 120, 3):
            rows.append(
                (sym, base + dt.timedelta(minutes=minute),
                 round(rng.uniform(1, 100), 2), i)
            )
            i += 1
    # planted tie at the bucket's LAST instant: ids 900 (batch A) /
    # 901 (batch B) — close must pick the higher id at equal ts
    tie_ts = base + dt.timedelta(minutes=59)
    rows.append(("X", tie_ts, 55.5, 900))
    rows.append(("X", tie_ts, 44.4, 901))

    def mk(rs):
        return spark.createDataFrame(
            rs, "sym STRING, ts TIMESTAMP, v DOUBLE, i LONG"
        )

    rng.shuffle(rows)
    cut1, cut2 = len(rows) // 3, 2 * len(rows) // 3
    batches = [rows[:cut1], rows[cut1:cut2], rows[cut2:]]
    # force the tied rows into different batches
    tied = [r for r in rows if r[3] in (900, 901)]
    rest = [r for r in rows if r[3] not in (900, 901)]
    batches = [rest[:cut1] + [tied[0]], rest[cut1:cut2] + [tied[1]],
               rest[cut2:]]

    state = None
    for b in batches:
        part = ohlc_partial(mk(b), "sym", "ts", "v", "i", bucket="hour")
        state = part if state is None else ohlc_merge(state, part, "sym")
    got = sorted(
        tuple(r) for r in ohlc_finish(state, "sym").collect()
    )
    want = sorted(
        tuple(r)
        for r in ohlc_resample(
            mk(rows), key="sym", time_col="ts", value_col="v",
            id_col="i", bucket="hour",
        ).collect()
    )
    assert got == want
    # the tie-break is load-bearing: close of X's first hour is id
    # 901's value (max struct -> higher id wins at equal ts)
    x0 = [r for r in got if r[0] == "X" and r[1] == base][0]
    assert x0[5] == 44.4


def test_table_diff_stream_maintains_exact_digest_index(spark, tmp_path):
    """run_table_diff_stream: after a 3-micro-batch changelog with a
    value change, an echo, a new key, a delete, and a delete-then-
    reinsert, the XOR-delta-maintained digest index must equal
    bucket_digests rebuilt from the final replica EXACTLY, and the
    maintained replica must equal the expected final rows."""
    import json as _json
    import os as _os
    import time as _time

    from big_data_engineering_project_spark.operators.cdc import (
        bucket_digests,
    )
    from big_data_engineering_project_spark.streaming.scd2 import (
        run_table_diff_stream,
    )

    ref = spark.createDataFrame(
        [(1, "red", 10), (2, "green", 20), (3, None, 30), (4, "blue", 40)],
        "key LONG, color STRING, amount LONG",
    )
    snap_path = str(tmp_path / "replica")
    dig_path = str(tmp_path / "digests")
    ref.write.parquet(snap_path)
    bucket_digests(ref, "key", ["color", "amount"]).write.parquet(dig_path)

    batches = [
        # change key 1; echo key 2 (must be digest-invisible)
        [
            {"key": 1, "event_id": 0, "ts": "2026-02-02T00:00:00",
             "op": "U", "color": "black", "amount": 11},
            {"key": 2, "event_id": 1, "ts": "2026-02-02T00:01:00",
             "op": "U", "color": "green", "amount": 20},
        ],
        # delete key 3; insert new key 9
        [
            {"key": 3, "event_id": 2, "ts": "2026-02-02T00:02:00",
             "op": "D", "color": None, "amount": None},
            {"key": 9, "event_id": 3, "ts": "2026-02-02T00:03:00",
             "op": "U", "color": "red", "amount": 90},
        ],
        # reinsert key 3 with a NULL color (null-tag path)
        [
            {"key": 3, "event_id": 4, "ts": "2026-02-02T00:04:00",
             "op": "U", "color": None, "amount": 33},
        ],
    ]
    in_dir = tmp_path / "chg"
    in_dir.mkdir()
    t0 = _time.time() - 600
    for b, recs in enumerate(batches):
        fp = str(in_dir / f"{b}.json")
        with open(fp, "w") as fh:
            for r in recs:
                fh.write(_json.dumps(r) + "\n")
        _os.utime(fp, (t0 + b, t0 + b))

    run_table_diff_stream(
        spark,
        str(in_dir),
        snap_path,
        dig_path,
        str(tmp_path / "cp"),
        schema=(
            "key LONG, event_id LONG, ts TIMESTAMP, op STRING, "
            "color STRING, amount LONG"
        ),
        key="key",
        compare_cols=["color", "amount"],
        ts_col="ts",
        tiebreak=("event_id",),
    )

    final = spark.read.parquet(snap_path)
    got_rows = sorted(tuple(r) for r in final.collect())
    assert got_rows == [
        (1, "black", 11),
        (2, "green", 20),
        (3, None, 33),
        (4, "blue", 40),
        (9, "red", 90),
    ]
    got_dig = sorted(
        tuple(r) for r in spark.read.parquet(dig_path).collect()
    )
    want_dig = sorted(
        tuple(r)
        for r in bucket_digests(final, "key", ["color", "amount"]).collect()
    )
    assert got_dig == want_dig


def _write_ordered_json(in_dir, batches):
    """One JSON-lines file per micro-batch with increasing mtimes so
    maxFilesPerTrigger=1 replays them in order."""
    import json as _json
    import os as _os
    import time as _time

    t0 = _time.time() - 600
    for b, recs in enumerate(batches):
        fp = str(in_dir / f"{b}.json")
        with open(fp, "w") as fh:
            for r in recs:
                fh.write(_json.dumps(r) + "\n")
        _os.utime(fp, (t0 + b, t0 + b))


def test_hll_stream_estimates_match_batch(spark, tmp_path):
    """run_hll_stream: per-batch HLL unions over 3 micro-batches with
    heavy cross-batch user overlap serve the IDENTICAL estimate table
    as one batch hll_sketch_agg over the union (same-lgK union is
    lossless in register space)."""
    from pyspark.sql import functions as F

    from big_data_engineering_project_spark.streaming.scd2 import (
        run_hll_stream,
    )

    batches = [
        [{"k": "a", "u": i % 40} for i in range(60)],
        [{"k": "a", "u": i % 55} for i in range(60)]
        + [{"k": "b", "u": i} for i in range(10)],
        [{"k": "b", "u": i % 7} for i in range(30)],
    ]
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    _write_ordered_json(in_dir, batches)
    sk_path = str(tmp_path / "hll")
    run_hll_stream(
        spark,
        str(in_dir),
        sk_path,
        str(tmp_path / "cp"),
        schema="k STRING, u LONG",
        key_cols=["k"],
        item_expr="u",
        lgk=12,
    )
    got = sorted(
        (r["k"], r["est"])
        for r in spark.read.parquet(sk_path)
        .select("k", F.hll_sketch_estimate("hll").cast("long").alias("est"))
        .collect()
    )
    bb = spark.read.schema("k STRING, u LONG").json(str(in_dir))
    want = sorted(
        (r["k"], r["est"])
        for r in bb.groupBy("k")
        .agg(
            F.hll_sketch_estimate(F.hll_sketch_agg("u", F.lit(12)))
            .cast("long")
            .alias("est")
        )
        .collect()
    )
    assert got == want
    # and at this tiny cardinality the estimate is exact
    assert dict(got) == {"a": 55, "b": 10}


def test_kll_stream_state_and_quantiles_match_batch(spark, tmp_path):
    """run_kll_stream: the weighted-distinct state after 3 micro-
    batches equals one batch groupBy count over the union (exact
    addition algebra), and the served KLL quantiles from that state
    equal the batch kll_summary pipeline bit-for-bit."""
    from pyspark.sql import functions as F

    from big_data_engineering_project_spark.operators.sketches import (
        kll_merge_all,
        kll_quantiles,
        kll_summary,
        kll_summary_from_weighted,
    )
    from big_data_engineering_project_spark.streaming.scd2 import (
        run_kll_stream,
    )

    batches = [
        [{"v": (i * 17) % 50} for i in range(100)],
        [{"v": (i * 17) % 50} for i in range(100)],  # exact replays
        [{"v": 200 + i} for i in range(40)],  # fresh tail values
    ]
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    _write_ordered_json(in_dir, batches)
    st_path = str(tmp_path / "kll")
    run_kll_stream(
        spark,
        str(in_dir),
        st_path,
        str(tmp_path / "cp"),
        schema="v LONG",
        value_expr="v",
        n_shards=4,
    )
    state = spark.read.parquet(st_path)
    got_state = sorted(tuple(r) for r in state.collect())
    bb = spark.read.schema("v LONG").json(str(in_dir))
    want_state = sorted(
        tuple(r)
        for r in bb.selectExpr(
            "pmod(xxhash64(v), 4) AS shard", "CAST(v AS LONG) AS __v"
        )
        .groupBy("shard", "__v")
        .agg(F.count(F.lit(1)).alias("__w"))
        .collect()
    )
    assert got_state == want_state
    qs = [(1, 2, "p50"), (9, 10, "p90")]
    served = sorted(
        tuple(r)
        for r in kll_quantiles(
            kll_merge_all(kll_summary_from_weighted(state, k=32), k=32), qs
        ).collect()
    )
    batch_q = sorted(
        tuple(r)
        for r in kll_quantiles(
            kll_merge_all(kll_summary(bb, "v", k=32, n_shards=4), k=32), qs
        ).collect()
    )
    assert served == batch_q


def _replay_runner(name):
    """(runner, runner kwargs, two tiny micro-batches) for each fold
    runner the replay test covers: the additive folds, where a
    replayed batch would double counts, volumes or sums."""
    from big_data_engineering_project_spark.streaming.scd2 import (
        run_cm_sketch_stream,
        run_ohlc_stream,
        run_target_encoding_stream,
    )

    if name == "cm":
        return (
            run_cm_sketch_stream,
            dict(schema="x LONG", hash_expr="x"),
            [
                [{"x": i % 13} for i in range(50)],
                [{"x": i % 7} for i in range(50)],
            ],
        )
    if name == "ohlc":
        ticks = [
            {
                "sym": "AB"[i % 2],
                "ts": f"2026-02-0{1 + i % 2}T0{i % 7}:00:00",
                "v": float(1 + (i * 37) % 50),
                "i": i,
            }
            for i in range(40)
        ]
        return (
            run_ohlc_stream,
            dict(
                schema="sym STRING, ts TIMESTAMP, v DOUBLE, i LONG",
                key="sym",
                time_col="ts",
                value_col="v",
                id_col="i",
            ),
            [ticks[:20], ticks[20:]],
        )
    rows = [
        {"uid": i % 9, "cat": f"c{i % 3}", "y": (i * 7) % 11 / 4.0}
        for i in range(40)
    ]
    return (
        run_target_encoding_stream,
        dict(
            schema="uid LONG, cat STRING, y DOUBLE",
            category_col="cat",
            target_col="y",
            fold_key="uid",
            n_folds=3,
        ),
        [rows[:20], rows[20:]],
    )


@pytest.mark.parametrize("name", ["cm", "ohlc", "target_encoding"])
def test_batch_id_guard_skips_replayed_batches(spark, tmp_path, name):
    """r9 ADVICE #5: replaying an already-applied micro-batch against
    committed state must NOT double-apply an additive fold (CM
    counters, OHLC volume, target-encoding n/Σ). Simulates the
    crash-after-swap-before-checkpoint-commit window by deleting the
    LAST commit file from the checkpoint: on restart with the SAME
    checkpoint, Spark re-executes that batch, and the (checkpoint,
    batch_id) marker inside the state dir makes it a no-op — the
    state stays equal to the single-pass state instead of doubling
    the batch. For CM, a FRESH checkpoint, by contrast, is a new
    lineage whose ids restart at 0 — its batches must APPLY (doubling
    is then the user-requested re-ingest), which is why the marker is
    checkpoint-scoped."""
    import os as _os
    import shutil as _shutil

    from big_data_engineering_project_spark.streaming.scd2 import (
        _applied_batch_id,
    )

    runner, kw, batches = _replay_runner(name)
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    _write_ordered_json(in_dir, batches)
    state_path = str(tmp_path / "state")
    cp1 = str(tmp_path / "cp1")

    def state():
        return sorted(
            tuple(r) for r in spark.read.parquet(state_path).collect()
        )

    runner(spark, str(in_dir), state_path, cp1, **kw)
    once = state()
    assert once and _applied_batch_id(state_path, cp1) == 1

    # crash window: state swap committed batch 1, checkpoint did not.
    # Relocate the checkpoint (same metadata query id = same lineage;
    # a new path also dodges the session's cached commit-log handle)
    # and drop the batch-1 commit so restart re-executes batch 1.
    cp1b = str(tmp_path / "cp1_relocated")
    _shutil.copytree(cp1, cp1b)
    _os.remove(_os.path.join(cp1b, "commits", "1"))
    _os.remove(_os.path.join(cp1b, "commits", ".1.crc"))
    runner(spark, str(in_dir), state_path, cp1b, **kw)
    assert state() == once  # replayed batch 1 no-oped
    if name != "cm":
        return

    from big_data_engineering_project_spark.operators.sketches import (
        cm_counters,
    )

    bb = spark.read.schema("x LONG").json(str(in_dir))
    want = sorted(
        tuple(r)
        for r in cm_counters(bb.selectExpr("x AS __h"), "__h").collect()
    )
    assert once == want

    # fresh checkpoint = new lineage: the same files re-ingest and
    # every count doubles (marker scoping, not id comparison alone)
    runner(spark, str(in_dir), state_path, str(tmp_path / "cp2"), **kw)
    doubled = {(r[0], r[1]): r[2] for r in state()}
    for (seed, bucket), cnt in (
        (r[:2], r[2]) for r in want
    ):
        assert doubled[(seed, bucket)] == 2 * cnt


def test_table_diff_stream_marker_disagree_rebuild(spark, tmp_path):
    """r9 ADVICE #1 (medium): a crash between the replica swap and
    the digest swap leaves the pair's batch markers disagreeing; the
    next batch must REBUILD the digest index from the replica before
    applying, so the maintained index can never stay silently stale.
    Simulated by overwriting the digest dir with a stale copy (old
    content, no marker) after a completed run, then streaming one
    more batch."""
    import shutil as _shutil

    from big_data_engineering_project_spark.operators.cdc import (
        bucket_digests,
    )
    from big_data_engineering_project_spark.streaming.scd2 import (
        run_table_diff_stream,
    )

    ref = spark.createDataFrame(
        [(1, "red", 10), (2, "green", 20)],
        "key LONG, color STRING, amount LONG",
    )
    snap_path = str(tmp_path / "replica")
    dig_path = str(tmp_path / "digests")
    ref.write.parquet(snap_path)
    bucket_digests(ref, "key", ["color", "amount"]).write.parquet(dig_path)
    stale_dig = str(tmp_path / "stale_digests")
    _shutil.copytree(dig_path, stale_dig)

    in1 = tmp_path / "chg1"
    in1.mkdir()
    _write_ordered_json(
        in1,
        [[{"key": 1, "event_id": 0, "ts": "2026-02-02T00:00:00",
           "op": "U", "color": "black", "amount": 11}]],
    )
    kw = dict(
        schema=(
            "key LONG, event_id LONG, ts TIMESTAMP, op STRING, "
            "color STRING, amount LONG"
        ),
        key="key",
        compare_cols=["color", "amount"],
        ts_col="ts",
        tiebreak=("event_id",),
    )
    run_table_diff_stream(
        spark, str(in1), snap_path, dig_path, str(tmp_path / "cp1"), **kw
    )

    # simulate the crash window: replica is committed at batch 0 but
    # the digest dir still holds the PRE-RUN table with no marker
    _shutil.rmtree(dig_path)
    _shutil.copytree(stale_dig, dig_path)

    in2 = tmp_path / "chg2"
    in2.mkdir()
    _write_ordered_json(
        in2,
        [[{"key": 9, "event_id": 1, "ts": "2026-02-02T00:01:00",
           "op": "U", "color": "blue", "amount": 90}]],
    )
    run_table_diff_stream(
        spark, str(in2), snap_path, dig_path, str(tmp_path / "cp2"), **kw
    )

    final = spark.read.parquet(snap_path)
    got_rows = sorted(tuple(r) for r in final.collect())
    assert got_rows == [(1, "black", 11), (2, "green", 20), (9, "blue", 90)]
    got_dig = sorted(tuple(r) for r in spark.read.parquet(dig_path).collect())
    want_dig = sorted(
        tuple(r)
        for r in bucket_digests(final, "key", ["color", "amount"]).collect()
    )
    assert got_dig == want_dig


def test_ivf_append_stream_exactly_once_by_directory(spark, tmp_path):
    """run_ivf_append_stream: a replayed micro-batch (commit file
    dropped, same lineage) overwrites its OWN batch directory instead
    of appending duplicates — the maintained index equals the batch
    build over base ∪ stream both before and after the replay."""
    import math
    import os as _os
    import shutil as _shutil

    from big_data_engineering_project_spark.operators.similarity import (
        build_ivf_index,
    )
    from big_data_engineering_project_spark.streaming.scd2 import (
        run_ivf_append_stream,
    )

    def vec(i):
        return [round(math.cos(0.3 * i + j), 6) for j in range(6)]

    base = spark.createDataFrame(
        [(i, vec(i)) for i in range(20)], "vec_id LONG, embedding ARRAY<DOUBLE>"
    )
    idx = str(tmp_path / "idx")
    build_ivf_index(base, idx, [vec(0), vec(7), vec(14)])

    batches = [
        [{"vec_id": 100 + i, "embedding": vec(100 + i)} for i in range(8)],
        [{"vec_id": 200 + i, "embedding": vec(200 + i)} for i in range(8)],
    ]
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    _write_ordered_json(in_dir, batches)
    cp1 = str(tmp_path / "cp1")
    kw = dict(schema="vec_id LONG, embedding ARRAY<DOUBLE>")
    run_ivf_append_stream(spark, str(in_dir), idx, cp1, **kw)

    def index_ids():
        return sorted(
            r["vec_id"]
            for r in spark.read.parquet(idx + "/vectors").collect()
        )

    want = sorted(list(range(20)) + [100 + i for i in range(8)]
                  + [200 + i for i in range(8)])
    assert index_ids() == want

    # replay batch 1 within the same lineage (relocated checkpoint,
    # dropped commit): the directory overwrite absorbs it
    cp1b = str(tmp_path / "cp1b")
    _shutil.copytree(cp1, cp1b)
    _os.remove(_os.path.join(cp1b, "commits", "1"))
    _os.remove(_os.path.join(cp1b, "commits", ".1.crc"))
    run_ivf_append_stream(spark, str(in_dir), idx, cp1b, **kw)
    assert index_ids() == want  # no duplicates


def test_pack_stream_rejects_non_monotone_ingest(spark, tmp_path):
    """run_pack_stream's correctness contract is ID-MONOTONE ingest
    (concat packing is defined by the id total order); a batch whose
    min id does not exceed the packed max must fail LOUDLY, not emit
    offsets that disagree with the batch packer."""
    import json as _json
    import os

    import pytest

    from big_data_engineering_project_spark.streaming.scd2 import (
        run_pack_stream,
    )

    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    # batch 0: ids 100..103; batch 1: ids 0..3 (violates monotonicity).
    # mtimes are pinned a full second apart: the file source orders
    # batches by modification time, and same-granularity ties would
    # let it legally pick the ids 0..3 file FIRST — a monotone order
    # that never trips the guard (flaked once in a full-suite run).
    import time as _time

    now = _time.time()
    for b, ids in enumerate(([100, 101, 102, 103], [0, 1, 2, 3])):
        p = os.path.join(in_dir, f"{b:04d}.json")
        with open(p, "w") as fh:
            for i in ids:
                fh.write(_json.dumps({"doc_id": i, "text": "a b c"}) + "\n")
        os.utime(p, (now - 10 + b, now - 10 + b))
    with pytest.raises(Exception) as exc:
        run_pack_stream(
            spark,
            in_dir,
            str(tmp_path / "state"),
            str(tmp_path / "cp"),
            schema="doc_id LONG, text STRING",
            chunk_tokens=4,
        )
    assert "id-monotone" in str(exc.value)


def test_minhash_index_stream_exactly_once_and_stream_eq_batch(
    spark, tmp_path
):
    """run_minhash_index_stream: accumulated pair directories equal the
    batch minhash_lsh_pairs over the union (ids and jaccard doubles),
    and a replayed micro-batch (dropped commit, same lineage)
    overwrites its own directories instead of duplicating pairs or
    band rows."""
    import os as _os
    import shutil as _shutil

    from big_data_engineering_project_spark.operators.dedup import (
        minhash_lsh_pairs,
    )
    from big_data_engineering_project_spark.streaming.scd2 import (
        run_minhash_index_stream,
    )

    base = "red green blue cyan magenta yellow black white gray pink"
    docs = []
    for i in range(12):
        t = base + f" w{i % 4} v{i % 3} u{i}"
        if i in (5, 9):  # near-dups of docs 1 and 3 (cross-batch)
            t = base + f" w{(i - 4) % 4} v{(i - 4) % 3} u{i - 4} pad"
        docs.append({"doc_id": i, "text": t})
    batches = [docs[:6], docs[6:]]
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    _write_ordered_json(in_dir, batches)
    idx = str(tmp_path / "mh_idx")
    cp1 = str(tmp_path / "cp1")
    kw = dict(schema="doc_id LONG, text STRING", threshold=0.4)
    run_minhash_index_stream(spark, str(in_dir), idx, cp1, **kw)

    def pair_rows():
        return sorted(
            (r["doc_a"], r["doc_b"], r["jaccard"])
            for r in spark.read.parquet(idx + "/pairs").collect()
        )

    union = spark.createDataFrame(
        [(d["doc_id"], d["text"]) for d in docs], "doc_id LONG, text STRING"
    )
    want = sorted(
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in minhash_lsh_pairs(union, "doc_id", "text", 0.4).collect()
    )
    got = pair_rows()
    assert got == want and len(got) > 0
    n_band_rows = spark.read.parquet(idx + "/bands").count()

    # replay the last batch: dropped commit, same lineage
    cp1b = str(tmp_path / "cp1b")
    _shutil.copytree(cp1, cp1b)
    _os.remove(_os.path.join(cp1b, "commits", "1"))
    crc = _os.path.join(cp1b, "commits", ".1.crc")
    if _os.path.exists(crc):
        _os.remove(crc)
    run_minhash_index_stream(spark, str(in_dir), idx, cp1b, **kw)
    assert pair_rows() == want
    assert spark.read.parquet(idx + "/bands").count() == n_band_rows


def test_bm25_index_stream_exactly_once_and_serves_batch_scores(
    spark, tmp_path
):
    """run_bm25_index_stream: index-served BM25 equals the batch scorer
    over the union (shared expression), and a replayed micro-batch
    (dropped commit, same lineage) overwrites its own directories."""
    import os as _os
    import shutil as _shutil

    from big_data_engineering_project_spark.operators.text_analysis import (
        bm25_from_index,
        bm25_scores,
    )
    from big_data_engineering_project_spark.streaming.scd2 import (
        run_bm25_index_stream,
    )

    docs = [
        {"doc_id": i, "text": f"alpha beta w{i % 3} gamma" + " alpha" * (i % 2)}
        for i in range(8)
    ]
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    _write_ordered_json(in_dir, [docs[:4], docs[4:]])
    idx = str(tmp_path / "bm_idx")
    cp1 = str(tmp_path / "cp1")
    kw = dict(schema="doc_id LONG, text STRING")
    run_bm25_index_stream(spark, str(in_dir), idx, cp1, **kw)

    def served():
        return sorted(
            (r["doc_id"], r["n_terms"], r["score"])
            for r in bm25_from_index(
                spark.read.parquet(idx + "/postings").drop("batch"),
                spark.read.parquet(idx + "/doclens").drop("batch"),
                ["alpha", "w1"],
            ).collect()
        )

    union = spark.createDataFrame(
        [(d["doc_id"], d["text"]) for d in docs], "doc_id LONG, text STRING"
    )
    want = sorted(
        (r["doc_id"], r["n_terms"], r["score"])
        for r in bm25_scores(union, ["alpha", "w1"]).collect()
    )
    assert served() == want and len(want) == 8

    cp1b = str(tmp_path / "cp1b")
    _shutil.copytree(cp1, cp1b)
    _os.remove(_os.path.join(cp1b, "commits", "1"))
    crc = _os.path.join(cp1b, "commits", ".1.crc")
    if _os.path.exists(crc):
        _os.remove(crc)
    run_bm25_index_stream(spark, str(in_dir), idx, cp1b, **kw)
    assert served() == want


def test_mix_stream_replay_guard_and_monotone_contract(spark, tmp_path):
    """run_mix_stream: a replayed micro-batch (dropped commit, same
    lineage) neither double-counts the ledger nor duplicates manifest
    rows; non-monotone ingest raises."""
    import os as _os
    import shutil as _shutil

    import pytest as _pytest

    from big_data_engineering_project_spark.streaming.scd2 import (
        run_mix_stream,
    )

    docs = [
        {"doc_id": i, "lang": "en" if i % 2 else "de",
         "text": " ".join(f"t{j}" for j in range(10))}
        for i in range(12)
    ]
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    _write_ordered_json(in_dir, [docs[:6], docs[6:]])
    state = str(tmp_path / "state")
    man = str(tmp_path / "man")
    cp1 = str(tmp_path / "cp1")
    kw = dict(
        schema="doc_id LONG, lang STRING, text STRING",
        targets_ppm={"en": 600_000, "de": 400_000},
        budget_tokens=100,
    )
    run_mix_stream(spark, str(in_dir), state, man, cp1, **kw)

    def manifest():
        return sorted(
            (r["id"], r["stratum"], r["tok_before"])
            for r in spark.read.parquet(man).drop("batch").collect()
        )

    before = manifest()
    ledger_before = sorted(
        (r["stratum"], r["seen_toks"], r["max_id"])
        for r in spark.read.parquet(state).collect()
    )
    assert len(before) > 0

    cp1b = str(tmp_path / "cp1b")
    _shutil.copytree(cp1, cp1b)
    _os.remove(_os.path.join(cp1b, "commits", "1"))
    crc = _os.path.join(cp1b, "commits", ".1.crc")
    if _os.path.exists(crc):
        _os.remove(crc)
    run_mix_stream(spark, str(in_dir), state, man, cp1b, **kw)
    assert manifest() == before
    assert sorted(
        (r["stratum"], r["seen_toks"], r["max_id"])
        for r in spark.read.parquet(state).collect()
    ) == ledger_before

    # non-monotone ingest: a fresh checkpoint re-delivers OLD ids
    # against the surviving ledger -> must raise, not mis-offset
    cp2 = str(tmp_path / "cp2")
    with _pytest.raises(Exception, match="id-monotone"):
        run_mix_stream(spark, str(in_dir), state, man, cp2, **kw)
