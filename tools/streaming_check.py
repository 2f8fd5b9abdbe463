"""The speed layer's stream ≡ batch twin table, and the CLI that writes
the per-round STREAMING artifact from it.

The batch side leaves CORRECTNESS_FULL artifacts every round; this
tool gives the speed layer the same evidence shape. Every twin is one
row of `TWINS`: a deterministic fixture writer, the REAL streaming
execution over it (file-source micro-batches, checkpoints, state
stores), a read-back of what the stream left behind, and the batch
twin over the union of the same records. `run_twin` turns a row into
its artifact entry — row counts, order-insensitive value hashes of
both sides, any extra predicates — and `match`. The same rows run
under Tier-1 (tests/test_streaming.py parametrizes over `TWINS`), so
the artifact and the gate cannot drift apart. Reference anchor: the
speed layer is half the reference architecture
(S/kinesis_processing_2.py).

Usage: python tools/streaming_check.py [--json STREAMING_r0N.json]
Exit code 1 if any check fails.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import math
import os
import random
import shutil
import sys
import tempfile
import time
from dataclasses import dataclass
from typing import Callable

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import Window  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from big_data_engineering_project_spark.operators import (  # noqa: E402
    anomaly,
    behavior,
    cdc,
    compaction,
    dedup,
    features,
    governance,
    ivm,
    sampling,
    similarity,
    sketches,
    temporal,
    text_analysis,
)
from big_data_engineering_project_spark.plans.queries_pipeline import (  # noqa: E402
    _CURATION_MIN_QUALITY,
    curate_documents,
)
from big_data_engineering_project_spark.streaming import (  # noqa: E402
    joins,
    pipeline,
    scd2,
    stateful,
    windows,
)

FROZEN_NOW = dt.datetime(2026, 1, 16, 0, 0, 0)


def _rows_hash(rows) -> str:
    """Order-insensitive digest over fully-materialized rows."""
    canon = sorted(repr(tuple(r)) for r in rows)
    return hashlib.sha256("\n".join(canon).encode()).hexdigest()[:16]


def write_batches(dirpath: str, recs: list[dict], batch_size: int) -> None:
    # Spark's file source orders by modification time (ties → undefined
    # order); strictly increasing mtimes pin arrival order.
    os.makedirs(dirpath, exist_ok=True)
    t0 = time.time() - 3600
    for b, start in enumerate(range(0, len(recs), batch_size)):
        path = os.path.join(dirpath, f"{b:04d}.json")
        with open(path, "w") as f:
            for r in recs[start : start + batch_size]:
                f.write(json.dumps(r) + "\n")
        os.utime(path, (t0 + b, t0 + b))


def gen_hot_records(n: int, seed: int = 42) -> list[dict]:
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
                    dt.datetime(2026, 1, 15) + dt.timedelta(minutes=i)
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


# --- the harness ---------------------------------------------------------------


class Paths:
    """One row's scratch directories under `root/<name>`: `inp` (the
    fixture's json files), `out` (the stream's sink, state or index),
    `cp` (its checkpoint), and `path(leaf)` for anything else. Steps
    also stash what later steps need (records, frozen stats) here."""

    def __init__(self, root: str, name: str):
        self.root = os.path.join(root, name)
        os.makedirs(self.root)
        self.inp, self.out, self.cp = (
            self.path("in"),
            self.path("out"),
            self.path("cp"),
        )

    def path(self, leaf: str) -> str:
        return os.path.join(self.root, leaf)


@dataclass(frozen=True)
class Twin:
    """One stream ≡ batch twin. `read` and `batch` return the rows the
    two sides must agree on — a list, or a dict of labelled lists whose
    "" entry gives `rows_*`/`hash_*` and every other label `hash_<label>_*`.
    `extras(spark, p, got, want)` adds entries: a bool must be True, any
    other value is reported (and may be checked by `ok`). `rows` pins
    the exact row count (default: both sides non-empty). `then` rows
    continue in the same directories and add their own entries."""

    name: str
    why: str
    fixture: Callable
    stream: Callable
    read: Callable
    batch: Callable
    extras: Callable | None = None
    ok: Callable | None = None
    rows: int | None = None
    then: tuple = ()


def _labelled(rows) -> dict:
    return rows if isinstance(rows, dict) else {"": rows}


def run_twin(spark, root: str, twin: Twin, p: Paths | None = None) -> dict:
    """Run one row end to end; returns {entry name: result dict}."""
    p = p or Paths(root, twin.name)
    twin.fixture(spark, p)
    twin.stream(spark, p)
    got, want = _labelled(twin.read(spark, p)), _labelled(twin.batch(spark, p))
    res = {"rows_stream": len(got[""]), "rows_batch": len(want[""])}
    hashes = {f"hash_{label}_" if label else "hash_": label for label in got}
    for key, label in hashes.items():
        res[key + "stream"] = _rows_hash(got[label])
        res[key + "batch"] = _rows_hash(want[label])
    extra = twin.extras(spark, p, got[""], want[""]) if twin.extras else {}
    res.update(extra)
    n = res["rows_batch"]
    res["match"] = bool(
        res["rows_stream"] == n
        and (n == twin.rows if twin.rows is not None else n > 0)
        and all(res[k + "stream"] == res[k + "batch"] for k in hashes)
        and all(v for v in extra.values() if isinstance(v, bool))
        and (twin.ok is None or twin.ok(res))
    )
    results = {twin.name: res}
    for follow in twin.then:
        results.update(run_twin(spark, root, follow, p))
    return results


def entry_names() -> list[str]:
    """Every artifact entry name the table produces, in run order."""
    names, todo = [], list(TWINS)
    while todo:
        t = todo.pop(0)
        names.append(t.name)
        todo[:0] = t.then
    return names


def _tuples(df, *cols) -> list[tuple]:
    if not cols:
        return [tuple(r) for r in df.collect()]
    return [tuple(r[c] for c in cols) for r in df.collect()]


def _json(spark, schema: str, path: str):
    return spark.read.schema(schema).json(path)


def _source(spark, schema: str, path: str):
    return (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(path)
    )


def _sink(df, p: Paths) -> None:
    """Drain a streaming frame into Parquet at p.out (availableNow)."""
    q = (
        df.writeStream.format("parquet")
        .option("path", p.out)
        .option("checkpointLocation", p.cp)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)


def _ts(df, col: str, fmt: str | None = None):
    return df.withColumn(col, F.to_timestamp(col, fmt))


# --- fixtures and steps, one block per twin ------------------------------------

_HOT_COLS = (
    "seq",
    "sentiment",
    "post_age_minutes",
    "popularity_score",
    "post_type",
    "time_of_day",
    "author_activity_count",
)


def _hot_fixture(spark, p):
    write_batches(p.inp, gen_hot_records(200), batch_size=40)


def _hot_stream(spark, p):
    pipeline.run_hot_path(
        spark, p.inp, p.out, p.path("anom"), p.cp, now=FROZEN_NOW,
        max_files_per_trigger=1,
    )


def _hot_batch(spark, p):
    w = Window.partitionBy("author").orderBy("seq")
    enriched = pipeline.enrich_stream(
        _json(spark, pipeline.STREAM_SCHEMA, p.inp), FROZEN_NOW
    )
    return _tuples(
        enriched.withColumn("author_activity_count", F.row_number().over(w)),
        *_HOT_COLS,
    )


def _hot_extras(spark, p, got, want):
    """200 records in files of 40 at one file per trigger are 5
    batches of 40 (T1/O7). The anomalies are the z-scores over each
    batch alone (T5), each written once: they equal a pandas
    groupby-per-batch oracle (ddof=1, like the reference's pandas
    .std())."""
    table = spark.read.parquet(p.out).toPandas()
    anom = spark.read.parquet(p.path("anom")).toPandas()
    expected = []
    for _, g in table.groupby("batch_id"):
        mu, sigma = g["score"].mean(), g["score"].std(ddof=1)
        if sigma > 0:
            expected += list(g.loc[((g["score"] - mu) / sigma).abs() > 3.0, "seq"])
    return {
        "trigger_cap": sorted(table.groupby("batch_id").size()) == [40] * 5,
        "anomalies_match_oracle": sorted(anom["seq"]) == sorted(expected) != [],
    }


def _restart_fixture(spark, p):
    more = gen_hot_records(40, seed=7)
    for r in more:
        r["seq"] += 1000
        r["id"] = f"late{r['seq']}"
    with open(os.path.join(p.inp, "9999.json"), "w") as f:
        for r in more:
            f.write(json.dumps(r) + "\n")


def _restart_extras(spark, p, got, want):
    out = spark.read.parquet(p.out)
    late = out.filter(F.col("seq") >= 1000)
    late_counts = {
        r["author"]: r["count"] for r in late.groupBy("author").count().collect()
    }
    maxes = {
        r["author"]: r["m"]
        for r in out.groupBy("author")
        .agg(F.max("author_activity_count").alias("m"))
        .collect()
    }
    return {
        "exactly_once": len(got) == len(set(got)) == 240,
        "state_continued": all(maxes[a] > c for a, c in late_counts.items()),
    }


_SESS_SCHEMA = "event_id INT, user_id INT, ts STRING"


def _sess_fixture(spark, p):
    rng = random.Random(7)
    base = dt.datetime(2026, 1, 15)
    recs, t = [], {u: base for u in range(4)}
    for i in range(120):
        u = rng.randrange(4)
        # gaps straddle the 1h session threshold in both directions
        t[u] += dt.timedelta(minutes=rng.choice([5, 20, 90, 200]))
        recs.append(
            {"event_id": i, "user_id": u, "ts": t[u].strftime("%Y-%m-%d %H:%M:%S")}
        )
    write_batches(p.inp, recs, batch_size=30)


def _sess_multichunk_fixture(spark, p):
    rng = random.Random(11)
    recs, t = [], dt.datetime(2026, 2, 1)
    for i in range(90):
        t += dt.timedelta(minutes=rng.choice([5, 20, 90, 200]))
        recs.append(
            {"event_id": i, "user_id": 1, "ts": t.strftime("%Y-%m-%d %H:%M:%S")}
        )
    rng.shuffle(recs)  # arrival order != event order inside the batch
    write_batches(p.inp, recs, batch_size=90)  # one micro-batch


def _sess_stream(spark, p):
    _sink(
        stateful.with_session_idx(
            _ts(_source(spark, _SESS_SCHEMA, p.inp), "ts", "yyyy-MM-dd HH:mm:ss"),
            "user_id", "ts", gap_seconds=3600, order_col="event_id",
        ),
        p,
    )


def _sess_multichunk_stream(spark, p):
    # 5-record Arrow chunks: one user's 90-row micro-batch reaches the
    # state function as ~18 chunks in shuffle-arrival order
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "5")
    try:
        _sess_stream(spark, p)
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def _sess_batch(spark, p):
    return _tuples(
        behavior.sessionize(
            _ts(_json(spark, _SESS_SCHEMA, p.inp), "ts", "yyyy-MM-dd HH:mm:ss"),
            "user_id", "ts", gap_seconds=3600, tiebreak_col="event_id",
        ),
        "event_id", "session_idx",
    )


def _windowed_fixture(spark, p):
    write_batches(p.inp, gen_hot_records(160), batch_size=40)


def _windowed_stream(spark, p):
    windows.run_windowed_stream(
        pipeline.enrich_stream(pipeline.stream_source(spark, p.inp, 2), FROZEN_NOW),
        p.out, p.cp, window="1 hour", watermark="1 minute",
    ).awaitTermination()


def _windowed_batch(spark, p):
    # append mode emits exactly the windows the final watermark (max
    # event time − 1 minute) has closed
    enriched = pipeline.enrich_stream(
        _json(spark, pipeline.STREAM_SCHEMA, p.inp), FROZEN_NOW
    )
    wm = enriched.agg(F.max("created_ts")).first()[0] - dt.timedelta(minutes=1)
    return _tuples(
        windows.windowed_counts(enriched, "created_ts", "subreddit", "1 hour")
        .filter(F.col("window_end") <= F.lit(wm)),
        "window_start", "subreddit", "cnt",
    )


def _curation_fixture(spark, p):
    rng = random.Random(13)
    words = [f"w{i}" for i in range(500)]
    markers = ["the", "and", "of", "to", "in"]
    n, per_file = 240, 60
    texts = [
        " ".join(
            rng.choice(markers) if t % 5 == 0 else rng.choice(words)
            for t in range(30)
        )
        for _ in range(n)
    ]
    for i in range(per_file, n, 8):  # plant cross-batch duplicates
        texts[i] = texts[i - per_file]
    p.recs = [
        {"doc_id": i, "text": texts[i], "lang": "en", "source": f"s{i % 4}"}
        for i in range(n)
    ]
    write_batches(p.inp, p.recs, batch_size=per_file)


_CURATION_COLS = ("doc_id", "source", "split", "n_tokens")

_CLICK_SCHEMA = "c_user STRING, click_id LONG, click_ts STRING"
_BUY_SCHEMA = "b_user STRING, buy_id LONG, buy_ts STRING"


def _join_fixture(p, buy_offsets: dict[int, int], sentinels: bool) -> None:
    """60 clicks 3 minutes apart over 5 users; a buy for each click in
    `buy_offsets` that many minutes later. Sentinels: a far-future row
    on each side advances the min-across-inputs watermark."""
    base = dt.datetime(2026, 1, 15)
    stamp = lambda m: (base + dt.timedelta(minutes=m)).strftime(  # noqa: E731
        "%Y-%m-%d %H:%M:%S"
    )
    clicks = [
        {"c_user": f"user{i % 5}", "click_id": i, "click_ts": stamp(3 * i)}
        for i in range(60)
    ]
    buys = [
        {"b_user": f"user{i % 5}", "buy_id": 1000 + i, "buy_ts": stamp(3 * i + off)}
        for i, off in buy_offsets.items()
    ]
    if sentinels:
        far = stamp(10 * 24 * 60)
        clicks.append({"c_user": "sentinel", "click_id": -1, "click_ts": far})
        buys.append({"b_user": "sentinel", "buy_id": -1, "buy_ts": far})
    write_batches(p.inp, clicks, batch_size=20)
    write_batches(p.path("buys"), buys, batch_size=20)


def _join(spark, p, read, how: str = "inner"):
    return joins.interval_join_streams(
        _ts(read(spark, _CLICK_SCHEMA, p.inp), "click_ts"),
        _ts(read(spark, _BUY_SCHEMA, p.path("buys")), "buy_ts"),
        "c_user", "b_user", "click_ts", "buy_ts", 1800, how=how,
    )


def _clicked(df) -> list[tuple]:
    """(click_id, buy_id) pairs, the sentinel row excluded."""
    return [t for t in _tuples(df, "click_id", "buy_id") if t[0] >= 0]


_DEDUP_SCHEMA = "id LONG, payload STRING, created_ts STRING"


def _dedup_fixture(spark, p):
    base = dt.datetime(2026, 1, 15)
    orig = [
        {
            "id": i,
            "payload": f"rec-{i}",
            "created_ts": (base + dt.timedelta(minutes=i)).strftime(
                "%Y-%m-%d %H:%M:%S"
            ),
        }
        for i in range(100)
    ]
    # redeliveries appended AFTER the full original sequence → they
    # arrive in later micro-batches than their originals
    recs = orig + [r for r in orig if r["id"] % 5 == 0]
    p.redelivered = len(recs) - len(orig)
    write_batches(p.inp, recs, batch_size=30)


def _cusum_fixture(spark, p):
    base = dt.datetime(2026, 1, 10)
    recs = []
    i = 0
    for k, shift_at in (("a", 60), ("b", 10_000)):
        for j in range(120):
            recs.append(
                {
                    "k": k,
                    "ts": (base + dt.timedelta(minutes=j)).strftime(
                        "%Y-%m-%d %H:%M:%S"
                    ),
                    "id": i,
                    "v": 50.0 + 3.0 * (j % 2) + (12.0 if j >= shift_at else 0.0),
                }
            )
            i += 1
    recs.sort(key=lambda r: (r["ts"], r["id"]))
    write_batches(p.inp, recs, batch_size=40)
    # training stats from the pre-drift window only (production shape)
    train = spark.createDataFrame(
        [(r["k"], r["v"]) for r in recs if int(r["id"]) % 120 < 60],
        "k STRING, v DOUBLE",
    )
    p.stats = anomaly.cusum_stats(train, "k", "v")


_CUSUM_SCHEMA = "k STRING, ts STRING, id LONG, v DOUBLE"
_CUSUM_COLS = ("k", "id", "cusum_micro", "threshold_micro")


def _scd2_fixture(spark, p):
    rng = random.Random(29)
    base = dt.datetime(2026, 1, 12)
    attrs = ["red", "green", "blue", None]
    recs = [
        {
            "user_id": rng.randrange(20),
            "event_id": i,
            "ts": (base + dt.timedelta(minutes=i)).strftime("%Y-%m-%dT%H:%M:%S"),
            "event_type": rng.choice(attrs),
        }
        for i in range(360)
    ]
    write_batches(p.inp, recs, batch_size=45)  # 8 micro-batches


def _cm_fixture(spark, p):
    rng = random.Random(61)
    recs = []
    for i in range(600):
        # skewed key space: key k with prob ~ 1/(k+1)
        k = min(int(1.0 / max(rng.random(), 1e-6)) - 1, 40)
        recs.append({"h": k * 2_654_435_761 % (2**31), "i": i})
    write_batches(p.inp, recs, batch_size=75)  # 8 micro-batches


def _kmv_fixture(spark, p):
    rng = random.Random(73)
    recs = []
    for i in range(600):
        if i % 5 == 0:
            etype, uid = "rare", rng.randint(0, 11)  # < k distinct
        else:
            etype, uid = rng.choice(["click", "view"]), rng.randint(0, 4000)
        recs.append({"etype": etype, "uid": uid, "i": i})
    write_batches(p.inp, recs, batch_size=75)  # 8 micro-batches


# same uniform-mix shape as the batch queries' _kmv_mix
_KMV_HASH = "(uid * 2654435761) % 2147483647"
_KMV_SCHEMA = "etype STRING, uid LONG, i LONG"


def _sketch_rows(df, col: str) -> list[tuple]:
    return [(r["etype"], tuple(r[col])) for r in df.collect()]


def _agg_fixture(spark, p):
    rng = random.Random(37)
    recs = []
    for i in range(600):
        v = rng.randint(-500, 500)
        if i == 17:
            v = 10_000  # early-batch max for k1
        if i == 577:
            v = -10_000  # late-batch min for k1
        recs.append({"k": f"k{i % 4}", "v": v, "i": i})
    write_batches(p.inp, recs, batch_size=75)  # 8 micro-batches


_SEASONAL_SCHEMA = "etype STRING, ts STRING, id LONG, v DOUBLE"
_SEASONAL_COLS = ("etype", "season", "id", "v", "z")


def _seasonal_fixture(spark, p):
    base = dt.datetime(2026, 1, 12)
    rng = random.Random(99)
    recs = []
    p.planted = set()
    i = 0
    for day in range(4):
        for h, baseline in ((4, 5.0), (12, 100.0)):
            for m in range(0, 60, 5):
                v = baseline + rng.uniform(-1.0, 1.0)
                # plant slot-absurd values mid-stream: hour-4 row at
                # the hour-12 baseline and vice versa
                if day == 2 and m == 30:
                    v = 100.0 if h == 4 else 5.0
                    p.planted.add(i)
                recs.append(
                    {
                        "etype": "view",
                        "ts": (
                            base + dt.timedelta(days=day, hours=h, minutes=m)
                        ).strftime("%Y-%m-%d %H:%M:%S"),
                        "id": i,
                        "v": round(v, 2),
                    }
                )
                i += 1
    recs.sort(key=lambda r: (r["ts"], r["id"]))
    write_batches(p.inp, recs, batch_size=24)
    train = spark.createDataFrame(
        [(r["etype"], r["ts"], r["id"], r["v"]) for r in recs if r["id"] % 4 == 0],
        _SEASONAL_SCHEMA,
    )
    p.stats = anomaly.seasonal_stats(_ts(train, "ts"), "etype", F.hour("ts"), "v")


def _seasonal(df, p):
    return anomaly.seasonal_apply(
        _ts(df, "ts"), p.stats, "etype", F.hour("ts"), "v"
    ).select(*_SEASONAL_COLS)


def _ohlc_fixture(spark, p):
    rng = random.Random(47)
    base = dt.datetime(2026, 2, 2)
    recs = []
    i = 0
    stamp = lambda d: d.strftime("%Y-%m-%dT%H:%M:%S")  # noqa: E731
    for sym in ("AAA", "BBB", "CCC"):
        for day in range(2):
            for minute in range(0, 360, 7):
                ts = stamp(base + dt.timedelta(days=day, minutes=minute))
                recs.append(
                    {"sym": sym, "ts": ts, "v": round(rng.uniform(1, 500), 2), "i": i}
                )
                i += 1
            # planted tie: two rows AT the bucket's first instant with
            # different ids and different values — the open must pick
            # the lower id on both sides.
            for _ in range(2):
                ts = stamp(base + dt.timedelta(days=day))
                recs.append(
                    {"sym": sym, "ts": ts, "v": round(rng.uniform(1, 500), 2), "i": i}
                )
                i += 1
    rng.shuffle(recs)  # ties split across micro-batches
    write_batches(p.inp, recs, batch_size=40)  # 8+ micro-batches


_OHLC_SCHEMA = "sym STRING, ts TIMESTAMP, v DOUBLE, i LONG"
_OHLC_ARGS = dict(time_col="ts", value_col="v", id_col="i", bucket="day")


def _te_fixture(spark, p):
    rng = random.Random(83)
    recs = []
    for i in range(480):
        uid = rng.randrange(60)
        cat = "c%d" % ((uid + i) % 5 if i < 240 else uid % 3)
        y = round(rng.uniform(-5, 20), 3)
        recs.append({"uid": uid, "cat": cat, "y": y, "i": i})
    write_batches(p.inp, recs, batch_size=60)  # 8 micro-batches


_TE_SCHEMA = "uid LONG, cat STRING, y DOUBLE, i LONG"
_TE_COLS = ("category", "fold", "oof_cnt", "enc", "enc_smoothed")

_TD_SCHEMA = (
    "key LONG, event_id LONG, ts TIMESTAMP, op STRING, color STRING, amount LONG"
)
_TD_COLS = ["color", "amount"]


def _td_fixture(spark, p):
    rng = random.Random(31)
    base = dt.datetime(2026, 2, 2)
    colors = ["red", "green", "blue", None]
    ref_rows = [(k, rng.choice(colors), rng.randrange(1000)) for k in range(200)]
    ref = spark.createDataFrame(ref_rows, "key LONG, color STRING, amount LONG")
    ref.write.parquet(p.path("ref"))
    p.ref = spark.read.parquet(p.path("ref"))
    # the replica starts as a copy of the reference; both digest
    # tables start identical (the old side's stays frozen)
    p.ref.write.parquet(p.path("replica"))
    cdc.bucket_digests(p.ref, "key", _TD_COLS).write.parquet(p.out)
    cdc.bucket_digests(p.ref, "key", _TD_COLS).write.parquet(p.path("ref_digests"))

    by_key = {k: (c, a) for k, c, a in ref_rows}
    recs = []
    for i in range(240):
        ts = (base + dt.timedelta(minutes=i)).strftime("%Y-%m-%dT%H:%M:%S")
        roll = rng.random()
        if roll < 0.12:  # brand-new key
            k = 200 + rng.randrange(20)
            op, color, amount = "U", rng.choice(colors), rng.randrange(1000)
            by_key[k] = (color, amount)
        elif roll < 0.24:  # tombstone (sometimes later reinserted)
            k = rng.randrange(220)
            op, color, amount = "D", None, None
            by_key.pop(k, None)
        elif roll < 0.34 and by_key:  # echo: digest must not move
            k = rng.choice(sorted(by_key))
            color, amount = by_key[k]
            op = "U"
        else:  # value change
            k = rng.randrange(220)
            op, color, amount = "U", rng.choice(colors), rng.randrange(1000)
            by_key[k] = (color, amount)
        recs.append(
            {"key": k, "event_id": i, "ts": ts, "op": op, "color": color,
             "amount": amount}
        )
    write_batches(p.inp, recs, batch_size=30)  # 8 micro-batches


def _td_read(spark, p):
    diff = cdc.table_diff_incremental(
        p.ref,
        spark.read.parquet(p.path("replica")),
        "key",
        _TD_COLS,
        old_digests=spark.read.parquet(p.path("ref_digests")),
        new_digests=spark.read.parquet(p.out),
    )
    return {"": _tuples(diff), "digests": _tuples(spark.read.parquet(p.out))}


def _td_batch(spark, p):
    # the final replica: latest change per key applied over the initial
    # copy, tombstones dropped
    seed = p.ref.select(
        "key",
        F.lit(None).cast("long").alias("event_id"),
        F.lit("1970-01-01").cast("timestamp").alias("ts"),
        F.lit("U").alias("op"),
        "color",
        "amount",
    )
    w = Window.partitionBy("key").orderBy(
        F.col("ts").desc(), F.col("event_id").desc_nulls_last()
    )
    final = (
        seed.unionByName(_json(spark, _TD_SCHEMA, p.inp))
        .withColumn("__rn", F.row_number().over(w))
        .filter((F.col("__rn") == 1) & (F.col("op") != "D"))
        .select("key", "color", "amount")
    )
    return {
        "": _tuples(cdc.table_diff(p.ref, final, "key", _TD_COLS)),
        "digests": _tuples(cdc.bucket_digests(final, "key", _TD_COLS)),
    }


def _reservoir_fixture(spark, p):
    rng = random.Random(37)
    recs = [
        {"k": rng.choice(["alpha", "beta", "gamma"]), "id": rng.randrange(3000)}
        for _ in range(400)
    ]
    # redeliveries: echo 40 earlier rows later in the stream
    recs.extend(recs[50:90])
    # sparse key: fewer than k distinct ids in total
    recs.extend({"k": "sparse", "id": i} for i in range(7))
    write_batches(p.inp, recs, batch_size=56)  # 8 micro-batches


def _reservoir_rows(df) -> list[tuple]:
    return [(r["k"], tuple(map(tuple, r["reservoir"]))) for r in df.collect()]


def _hll_fixture(spark, p):
    rng = random.Random(91)
    recs = [
        {
            "etype": rng.choice(["click", "view", "buy"]),
            "uid": rng.randint(0, 3000),
            "i": i,
        }
        for i in range(600)
    ]
    write_batches(p.inp, recs, batch_size=75)  # 8 micro-batches


def _hll_extras(spark, p, got, want):
    exact = {
        r["etype"]: r["x"]
        for r in _json(spark, _KMV_SCHEMA, p.inp)
        .groupBy("etype")
        .agg(F.countDistinct("uid").alias("x"))
        .collect()
    }
    # estimate sanity beside the equality: within 5% of exact at lgk=12
    return {
        "estimates_within_5pct": all(
            abs(est - exact[k]) <= max(1, int(0.05 * exact[k])) for k, est in want
        )
    }


def _kll_fixture(spark, p):
    rng = random.Random(17)
    recs = [{"v": int(rng.gauss(500, 150)) % 997, "i": i} for i in range(800)]
    write_batches(p.inp, recs, batch_size=100)  # 8 micro-batches


_KLL_QS = [(1, 4, "p25"), (1, 2, "p50"), (99, 100, "p99")]


def _kll_read(spark, p):
    state = spark.read.parquet(p.out)
    served = sketches.kll_quantiles(
        sketches.kll_merge_all(sketches.kll_summary_from_weighted(state, k=64), k=64),
        _KLL_QS,
    )
    return {"": _tuples(state, "shard", "__v", "__w"), "quantiles": _tuples(served)}


def _kll_batch(spark, p):
    bb = _json(spark, "v LONG, i LONG", p.inp)
    state = (
        bb.selectExpr("pmod(xxhash64(v), 8) AS shard", "CAST(v AS LONG) AS __v")
        .groupBy("shard", "__v")
        .agg(F.count(F.lit(1)).alias("__w"))
    )
    served = sketches.kll_quantiles(
        sketches.kll_merge_all(sketches.kll_summary(bb, "v", k=64, n_shards=8), k=64),
        _KLL_QS,
    )
    return {"": _tuples(state, "shard", "__v", "__w"), "quantiles": _tuples(served)}


def _auc_fixture(spark, p):
    rng = random.Random(23)
    recs = []
    for i in range(900):
        cohort = "a" if i % 3 else "b"
        y = 1 if rng.random() < 0.4 else 0
        # positives score higher on average; 3-decimal quantization
        # makes scores collide across batches (the state stays small)
        s = round(min(0.999, max(0.001, rng.gauss(0.62 if y else 0.41, 0.18))), 3)
        recs.append({"s": s, "y": y, "c": cohort, "i": i})
    write_batches(p.inp, recs, batch_size=150)  # 6 micro-batches


_AUC_SCHEMA = "s DOUBLE, y LONG, c STRING, i LONG"
_AUC_STATE = ("c", "__s", "__cnt", "__pos")


def _auc_batch(spark, p):
    bb = _json(spark, _AUC_SCHEMA, p.inp)
    state = (
        bb.selectExpr(
            "c",
            "s AS __s",
            "CASE WHEN y IS NOT NULL AND CAST(y AS BOOLEAN) THEN 1 ELSE 0 END AS __p",
        )
        .groupBy("c", "__s")
        .agg(
            F.count(F.lit(1)).cast("long").alias("__cnt"),
            F.sum("__p").cast("long").alias("__pos"),
        )
    )
    return {
        "": _tuples(state, *_AUC_STATE),
        "auc": _tuples(features.auc_exact(bb, "s", "y", key_cols=["c"])),
    }


def _vocab_fixture(spark, p):
    rng = random.Random(53)
    vocab = [f"tok{i}" for i in range(60)]
    recs = []
    for i in range(300):
        # Zipf-ish: low-index tokens dominate, all batches overlap
        n = rng.randint(5, 15)
        toks = [vocab[min(int(rng.expovariate(0.08)), 59)] for _ in range(n)]
        recs.append({"doc_id": i, "text": " ".join(toks)})
    write_batches(p.inp, recs, batch_size=75)  # 4 micro-batches


_VOCAB_TOKENS = "filter(split(lower(text), '\\\\s+'), x -> x != '')"
_VOCAB_NS = [5, 20, 50]


def _vocab_read(spark, p):
    state = spark.read.parquet(p.out)
    return {
        "": _tuples(state, "term", "c"),
        "curve": _tuples(text_analysis.vocab_coverage_from_counts(state, _VOCAB_NS)),
    }


def _vocab_batch(spark, p):
    counts = (
        _json(spark, "doc_id LONG, text STRING", p.inp)
        .selectExpr(f"explode({_VOCAB_TOKENS}) AS term")
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    return {
        "": _tuples(counts, "term", "c"),
        "curve": _tuples(text_analysis.vocab_coverage_from_counts(counts, _VOCAB_NS)),
    }


_DOCS_SCHEMA = "doc_id LONG, text STRING"


def _docs(spark, p):
    """The fixture's documents as one batch frame (the union)."""
    return spark.createDataFrame(
        [(r["doc_id"], r["text"]) for r in p.recs], _DOCS_SCHEMA
    )


def _decontam_fixture(spark, p):
    bench = [
        "the quick brown fox jumps over the lazy dog tonight",
        "pack my box with five dozen liquor jugs right now",
    ]
    p.eval_df = spark.createDataFrame(
        [(100 + i, t) for i, t in enumerate(bench)], _DOCS_SCHEMA
    )
    p.eval_df.write.parquet(p.path("eval"))
    p.recs = []
    for i in range(24):
        if i % 8 == 3:  # one leaked doc per batch of 8
            t = bench[i % 2] + f" plus trailing tokens {i}"
        else:
            t = f"clean document body {i} with its own unique words w{i}"
        p.recs.append({"doc_id": i, "text": t})
    write_batches(p.inp, p.recs, batch_size=8)  # 3 micro-batches


_DECONTAM_COLS = ("doc", "n_shared_shingles", "n_eval_docs")


def _clusters_fixture(spark, p):
    base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    p.recs = [
        {"doc_id": i, "text": base + f" u{i} v{i % 7} w{i % 5}"} for i in range(30)
    ]
    # cross-batch chain: 30 (batch 3) near-dups 3 (batch 1); 31
    # near-dups 30 — the component {3, 30, 31} spans three batches
    p.recs.append({"doc_id": 30, "text": p.recs[3]["text"] + " extra"})
    p.recs.append({"doc_id": 31, "text": p.recs[3]["text"] + " extra more"})
    p.recs.append(
        {"doc_id": 32, "text": "entirely different words only here nothing shared "
                               "at all"}
    )
    write_batches(p.inp, p.recs, batch_size=11)  # 3 micro-batches


def _clusters_extras(spark, p, got, want):
    # 3, 30, 31 must land in ONE component even though their pairs were
    # discovered in three different micro-batches (the base docs are
    # near-dups of each other too, so the shared keeper is the
    # component's min id, not 3 itself)
    keepers = dict(got)
    return {
        "cross_batch_component": (
            30 in keepers
            and 31 in keepers
            and keepers.get(30) == keepers.get(3)
            and keepers.get(31) == keepers.get(3)
        )
    }


_GATE_SCHEMA = "doc_id LONG, text STRING, source STRING"
_GATE_STATE = ("source", "__fp", "__n", "__sq")
_GATE_ARGS = (30, 0.6, 0.3)


def _gate_fixture(spark, p):
    rng = random.Random(41)
    words = [f"w{i}" for i in range(400)]
    recs = []
    for i in range(600):
        n = rng.randint(20, 120)
        text = " ".join(rng.choice(words) for _ in range(n))
        recs.append({"doc_id": i, "text": text, "source": f"s{i % 5}"})
    # cross-batch mirror: docs 450-499 (batch 4) replay texts of docs
    # 0-49 (batch 1) under source 'mirror'
    for j in range(50):
        recs[450 + j] = {"doc_id": 450 + j, "text": recs[j]["text"], "source": "mirror"}
    write_batches(p.inp, recs, batch_size=150)  # 4 micro-batches


def _gate_extras(spark, p, got, want):
    # the planted mirror must be visible as dups on the served side
    gate = {r[0]: r for r in _tuples(governance.source_gate_finish(
        spark.read.parquet(p.out), *_GATE_ARGS
    ))}
    return {
        "cross_batch_dups_seen": bool(
            gate.get("mirror") and gate["mirror"][3] >= 50
        )
    }


_VEC_SCHEMA = "vec_id LONG, embedding ARRAY<DOUBLE>"


def _vec(i: int) -> list[float]:
    return [round(math.sin(0.7 * i + j * 1.3), 6) for j in range(8)]


def _ivf_base(spark, p):
    """60 base vectors indexed at p.out under 5 frozen centroids."""
    p.base = spark.createDataFrame([(i, _vec(i)) for i in range(60)], _VEC_SCHEMA)
    p.cents = [_vec(i * 9) for i in range(5)]
    similarity.build_ivf_index(p.base, p.out, p.cents)


def _probe_all(spark, idx: str) -> list[tuple]:
    query = spark.createDataFrame([(_vec(42),)], "embedding ARRAY<DOUBLE>")
    return [
        (r["vec_id"], round(r["cosine"], 12))
        for r in similarity.ivf_index_topk(spark, idx, query, k=12, n_probe=5).collect()
    ]


def _brute(spark, corpus) -> list[tuple]:
    query = spark.createDataFrame([(_vec(42),)], "embedding ARRAY<DOUBLE>")
    return [
        (r["vec_id"], round(r["cosine"], 12))
        for r in similarity.brute_force_topk(corpus, query, k=12).collect()
    ]


def _ivf_fixture(spark, p):
    _ivf_base(spark, p)
    p.stream_rows = [(100 + i, _vec(100 + i)) for i in range(45)]
    write_batches(
        p.inp, [{"vec_id": i, "embedding": v} for i, v in p.stream_rows], batch_size=15
    )


def _ivf_batch(spark, p):
    # from-scratch batch index over the union
    p.union = p.base.unionByName(spark.createDataFrame(p.stream_rows, _VEC_SCHEMA))
    similarity.build_ivf_index(p.union, p.path("idx_batch"), p.cents)
    return _probe_all(spark, p.path("idx_batch"))


def _delete_fixture(spark, p):
    _ivf_base(spark, p)
    p.deleted = [i for i in range(60) if i % 4 == 1]  # 15 ids, 3 batches
    write_batches(p.inp, [{"vec_id": i} for i in p.deleted], batch_size=5)


def _delete_batch(spark, p):
    # same base index, one batch delete of the union id set
    similarity.build_ivf_index(p.base, p.path("idx_batch"), p.cents)
    similarity.vector_index_delete(spark, p.path("idx_batch"), p.deleted)
    return _probe_all(spark, p.path("idx_batch"))


def _delete_extras(spark, p, got, want):
    surviving = p.base.filter(~F.col("vec_id").isin(p.deleted))
    return {
        "probe_all_equals_brute": got == _brute(spark, surviving),
        "tombstones_compacted": compaction._fs_list_batches(
            spark, p.out + "/tombstones"
        ) == ["base"],
        "no_deleted_served": not ({i for i, _c in got} & set(p.deleted)),
    }


def _minhash_fixture(spark, p):
    words = [
        "alpha bravo charlie delta echo foxtrot golf hotel india juliet",
        "kilo lima mike november oscar papa quebec romeo sierra tango",
        "uniform victor whiskey xray yankee zulu one two three four",
    ]
    def doc(i: int) -> str:
        return words[i % 3] + f" tail{i % 7} suffix{i % 5} end{i % 11}"

    # near-dup of i-4 every 9 docs (often lands in another batch)
    p.recs = [
        {"doc_id": i, "text": doc(i - 4) + " extra" if i % 9 == 4 else doc(i)}
        for i in range(36)
    ]
    write_batches(p.inp, p.recs, batch_size=12)


def _minhash_extras(spark, p, got, want):
    idx_rows = _tuples(
        spark.read.parquet(os.path.join(p.out, "bands")), "doc", "band", "bucket"
    )
    scratch = _tuples(
        dedup.minhash_band_buckets(
            dedup.with_minhash_signature(
                dedup.hashed_shingle_table(_docs(spark, p), "doc_id", "text")
            ).select("doc", "sig")
        ),
        "doc", "band", "bucket",
    )
    return {"index_equals_scratch": sorted(idx_rows) == sorted(scratch)}


_BM25_COLS = ("doc_id", "n_terms", "score")


def _bm25_serve(spark, idx: str, terms: list[str]) -> list[tuple]:
    return _tuples(
        text_analysis.bm25_from_index(
            spark.read.parquet(os.path.join(idx, "postings")).drop("batch"),
            spark.read.parquet(os.path.join(idx, "doclens")).drop("batch"),
            terms,
        ),
        *_BM25_COLS,
    )


def _bm25_fixture(spark, p):
    vocab = [
        "spark", "query", "index", "scan", "merge", "join", "filter",
        "table", "batch", "stream",
    ]
    p.recs = []
    for i in range(30):
        words = [vocab[(i * 7 + j * 3) % len(vocab)] for j in range(6 + i % 5)]
        if i % 4 == 0:
            words += ["spark", "index"]
        p.recs.append({"doc_id": i, "text": " ".join(words)})
    write_batches(p.inp, p.recs, batch_size=10)


_BM25_TERMS = ["spark", "index", "merge"]


def _bm25_extras(spark, p, got, want):
    dl_stream = _tuples(
        spark.read.parquet(os.path.join(p.out, "doclens")).drop("batch"), "doc", "dl"
    )
    dl_batch = _tuples(text_analysis.doc_lengths(_docs(spark, p)), "doc", "dl")
    return {"doclens_equal": sorted(dl_stream) == sorted(dl_batch)}


_PHASH_ARGS = dict(schema="media_id LONG, ahash_hi LONG, ahash_lo LONG", max_hamming=3)


def _phash_fixture(spark, p):
    p.recs = [
        {
            "media_id": i,
            "ahash_hi": (0x9E3779B9 * (i + 1)) & 0xFFFFFFFF,
            "ahash_lo": (0x85EBCA6B * (i + 7)) & 0x7FFFFFFF,
        }
        for i in range(18)
    ]
    # planted near-dups: 13 = copy of 1 with 2 bits flipped (cross-
    # batch, batches of 6 → original in batch 0, copy in batch 2);
    # 14 = exact copy of 2 (Hamming 0)
    p.recs[13] = dict(p.recs[1], media_id=13, ahash_hi=p.recs[1]["ahash_hi"] ^ 0b101)
    p.recs[14] = dict(p.recs[2], media_id=14)
    write_batches(p.inp, p.recs, batch_size=6)


def _phash_pairs(spark, p) -> list[tuple]:
    return _tuples(
        spark.read.parquet(os.path.join(p.out, "pairs")), "id_a", "id_b", "hamming"
    )


def _phash_extras(spark, p, got, want):
    # replay the last batch: dropped commit, same lineage — the batch
    # overwrites its own directories instead of duplicating pairs
    n_bands = spark.read.parquet(os.path.join(p.out, "bands")).count()
    cp2 = p.path("cp2")
    shutil.copytree(p.cp, cp2)
    for leaf in ("2", ".2.crc"):
        if os.path.exists(os.path.join(cp2, "commits", leaf)):
            os.remove(os.path.join(cp2, "commits", leaf))
    scd2.run_phash_index_stream(spark, p.inp, p.out, cp2, **_PHASH_ARGS)
    n_bands_replay = spark.read.parquet(os.path.join(p.out, "bands")).count()
    return {
        "cross_batch_pair": (1, 13, 2) in got,
        "exact_pair": (2, 14, 0) in got,
        "replay_identical": sorted(_phash_pairs(spark, p)) == sorted(got)
        and n_bands_replay == n_bands,
    }


_CMP_TERMS = ["alpha", "merge"]


def _compaction_fixture(spark, p):
    vocab = ["alpha", "beta", "gamma", "delta", "scan", "merge"]
    p.recs = [
        {
            "doc_id": i,
            "text": " ".join(vocab[(i * 5 + j) % len(vocab)] for j in range(5 + i % 4)),
        }
        for i in range(30)
    ]
    write_batches(p.inp, p.recs[:20], batch_size=10)


def _compaction_stream(spark, p):
    """Stream two batches into a BM25 index and serve; compact and serve
    again; then restart with a third batch under compact_on_stop."""
    postings = os.path.join(p.out, "postings")
    scd2.run_bm25_index_stream(spark, p.inp, p.out, p.cp, schema=_DOCS_SCHEMA)
    p.pre = _bm25_serve(spark, p.out, _CMP_TERMS)
    p.files_before = compaction.count_files(spark, postings)
    p.stats = compaction.compact_bm25_index(spark, p.out)
    p.files_after = compaction.count_files(spark, postings)
    p.post = _bm25_serve(spark, p.out, _CMP_TERMS)
    # clean-stop restart: batch 2 arrives after compaction, and the
    # availableNow termination itself folds the new batch dir into a
    # fresh lone base, so the final serve reads one base directory only.
    write_batches(p.inp, p.recs, batch_size=10)
    scd2.run_bm25_index_stream(
        spark, p.inp, p.out, p.cp, schema=_DOCS_SCHEMA, compact_on_stop=True
    )


def _compaction_extras(spark, p, got, want):
    return {
        "compacted": bool(p.stats["postings"]["compacted"]),
        "files_before": p.files_before,
        "files_after": p.files_after,
        "hash_pre": _rows_hash(p.pre),
        "hash_post": _rows_hash(p.post),
        # this entry's artifact names for the final serve since r11
        "rows_final": len(got),
        "hash_final": _rows_hash(got),
        "final_tags": sorted(
            d[len("batch=") :]
            for d in os.listdir(os.path.join(p.out, "postings"))
            if d.startswith("batch=")
        ),
    }


_MIX_TARGETS = {"en": 500_000, "de": 300_000}
_MIX_COLS = ("id", "stratum", "n_tokens", "tok_before", "stratum_budget")


def _mix_fixture(spark, p):
    p.recs = [
        {
            "doc_id": i,
            "lang": ["en", "de", "xx"][i % 3],
            "text": " ".join(f"w{j}" for j in range(8 + (i % 5) * 4)),
        }
        for i in range(30)
    ]
    write_batches(p.inp, p.recs, batch_size=10)


def _mix_batch(spark, p):
    union = spark.createDataFrame(
        [(r["doc_id"], r["lang"], r["text"]) for r in p.recs],
        "doc_id LONG, lang STRING, text STRING",
    ).withColumn("n_toks_doc", F.size(dedup.tokens_col(F.col("text"))).cast("long"))
    return _tuples(
        sampling.budget_mix_select(
            union, "lang", "doc_id", "n_toks_doc", _MIX_TARGETS, 400
        ),
        *_MIX_COLS,
    )


def _pack_extras(spark, p, got, want):
    # the replay marker must survive the final state swap
    last = scd2._applied_batch_id(p.out, p.cp)
    return {"replay_marker_present": last is not None and last >= 0}


def _pack_fixture(spark, p):
    rng = random.Random(23)
    recs = [
        {"doc_id": i, "text": " ".join(f"w{j}" for j in range(rng.randint(1, 40)))}
        for i in range(400)
    ]
    write_batches(p.inp, recs, batch_size=50)  # 8 id-monotone batches


# --- the table -----------------------------------------------------------------

TWINS: list[Twin] = [
    Twin(
        "hot_path_enrichment",
        why="run_hot_path (enrich + JVM author counts from checkpointed "
        "per-batch deltas + foreachBatch dual sink) ≡ enrich_stream + "
        "row_number in batch mode; one file per trigger; per-batch "
        "anomalies ≡ a pandas oracle",
        fixture=_hot_fixture,
        stream=_hot_stream,
        read=lambda s, p: _tuples(s.read.parquet(p.out), *_HOT_COLS),
        batch=_hot_batch,
        extras=_hot_extras,
        rows=200,
        then=(
            Twin(
                "restart_recovery",
                why="re-run with the same checkpoint after a late file: old "
                "rows NOT reprocessed, author-count state continues past "
                "batch-local counts",
                fixture=_restart_fixture,
                stream=_hot_stream,
                read=lambda s, p: _tuples(s.read.parquet(p.out), "id"),
                batch=lambda s, p: _tuples(
                    _json(s, pipeline.STREAM_SCHEMA, p.inp), "id"
                ),
                extras=_restart_extras,
                rows=240,
            ),
        ),
    ),
    Twin(
        "sessionization",
        why="with_session_idx (stateful gap sessions, sessions spanning "
        "micro-batches) ≡ batch lag-island sessionize",
        fixture=_sess_fixture,
        stream=_sess_stream,
        read=lambda s, p: _tuples(s.read.parquet(p.out), "event_id", "session_idx"),
        batch=_sess_batch,
        rows=120,
    ),
    Twin(
        "sessionization_multichunk",
        why="with_session_idx when one group's micro-batch arrives as many "
        "Arrow chunks in scrambled order (5-record chunks, one 90-row batch) "
        "≡ batch sessionize; a per-chunk sort once mis-stamped such batches",
        fixture=_sess_multichunk_fixture,
        stream=_sess_multichunk_stream,
        read=lambda s, p: _tuples(s.read.parquet(p.out), "event_id", "session_idx"),
        batch=_sess_batch,
        rows=90,
    ),
    Twin(
        "windowed_counts",
        why="run_windowed_stream (watermarked event-time window counts, "
        "append mode) ≡ batch windowed_counts over the windows the final "
        "watermark has closed",
        fixture=_windowed_fixture,
        stream=_windowed_stream,
        read=lambda s, p: _tuples(
            s.read.parquet(p.out), "window_start", "subreddit", "cnt"
        ),
        batch=_windowed_batch,
    ),
    Twin(
        "curation_ingest",
        why="run_curation_stream (quality gate + split stamp + cross-batch "
        "fingerprint dedup state) ≡ curate_documents over the union",
        fixture=_curation_fixture,
        stream=lambda s, p: pipeline.run_curation_stream(
            s, p.inp, p.out, p.cp, quality_min=_CURATION_MIN_QUALITY
        ),
        read=lambda s, p: _tuples(s.read.parquet(p.out), *_CURATION_COLS),
        batch=lambda s, p: _tuples(
            curate_documents(s.createDataFrame(p.recs).dropDuplicates(["doc_id"])),
            *_CURATION_COLS,
        ),
    ),
    Twin(
        "interval_join",
        why="interval_join_streams executed stream-mode (time range in the "
        "JOIN condition → bounded state) ≡ the same operator in batch mode",
        fixture=lambda s, p: _join_fixture(
            p, {i: 7 if i % 3 else 45 for i in range(60)}, sentinels=False
        ),
        stream=lambda s, p: _sink(_join(s, p, _source), p),
        read=lambda s, p: _clicked(s.read.parquet(p.out)),
        batch=lambda s, p: _clicked(_join(s, p, _json)),
    ),
    Twin(
        "watermark_dedup",
        why="dedup_stream (dropDuplicatesWithinWatermark, cross-batch keyed "
        "state) drops planted redeliveries ≡ batch dropDuplicates: ids "
        "divisible by 5 are re-delivered byte-identically in LATER "
        "micro-batches inside the 1-hour horizon (the at-least-once "
        "crash-replay shape of the reference's no-checkpoint consumer)",
        fixture=_dedup_fixture,
        stream=lambda s, p: _sink(
            pipeline.dedup_stream(
                _ts(_source(s, _DEDUP_SCHEMA, p.inp), "created_ts"),
                id_col="id", ts_col="created_ts", within="1 hour",
            ),
            p,
        ),
        read=lambda s, p: _tuples(
            s.read.parquet(p.out), "id", "payload", "created_ts"
        ),
        batch=lambda s, p: _tuples(
            _ts(_json(s, _DEDUP_SCHEMA, p.inp), "created_ts").dropDuplicates(["id"]),
            "id", "payload", "created_ts",
        ),
        extras=lambda s, p, got, want: {"redelivered": p.redelivered},
        rows=100,
    ),
    Twin(
        "cusum_drift",
        why="cusum_alarm_stream (8-byte keyed recursion state, frozen "
        "training stats) ≡ the batch closed-form operator, exact integer "
        "rows; the drift starts mid-stream so alarms depend on state "
        "carried across micro-batches",
        fixture=_cusum_fixture,
        stream=lambda s, p: _sink(
            stateful.cusum_alarm_stream(
                _ts(_source(s, _CUSUM_SCHEMA, p.inp), "ts"),
                p.stats, "k", "ts", "id", "v",
            ),
            p,
        ),
        read=lambda s, p: _tuples(s.read.parquet(p.out), *_CUSUM_COLS),
        batch=lambda s, p: _tuples(
            anomaly.cusum_drift(
                _ts(_json(s, _CUSUM_SCHEMA, p.inp), "ts"),
                "k", "ts", "id", "v", precomputed_stats=p.stats,
            ),
            *_CUSUM_COLS,
        ),
    ),
    Twin(
        "scd2_maintenance",
        why="run_scd2_stream (foreachBatch MERGE of an SCD2 history table "
        "from a micro-batched changelog, replay-guarded) ≡ batch "
        "scd2_from_changelog over the union; echo rows and NULL attr states "
        "cross micro-batch boundaries",
        fixture=_scd2_fixture,
        stream=lambda s, p: scd2.run_scd2_stream(s, p.inp, p.out, p.cp),
        read=lambda s, p: _tuples(
            s.read.parquet(p.out), "user_id", "event_type", "effective_from",
            "effective_to", "version", "is_current",
        ),
        batch=lambda s, p: _tuples(
            cdc.scd2_from_changelog(
                _ts(_json(s, "user_id LONG, event_id LONG, ts STRING, "
                          "event_type STRING", p.inp), "ts"),
                "user_id", "ts", "event_type", ("event_id",),
            )
        ),
    ),
    Twin(
        "cm_sketch_merge",
        why="run_cm_sketch_stream (per-batch linear-sketch counter addition, "
        "constant d·w state) ≡ batch cm_counters over the union, EXACT "
        "integers, with a zipf-ish hot-key skew",
        fixture=_cm_fixture,
        stream=lambda s, p: scd2.run_cm_sketch_stream(
            s, p.inp, p.out, p.cp, schema="h LONG, i LONG", hash_expr="h"
        ),
        read=lambda s, p: _tuples(s.read.parquet(p.out), "seed", "bucket", "cnt"),
        batch=lambda s, p: _tuples(
            sketches.cm_counters(
                _json(s, "h LONG, i LONG", p.inp).selectExpr("h AS __h"), "__h"
            ),
            "seed", "bucket", "cnt",
        ),
    ),
    Twin(
        "kmv_sketch_merge",
        why="run_kmv_stream (per-batch KMV sketch merge, one ≤ k-array per "
        "key) ≡ batch kmv_sketch_agg over the union, EXACT sketch arrays; "
        "user ids replay across batches, and one key stays under k distinct "
        "(the exact-enumeration path)",
        fixture=_kmv_fixture,
        stream=lambda s, p: scd2.run_kmv_stream(
            s, p.inp, p.out, p.cp, schema=_KMV_SCHEMA, key_cols=["etype"],
            hash_expr=_KMV_HASH, k=16, n_shards=8,
        ),
        read=lambda s, p: _sketch_rows(s.read.parquet(p.out), "kmv_sketch"),
        batch=lambda s, p: _sketch_rows(
            sketches.kmv_sketch_agg(
                _json(s, _KMV_SCHEMA, p.inp).selectExpr("etype", f"{_KMV_HASH} AS __h"),
                ["etype"], "__h", k=16, n_shards=8,
            ),
            "kmv_sketch",
        ),
        extras=lambda s, p, got, want: {
            "short_sketch_covered": any(
                key == "rare" and 0 < len(sk) < 16 for key, sk in want
            )
        },
    ),
    Twin(
        "agg_maintenance",
        why="run_agg_maintenance_stream (per-batch fold of (n, Σ, Σ², min, "
        "max) states via ivm.agg_merge) ≡ one batch agg over the union, "
        "EXACT served aggregates with cross-batch extremes planted",
        fixture=_agg_fixture,
        stream=lambda s, p: scd2.run_agg_maintenance_stream(
            s, p.inp, p.out, p.cp, schema="k STRING, v LONG, i LONG",
            keys=["k"], value_expr="v",
        ),
        read=lambda s, p: _tuples(ivm.agg_finish(s.read.parquet(p.out), ["k"])),
        batch=lambda s, p: _tuples(
            ivm.agg_finish(
                ivm.agg_state(
                    _json(s, "k STRING, v LONG, i LONG", p.inp).selectExpr(
                        "k", "v AS __v"
                    ),
                    ["k"], "__v",
                ),
                ["k"],
            )
        ),
        # the planted cross-batch extremes must be the served min/max
        extras=lambda s, p, got, want: {
            "extremes_folded": any(
                r[0] == "k1" and r[-2] == -10_000 and r[-1] == 10_000 for r in want
            )
        },
    ),
    Twin(
        "seasonal_anomalies",
        why="seasonal_apply with FROZEN training stats (stream-static "
        "broadcast join, stateless map) ≡ the same applier over the batch "
        "union; planted slot-absurd values (slot baselines differ 20×) "
        "must fire",
        fixture=_seasonal_fixture,
        stream=lambda s, p: _sink(
            _seasonal(_source(s, _SEASONAL_SCHEMA, p.inp), p), p
        ),
        read=lambda s, p: _tuples(s.read.parquet(p.out), *_SEASONAL_COLS),
        batch=lambda s, p: _tuples(
            _seasonal(_json(s, _SEASONAL_SCHEMA, p.inp), p), *_SEASONAL_COLS
        ),
        extras=lambda s, p, got, want: {
            "planted_found": p.planted <= {r[2] for r in want}
        },
    ),
    Twin(
        "interval_join_outer",
        why="LEFT OUTER stream-stream interval join (abandonment rows emit "
        "with NULL right side after the watermark passes; sentinel rows "
        "advance the min-across-inputs watermark) ≡ the batch left join",
        fixture=lambda s, p: _join_fixture(
            p, {i: 7 for i in range(0, 60, 2)}, sentinels=True
        ),
        stream=lambda s, p: _sink(_join(s, p, _source, how="left_outer"), p),
        read=lambda s, p: _clicked(s.read.parquet(p.out)),
        batch=lambda s, p: _clicked(_join(s, p, _json, how="left_outer")),
        extras=lambda s, p, got, want: {
            "abandoned": sum(1 for _, b in want if b is None)
        },
        ok=lambda r: r["abandoned"] > 0,
    ),
    Twin(
        "ohlc_bars",
        why="run_ohlc_stream (foreachBatch merge of mergeable OHLC partial "
        "state, one row per (key, bucket)) ≡ batch ohlc_resample over the "
        "union, incl. same-timestamp ties split across micro-batches",
        fixture=_ohlc_fixture,
        stream=lambda s, p: scd2.run_ohlc_stream(
            s, p.inp, p.out, p.cp, schema=_OHLC_SCHEMA, key="sym", **_OHLC_ARGS
        ),
        read=lambda s, p: _tuples(scd2.ohlc_finish(s.read.parquet(p.out), "sym")),
        batch=lambda s, p: _tuples(
            temporal.ohlc_resample(
                _json(s, _OHLC_SCHEMA, p.inp), key="sym", **_OHLC_ARGS
            )
        ),
    ),
    Twin(
        "target_encoding",
        why="run_target_encoding_stream (per-batch fold of the (category, "
        "fold, n, Σ) frame by exact decimal addition) ≡ the batch OOF "
        "encoder over the union through the SHARED finish step, doubles "
        "included; categories skew across batches",
        fixture=_te_fixture,
        stream=lambda s, p: scd2.run_target_encoding_stream(
            s, p.inp, p.out, p.cp, schema=_TE_SCHEMA, category_col="cat",
            target_col="y", fold_key="uid", n_folds=3,
        ),
        read=lambda s, p: _tuples(
            features.oof_finish(s.read.parquet(p.out), m=10), *_TE_COLS
        ),
        batch=lambda s, p: _tuples(
            features.target_encode_oof(
                _json(s, _TE_SCHEMA, p.inp), "cat", "y", "uid", n_folds=3, m=10
            ),
            *_TE_COLS,
        ),
    ),
    Twin(
        "table_diff_maintenance",
        why="run_table_diff_stream (XOR-delta maintenance of a replica "
        "snapshot + its Merkle bucket-digest index from an upsert/tombstone "
        "changelog with echoes, new keys and delete-then-reinsert) ≡ "
        "bucket_digests rebuilt from the final replica AND table_diff over "
        "the full snapshots, both EXACT",
        fixture=_td_fixture,
        stream=lambda s, p: scd2.run_table_diff_stream(
            s, p.inp, p.path("replica"), p.out, p.cp, schema=_TD_SCHEMA,
            key="key", compare_cols=_TD_COLS, ts_col="ts", tiebreak=("event_id",),
        ),
        read=_td_read,
        batch=_td_batch,
        extras=lambda s, p, got, want: {
            "digest_rows": s.read.parquet(p.out).count()
        },
        ok=lambda r: r["digest_rows"] > 0,
    ),
    Twin(
        "reservoir_maintenance",
        why="run_reservoir_stream (per-batch bottom-k reservoir merge per "
        "key) ≡ batch reservoir_sample_agg over the union, EXACT (score, id) "
        "arrays incl. cross-batch redeliveries + the < k enumeration path",
        fixture=_reservoir_fixture,
        stream=lambda s, p: scd2.run_reservoir_stream(
            s, p.inp, p.out, p.cp, schema="k STRING, id LONG", key_cols=["k"],
            id_col="id", k=16,
        ),
        read=lambda s, p: _reservoir_rows(s.read.parquet(p.out)),
        batch=lambda s, p: _reservoir_rows(
            sampling.reservoir_sample_agg(
                _json(s, "k STRING, id LONG", p.inp), ["k"], "id", k=16
            )
        ),
        extras=lambda s, p, got, want: {
            "sparse_key_exact": any(k == "sparse" and len(r) == 7 for k, r in got)
        },
    ),
    Twin(
        "hll_maintenance",
        why="run_hll_stream (per-batch HLL sketch union, one binary per key) "
        "≡ hll_sketch_agg over the union: the served estimate table is "
        "hash-equal (same-lgK union is lossless in register space); user "
        "ids replay across micro-batches",
        fixture=_hll_fixture,
        stream=lambda s, p: scd2.run_hll_stream(
            s, p.inp, p.out, p.cp, schema=_KMV_SCHEMA, key_cols=["etype"],
            item_expr="uid", lgk=12,
        ),
        read=lambda s, p: _tuples(
            s.read.parquet(p.out).select(
                "etype", F.hll_sketch_estimate("hll").cast("long").alias("est")
            )
        ),
        batch=lambda s, p: _tuples(
            _json(s, _KMV_SCHEMA, p.inp)
            .groupBy("etype")
            .agg(
                F.hll_sketch_estimate(F.hll_sketch_agg("uid", F.lit(12)))
                .cast("long")
                .alias("est")
            )
        ),
        extras=_hll_extras,
    ),
    Twin(
        "kll_maintenance",
        why="run_kll_stream (weighted-distinct value state per shard, exact "
        "count addition) ≡ the batch KLL build over the union: BOTH the "
        "state table and the served quantile read-offs are hash-equal",
        fixture=_kll_fixture,
        stream=lambda s, p: scd2.run_kll_stream(
            s, p.inp, p.out, p.cp, schema="v LONG, i LONG", value_expr="v",
            n_shards=8,
        ),
        read=_kll_read,
        batch=_kll_batch,
    ),
    Twin(
        "ivf_index_maintenance",
        why="run_ivf_append_stream (per-batch directory appends against the "
        "frozen centroids) ≡ one batch build over base ∪ all streamed "
        "vectors: probe-all top-k over the MAINTAINED index equals the "
        "from-scratch index AND brute force over the union",
        fixture=_ivf_fixture,
        stream=lambda s, p: scd2.run_ivf_append_stream(
            s, p.inp, p.out, p.cp, schema=_VEC_SCHEMA
        ),
        read=lambda s, p: _probe_all(s, p.out),
        batch=_ivf_batch,
        extras=lambda s, p, got, want: {
            "probe_all_equals_brute": got == _brute(s, p.union)
        },
    ),
    Twin(
        "index_delete_maintenance",
        why="run_index_delete_stream (micro-batched takedown feed → "
        "tombstone batch dirs, compacted on stop) ≡ one batch "
        "vector_index_delete of the union id set, and ≡ brute force over "
        "the surviving corpus",
        fixture=_delete_fixture,
        stream=lambda s, p: scd2.run_index_delete_stream(
            s, p.inp, p.out, p.cp, schema="vec_id LONG", compact_on_stop=True
        ),
        read=lambda s, p: _probe_all(s, p.out),
        batch=_delete_batch,
        extras=_delete_extras,
    ),
    Twin(
        "pack_maintenance",
        why="run_pack_stream (incremental concat-and-chunk packing over an "
        "id-monotone append stream, replay-guarded) ≡ batch "
        "pack_concat_chunks over the union, EXACT offsets/chunk ranges",
        fixture=_pack_fixture,
        stream=lambda s, p: scd2.run_pack_stream(
            s, p.inp, p.out, p.cp, schema=_DOCS_SCHEMA, chunk_tokens=64
        ),
        read=lambda s, p: _tuples(s.read.parquet(p.out)),
        batch=lambda s, p: _tuples(
            text_analysis.pack_concat_chunks(
                _json(s, _DOCS_SCHEMA, p.inp), 64, "doc_id", "text"
            )
        ),
        extras=_pack_extras,
    ),
    Twin(
        "minhash_index_maintenance",
        why="run_minhash_index_stream (per-batch band-index append + probe + "
        "exact-Jaccard verify) ≡ batch minhash_lsh_pairs over the union, ids "
        "AND jaccard doubles; the maintained band index equals one built "
        "from scratch; near-dups planted within and across batches",
        fixture=_minhash_fixture,
        stream=lambda s, p: scd2.run_minhash_index_stream(
            s, p.inp, p.out, p.cp, schema=_DOCS_SCHEMA, threshold=0.5
        ),
        read=lambda s, p: _tuples(
            s.read.parquet(os.path.join(p.out, "pairs")), "doc_a", "doc_b", "jaccard"
        ),
        batch=lambda s, p: _tuples(
            dedup.minhash_lsh_pairs(_docs(s, p), "doc_id", "text", 0.5),
            "doc_a", "doc_b", "jaccard",
        ),
        extras=_minhash_extras,
    ),
    Twin(
        "bm25_index_maintenance",
        why="run_bm25_index_stream (per-batch posting/doclen directory "
        "appends) ≡ batch bm25_scores over the union: the index-served "
        "scores are hash-equal, doubles included, and the doclen tables "
        "are equal",
        fixture=_bm25_fixture,
        stream=lambda s, p: scd2.run_bm25_index_stream(
            s, p.inp, p.out, p.cp, schema=_DOCS_SCHEMA
        ),
        read=lambda s, p: _bm25_serve(s, p.out, _BM25_TERMS),
        batch=lambda s, p: _tuples(
            text_analysis.bm25_scores(_docs(s, p), _BM25_TERMS), *_BM25_COLS
        ),
        extras=_bm25_extras,
    ),
    Twin(
        "mix_maintenance",
        why="run_mix_stream (per-batch greedy mix fill against the ledger) "
        "≡ batch budget_mix_select over the union, EXACT manifests; one "
        "stratum exhausts its budget mid-stream, one is untargeted",
        fixture=_mix_fixture,
        stream=lambda s, p: scd2.run_mix_stream(
            s, p.inp, p.path("state"), p.out, p.cp,
            schema="doc_id LONG, lang STRING, text STRING",
            targets_ppm=_MIX_TARGETS, budget_tokens=400,
        ),
        read=lambda s, p: _tuples(s.read.parquet(p.out).drop("batch"), *_MIX_COLS),
        batch=_mix_batch,
        extras=lambda s, p, got, want: {
            "budget_exhausted_mid_stream": any(r[1] == "de" for r in want)
            and len({r[1] for r in want}) == 2
        },
    ),
    Twin(
        "auc_maintenance",
        why="run_auc_stream (weighted-distinct score state per cohort, exact "
        "count addition) ≡ batch auc_exact over the union: BOTH the state "
        "and the served keyed AUC rows are hash-equal",
        fixture=_auc_fixture,
        stream=lambda s, p: scd2.run_auc_stream(
            s, p.inp, p.out, p.cp, schema=_AUC_SCHEMA, score_expr="s",
            label_expr="y", key_cols=["c"],
        ),
        read=lambda s, p: {
            "": _tuples(s.read.parquet(p.out), *_AUC_STATE),
            "auc": _tuples(features.auc_from_weighted(s.read.parquet(p.out), ["c"])),
        },
        batch=_auc_batch,
    ),
    Twin(
        "source_gate_maintenance",
        why="run_source_gate_stream ((source, fingerprint) cell state, exact "
        "count/ladder-sum addition) ≡ batch source_quality_gate over the "
        "union: BOTH the state and the gate verdicts are hash-equal; a "
        "cross-batch mirror source must show as dups",
        fixture=_gate_fixture,
        stream=lambda s, p: scd2.run_source_gate_stream(
            s, p.inp, p.out, p.cp, schema=_GATE_SCHEMA, id_col="doc_id",
            text_col="text", source_col="source",
        ),
        read=lambda s, p: {
            "": _tuples(s.read.parquet(p.out), *_GATE_STATE),
            "gate": _tuples(
                governance.source_gate_finish(s.read.parquet(p.out), *_GATE_ARGS)
            ),
        },
        batch=lambda s, p: {
            "": _tuples(
                governance.source_gate_state(
                    _json(s, _GATE_SCHEMA, p.inp), "doc_id", "text", "source"
                ),
                *_GATE_STATE,
            ),
            "gate": _tuples(
                governance.source_quality_gate(
                    _json(s, _GATE_SCHEMA, p.inp), "doc_id", "text", "source",
                    *_GATE_ARGS,
                )
            ),
        },
        extras=_gate_extras,
    ),
    Twin(
        "dedup_cluster_serve",
        why="duplicate_clusters served over the MinHash stream's maintained "
        "pair state ≡ batch clusters over re-paired union docs; a "
        "cross-batch chain (30 ~ 3, 31 ~ 30) must merge into one component",
        fixture=_clusters_fixture,
        stream=lambda s, p: scd2.run_minhash_index_stream(
            s, p.inp, p.out, p.cp, schema=_DOCS_SCHEMA, threshold=0.5
        ),
        read=lambda s, p: _tuples(
            dedup.duplicate_clusters(s.read.parquet(os.path.join(p.out, "pairs"))),
            "doc", "keeper",
        ),
        batch=lambda s, p: _tuples(
            dedup.duplicate_clusters(
                dedup.minhash_lsh_pairs(_docs(s, p), "doc_id", "text", 0.5)
            ),
            "doc", "keeper",
        ),
        extras=_clusters_extras,
    ),
    Twin(
        "decontam_maintenance",
        why="run_decontam_stream (per-batch contamination screening against "
        "a frozen broadcast eval set, directory-per-batch appends) ≡ batch "
        "contamination_report over the union; one leaked doc per batch",
        fixture=_decontam_fixture,
        stream=lambda s, p: scd2.run_decontam_stream(
            s, p.inp, p.path("eval"), p.out, p.cp, schema=_DOCS_SCHEMA
        ),
        read=lambda s, p: _tuples(
            s.read.parquet(p.out).drop("batch"), *_DECONTAM_COLS
        ),
        batch=lambda s, p: _tuples(
            dedup.contamination_report(_docs(s, p), p.eval_df, "doc_id", "text"),
            *_DECONTAM_COLS,
        ),
        extras=lambda s, p, got, want: {
            "flagged_docs": sorted({d for d, _, _ in got})
        },
        ok=lambda r: r["flagged_docs"] == [3, 11, 19],
    ),
    Twin(
        "vocab_maintenance",
        why="run_vocab_stream ((term → count) state, exact addition) ≡ the "
        "batch token counts over the union, AND the served "
        "vocabulary-coverage curve equals the batch curve",
        fixture=_vocab_fixture,
        stream=lambda s, p: scd2.run_vocab_stream(
            s, p.inp, p.out, p.cp, schema=_DOCS_SCHEMA, text_expr=_VOCAB_TOKENS
        ),
        read=_vocab_read,
        batch=_vocab_batch,
    ),
    Twin(
        "index_compaction_lifecycle",
        why="compaction of a streamed directory-per-batch BM25 index: batch "
        "dirs collapse to one base and the file count drops, the serve is "
        "bit-equal across the compaction, and a clean-stop restart with "
        "compact_on_stop serves ≡ the batch scorer over the full union",
        fixture=_compaction_fixture,
        stream=_compaction_stream,
        read=lambda s, p: _bm25_serve(s, p.out, _CMP_TERMS),
        batch=lambda s, p: _tuples(
            text_analysis.bm25_scores(_docs(s, p), _CMP_TERMS), *_BM25_COLS
        ),
        extras=_compaction_extras,
        ok=lambda r: r["files_after"] < r["files_before"]
        and r["hash_pre"] == r["hash_post"]
        and r["final_tags"] == ["base"],
    ),
    Twin(
        "phash_index_maintenance",
        why="run_phash_index_stream (per-batch band/hash/pair directory "
        "appends) ≡ batch phash_neardup_pairs over the union: a noisy copy "
        "two batches after its original pairs via the maintained band "
        "index, and a dropped-commit replay overwrites its own directories",
        fixture=_phash_fixture,
        stream=lambda s, p: scd2.run_phash_index_stream(
            s, p.inp, p.out, p.cp, **_PHASH_ARGS
        ),
        read=_phash_pairs,
        batch=lambda s, p: _tuples(
            dedup.phash_neardup_pairs(
                s.createDataFrame(
                    [(r["media_id"], r["ahash_hi"], r["ahash_lo"]) for r in p.recs],
                    "media_id LONG, ahash_hi LONG, ahash_lo LONG",
                ),
                max_hamming=3,
            ),
            "id_a", "id_b", "hamming",
        ),
        extras=_phash_extras,
    ),
]


def main() -> None:
    out_path = None
    args = sys.argv[1:]
    if args and args[0] == "--json":
        out_path = args[1]
    elif args:
        # A bare positional path used to be silently IGNORED — the
        # run printed N/N pass but never wrote the artifact, leaving
        # a stale committed file (bitten in round 11). Fail loudly.
        sys.exit(
            f"usage: streaming_check.py [--json OUT.json]  "
            f"(unrecognized args: {args})"
        )

    from big_data_engineering_project_spark.session import get_spark

    spark = get_spark("bde-streaming-check")
    root = tempfile.mkdtemp(prefix="bde_stream_check_")
    results: dict[str, dict] = {}
    try:
        t0 = time.perf_counter()
        for twin in TWINS:
            results.update(run_twin(spark, root, twin))
        elapsed = round(time.perf_counter() - t0, 1)
    finally:
        shutil.rmtree(root, ignore_errors=True)
        spark.stop()

    n_pass = sum(1 for r in results.values() if r["match"])
    payload = {
        "checks": results,
        "n_pass": n_pass,
        "n_total": len(results),
        "elapsed_sec": elapsed,
    }
    for name, r in results.items():
        print(f"{'pass' if r['match'] else 'FAIL'}  {name}  {r}")
    if out_path:
        with open(out_path, "w") as fh:
            json.dump(payload, fh, indent=1)
        print(f"wrote {out_path}")
    print(f"{n_pass}/{len(results)} streaming checks pass")
    sys.exit(0 if n_pass == len(results) else 1)


if __name__ == "__main__":
    main()
