"""Seeded inputs for the benchmark.

Two kinds of input, both pure functions of a seed:

- `write_tables(dir, sf)`: the ten catalog tables the query registry
  reads (region, nation, customer, supplier, part, orders, lineitem,
  events, documents, embeddings), one parquet file each, with the
  column names, types and value domains of the engine's test fixtures
  and row counts scaled by `sf`. The registry workloads always use
  `TABLE_SEED`, so the row counts and result hashes pinned in
  `pinned.json` hold on every run; the run seed only orders the queries.
- `stream_records(n, seed)`: hot-path JSON records of the producer's
  14-field shape plus the `seq` arrival number, drawn from the run seed.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42

WORDS = (
    "a the agg batch big column customer data fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table value vector window"
).split()
LANGS = (("en", 0.44), ("zh", 0.15), ("es", 0.15), ("de", 0.14), ("fr", 0.12))
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_ADJ = ("small", "large", "red", "blue", "hot", "old", "green", "shiny")
PART_NOUN = ("ring", "widget", "bolt", "gear", "gizmo", "plate", "rod", "nut")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")


def table_rows(sf: float) -> dict[str, int]:
    """Row count per table at scale factor `sf`."""
    return {
        "region": 5,
        "nation": 25,
        "customer": round(150_000 * sf),
        "supplier": round(10_000 * sf),
        "part": round(200_000 * sf),
        "orders": round(1_500_000 * sf),
        "lineitem": round(6_000_000 * sf),
        "events": round(1_000_000 * sf),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def _days(rng, n: int, first: str, last: str) -> np.ndarray:
    lo = np.datetime64(first, "D").astype(np.int64)
    hi = np.datetime64(last, "D").astype(np.int64)
    days = rng.integers(lo, hi + 1, n)
    return days.astype("datetime64[D]").astype("datetime64[us]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n: int) -> np.ndarray:
    return np.asarray(list(values), dtype=object)[rng.integers(0, len(values), n)]


def _documents(rng, n: int) -> pa.Table:
    word_arr = np.asarray(WORDS, dtype=object)
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate: an earlier document with a marker appended
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(word_arr[rng.integers(0, len(WORDS), k)]))
    langs, weights = zip(*LANGS)
    lang = np.asarray(langs, dtype=object)[
        rng.choice(len(langs), n, p=np.asarray(weights))
    ]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(lang, pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    vecs = rng.standard_normal((n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    flat = pa.array(vecs.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def build_tables(sf: float, seed: int = TABLE_SEED) -> dict[str, pa.Table]:
    """All ten catalog tables at scale `sf`, drawn from `seed`."""
    rng = np.random.default_rng(seed)
    n = table_rows(sf)
    i32, i64, f64 = pa.int32(), pa.int64(), pa.float64()
    n_users = max(1, round(15_000 * sf))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": list(REGIONS)}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{k}" for k in range(25)],
            "n_regionkey": pa.array([k % 5 for k in range(25)], i32),
        }
    )
    c = n["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(c), i64),
            "c_name": [f"Customer#{k:09d}" for k in range(c)],
            "c_nationkey": pa.array(rng.integers(0, 25, c), i32),
            "c_acctbal": pa.array(_money(rng, c, -999.99, 9999.99), f64),
            "c_mktsegment": pa.array(_pick(rng, SEGMENTS, c), pa.string()),
        }
    )
    s = n["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(s), i64),
            "s_name": [f"Supplier#{k:09d}" for k in range(s)],
            "s_nationkey": pa.array(rng.integers(0, 25, s), i32),
            "s_acctbal": pa.array(_money(rng, s, -999.99, 9999.99), f64),
        }
    )
    p = n["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(p), i64),
            "p_name": pa.array(_pick(rng, names, p), pa.string()),
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, p)],
            "p_type": pa.array(_pick(rng, PART_TYPES, p), pa.string()),
            "p_size": pa.array(rng.integers(1, 51, p), i32),
            "p_retailprice": pa.array(
                np.round(900.0 + (np.arange(p) % 1000) / 10.0, 2), f64
            ),
        }
    )
    o = n["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(o), i64),
            "o_custkey": pa.array(rng.integers(0, c, o), i64),
            "o_orderstatus": pa.array(_pick(rng, "FOP", o), pa.string()),
            "o_totalprice": pa.array(_money(rng, o, 1000.0, 500000.0), f64),
            "o_orderdate": pa.array(_days(rng, o, "1995-01-01", "2001-08-01")),
            "o_orderpriority": pa.array(_pick(rng, PRIORITIES, o), pa.string()),
        }
    )
    li = n["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, o, li), i64),
            "l_partkey": pa.array(rng.integers(0, p, li), i64),
            "l_suppkey": pa.array(rng.integers(0, s, li), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, li), i32),
            "l_quantity": pa.array(rng.integers(1, 51, li).astype(np.float64), f64),
            "l_extendedprice": pa.array(_money(rng, li, 900.0, 105000.0), f64),
            "l_discount": pa.array(rng.integers(0, 11, li) / 100.0, f64),
            "l_tax": pa.array(rng.integers(0, 9, li) / 100.0, f64),
            "l_returnflag": pa.array(_pick(rng, "RAN", li), pa.string()),
            "l_linestatus": pa.array(_pick(rng, "OF", li), pa.string()),
            "l_shipdate": pa.array(_days(rng, li, "1995-01-02", "2001-11-04")),
        }
    )
    e = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(start, start + span, e)).astype("datetime64[us]")
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(e), i64),
            "ts": pa.array(ts),
            "user_id": pa.array(rng.integers(0, n_users, e), i64),
            "event_type": pa.array(_pick(rng, EVENT_TYPES, e), pa.string()),
            "value": pa.array(
                np.maximum(np.round(rng.exponential(50.0, e), 2), 0.01), f64
            ),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
        }
    )
    t["documents"] = _documents(rng, n["documents"])
    t["embeddings"] = _embeddings(rng, n["embeddings"])
    return t


def write_tables(out_dir: str, sf: float, seed: int = TABLE_SEED) -> None:
    """Write the catalog tables as `<out_dir>/<name>.parquet`."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build_tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def stream_records(n: int, seed: int) -> list[dict]:
    """`n` hot-path records in arrival order. Every 37th record carries
    an outlier score, so each micro-batch has z-score anomalies."""
    rng = np.random.default_rng(seed)
    authors = [f"user{k}" for k in range(500)]
    zipf = 1.0 / np.arange(1, len(authors) + 1)
    author_idx = rng.choice(len(authors), n, p=zipf / zipf.sum())
    titles = (
        "Good news everyone today",
        "bad terrible day at work!!",
        "Just a question about pipelines?",
        "lessons learned from a failed deploy",
        "Check https://example.com for the full write-up",
    )
    subreddits = [f"sub{k}" for k in range(50)]
    base = dt.datetime(2026, 1, 15)
    recs = []
    for i in range(n):
        score = int(rng.integers(0, 10_000))
        if i % 37 == 0:
            score = 1_000_000
        rec = {
            "seq": i,
            "id": f"post{i:07d}",
            "author": authors[author_idx[i]],
            "title": titles[int(rng.integers(0, len(titles)))],
            "subreddit": subreddits[int(rng.integers(0, len(subreddits)))],
            "created_time": (
                None
                if rng.random() < 0.02
                else (base + dt.timedelta(seconds=i)).strftime("%Y-%m-%d %H:%M:%S")
            ),
            "score": score,
            "num_comments": int(rng.integers(0, 2000)),
            "is_self_post": bool(rng.integers(0, 2)),
            "flair_text": (None, "Help", "META", "Lessons Learned")[
                int(rng.integers(0, 4))
            ],
            "upvote_ratio": round(float(rng.random()), 2),
            "edited": "False" if rng.random() < 0.8 else f"{1.7e9 + i:.1f}",
            "over_18": bool(rng.random() < 0.05),
            "thumbnail": "self" if rng.random() < 0.4 else "http://img/x.jpg",
            "stickied": bool(rng.random() < 0.01),
        }
        if rng.random() < 0.02:
            del rec["num_comments"]
        if rng.random() < 0.05:
            del rec["upvote_ratio"]
        recs.append(rec)
    return recs


def write_stream_input(in_dir: str, recs: list[dict], per_file: int) -> int:
    """Write `recs` as JSON-lines files of `per_file` records with
    strictly increasing mtimes, so the file source reads them in
    `seq` order. Returns the number of files."""
    os.makedirs(in_dir, exist_ok=True)
    t0 = dt.datetime(2026, 1, 1).timestamp()
    n_files = 0
    for start in range(0, len(recs), per_file):
        path = os.path.join(in_dir, f"{n_files:05d}.json")
        with open(path, "w") as fh:
            for rec in recs[start : start + per_file]:
                fh.write(json.dumps(rec) + "\n")
        os.utime(path, (t0 + n_files, t0 + n_files))
        n_files += 1
    return n_files
