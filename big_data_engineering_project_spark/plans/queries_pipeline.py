"""Training-data pipeline queries (north-star): dedup, similarity
search, text analysis — each with a DuckDB oracle that reproduces the
exact arithmetic (shared polynomial-hash constants from operators/
dedup.py; no engine-native hash functions anywhere).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from big_data_engineering_project_spark.caches import memo, pin
from big_data_engineering_project_spark.functions.lexicons import (
    LANG_MARKERS,
    STOPWORDS,
    sql_array,
)
from big_data_engineering_project_spark.operators import dedup, similarity
from big_data_engineering_project_spark.operators.dedup import (
    HASH_BASE,
    HASH_PRIME,
    LSH_BANDS,
    LSH_ROWS,
    MINHASH_SEEDS,
)
from big_data_engineering_project_spark.operators.text_analysis import (
    with_text_features,
)
from big_data_engineering_project_spark.plans.registry import register
from big_data_engineering_project_spark.sources.catalog import load_table, spread

P = HASH_PRIME
B = HASH_BASE

# Shared hashed-shingle table -------------------------------------------------
#
# Three dedup queries (ngram-jaccard, minhash-lsh, minhash-signatures)
# start from the identical (doc, hv) shingle-hash frame — the single
# most expensive expression in the suite. Memoize it per (session,
# sf_dir) and persist, so one session running several dedup jobs
# computes the shingles once (a materialized common subexpression; at
# cluster scale this is the "shingle table" a production dedup
# pipeline would write out once and reuse). The default level spills.


def _shared_hashed(spark: SparkSession, sf_dir: str, n: int) -> DataFrame:
    return memo(
        ("hashed_shingles", id(spark), sf_dir, n),
        lambda: dedup.hashed_shingle_table(
            load_table(spark, sf_dir, "documents"), "doc_id", "text", n
        ).persist(),
    )


# Shared split-assignment frame ----------------------------------------------
#
# (doc, split) from the content-hash splitter — the other frame several
# pipeline queries re-derive from raw text (the split poly-hash is a
# full char fold per doc, nearly as expensive as shingling). Production
# stores the split as a column at corpus-write time; the per-session
# memo is the in-process equivalent. Tiny: two narrow columns.


def _shared_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_engineering_project_spark.operators.sampling import with_split

    return memo(
        ("splits", id(spark), sf_dir),
        lambda: with_split(load_table(spark, sf_dir, "documents"), "text")
        .select(F.col("doc_id").alias("doc"), "split")
        .persist(),
    )


# Shared DuckDB CTE fragments ------------------------------------------------

_TOKS_CTE = (
    "toks AS (SELECT doc_id AS doc, "
    "list_filter(string_split_regex(lower(text), '\\s+'), x -> x != '') AS t "
    "FROM documents)"
)

# Character-level polynomial hash of a string s (mirror of
# dedup._char_poly_hash).
_POLY = (
    "list_reduce([0::BIGINT] + list_transform(string_split({s}, ''), "
    f"c -> ascii(c)::BIGINT), (acc, x) -> (acc * {B} + x) % {P})"
)

# Hashed-shingle construction (mirror of dedup.hashed_shingle_table):
# per-token char hash once, then 3-token arithmetic combine per shingle.
_HT_CTE = f"ht AS (SELECT doc, list_transform(t, s -> {_POLY.format(s='s')}) AS ht FROM toks)"
_HV_CTE = (
    "hs AS MATERIALIZED (SELECT doc, list_distinct(list_transform(range(1, len(ht) - 1), "
    f"i -> ((ht[i] * {B} + ht[i+1]) % {P} * {B} + ht[i+2]) % {P})) AS hv "
    "FROM ht WHERE len(ht) >= 3)"
)

JACCARD_THRESHOLD = 0.5
NGRAM_N = 3

# High-DF shingle cut: a shingle appearing in more than `cut` docs is
# dropped from the inverted index BEFORE the bucket self-join (its
# bucket would otherwise grow quadratically, and a near-universal
# shingle carries no dedup signal). The cut SCALES WITH CORPUS SIZE —
# cut = GREATEST(floor, FLOOR(frac · n_docs)), n_docs resolved at run
# time — because a constant tuned on a 500-doc fixture would drop most
# of the vocabulary at sf1+ and silently depress Jaccard scores. The
# floor keeps tiny fixtures uncut; 20% matches the prior fixture-tuned
# constant (100 of 500 docs), so scores are unchanged at sf0.01.
MIN_SHINGLE_DF_CUT = 100
MAX_SHINGLE_DF_FRAC = 0.2


# --- exact dedup ------------------------------------------------------------


@register(
    "q_dedup_exact",
    oracle="""
SELECT MIN(doc_id) AS keeper_id, COUNT(*) AS n_copies
FROM documents
GROUP BY text
ORDER BY keeper_id
""",
    doc="Exact dedup: hash-groupBy on text, keep min id per group",
    tags=("pipeline", "dedup"),
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.exact_duplicates(docs, "text", "doc_id").orderBy("keeper_id")


# --- document fingerprint ---------------------------------------------------


@register(
    "q_doc_fingerprint",
    oracle=f"""
SELECT doc_id, {_POLY.format(s="text")} AS fingerprint
FROM documents
ORDER BY doc_id
""",
    doc="Rolling-hash document fingerprint (content-addressed id for scale dedup)",
    tags=("pipeline", "text"),
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_engineering_project_spark.operators.text_analysis import (
        fingerprint_col,
    )

    docs = spread(load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id", fingerprint_col(F.col("text")).alias("fingerprint")
    ).orderBy("doc_id")


# --- n-gram Jaccard near-dup pairs -------------------------------------------


@register(
    "q_dedup_ngram_jaccard",
    oracle=f"""
WITH {_TOKS_CTE},
{_HT_CTE},
{_HV_CTE},
sizes AS (SELECT doc, len(hv) AS n_sh FROM hs),
inv0 AS (SELECT doc, unnest(hv) AS s FROM hs),
hot AS (SELECT s FROM inv0 GROUP BY s
        HAVING COUNT(*) > GREATEST({MIN_SHINGLE_DF_CUT},
          CAST(FLOOR(CAST({MAX_SHINGLE_DF_FRAC} AS DOUBLE) * (SELECT COUNT(*) FROM hs)) AS BIGINT))),
inv AS (SELECT doc, s FROM inv0 ANTI JOIN hot USING (s)),
pairs AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS inter
  FROM inv a JOIN inv b ON a.s = b.s AND a.doc < b.doc
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       inter / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE) AS jaccard
FROM pairs
JOIN sizes sa ON doc_a = sa.doc
JOIN sizes sb ON doc_b = sb.doc
WHERE inter / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE) >= {JACCARD_THRESHOLD}
ORDER BY doc_a, doc_b
""",
    doc="n-gram Jaccard dedup: shingle inverted index → bucket self-join → verify",
    headline=True,
    tags=("pipeline", "dedup"),
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(
        docs,
        "doc_id",
        "text",
        threshold=JACCARD_THRESHOLD,
        n=NGRAM_N,
        max_bucket_size=MIN_SHINGLE_DF_CUT,
        max_bucket_frac=MAX_SHINGLE_DF_FRAC,
        hashed=_shared_hashed(spark, sf_dir, NGRAM_N),
    ).orderBy("doc_a", "doc_b")


# --- MinHash + LSH near-dup pairs --------------------------------------------


def _minhash_oracle() -> str:
    sig_items = ", ".join(
        f"list_min(list_transform(hv, h -> ({a} * h + {b}) % {P}))"
        for a, b in MINHASH_SEEDS
    )
    band_selects = []
    for band in range(LSH_BANDS):
        combine = " + ".join(
            f"sig[{band * LSH_ROWS + r + 1}] * {B ** r}" for r in range(LSH_ROWS)
        )
        band_selects.append(
            f"SELECT doc, {band} AS band, ({combine}) % {P} AS bucket FROM sig"
        )
    buckets = "\n  UNION ALL ".join(band_selects)
    return f"""
WITH {_TOKS_CTE},
{_HT_CTE},
{_HV_CTE},
sig AS (SELECT doc, [{sig_items}] AS sig FROM hs),
buckets AS (
  {buckets}
),
cands AS (
  SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
  FROM buckets a JOIN buckets b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc < b.doc
)
SELECT doc_a, doc_b,
  len(list_intersect(ha.hv, hb.hv))
    / CAST(len(ha.hv) + len(hb.hv) - len(list_intersect(ha.hv, hb.hv)) AS DOUBLE)
    AS jaccard
FROM cands
JOIN hs ha ON doc_a = ha.doc
JOIN hs hb ON doc_b = hb.doc
WHERE len(list_intersect(ha.hv, hb.hv))
    / CAST(len(ha.hv) + len(hb.hv) - len(list_intersect(ha.hv, hb.hv)) AS DOUBLE)
    >= {JACCARD_THRESHOLD}
ORDER BY doc_a, doc_b
"""


@register(
    "q_dedup_minhash_lsh",
    oracle=_minhash_oracle(),
    doc="MinHash(16) + LSH(4×4 bands) candidates → Jaccard-verified near-dups",
    headline=True,
    tags=("pipeline", "dedup"),
)
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(
        docs,
        "doc_id",
        "text",
        threshold=JACCARD_THRESHOLD,
        n=NGRAM_N,
        hashed=_shared_hashed(spark, sf_dir, NGRAM_N),
    ).orderBy("doc_a", "doc_b")


# --- SimHash buckets ----------------------------------------------------------

_SIMHASH_BITS = 16


def _simhash_oracle() -> str:
    bit_terms = " + ".join(
        "(CASE WHEN COALESCE(list_sum(list_transform(hv, "
        f"h -> CASE WHEN (h // {1 << i}) % 2 = 1 THEN 1 ELSE -1 END)), 0) >= 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i in range(_SIMHASH_BITS)
    )
    return f"""
WITH {_TOKS_CTE},
hs AS (SELECT doc, list_transform(t, s -> {_POLY.format(s="s")}) AS hv FROM toks)
SELECT simhash, MIN(doc) AS keeper_id, COUNT(*) AS n_docs
FROM (SELECT doc, ({bit_terms})::BIGINT AS simhash FROM hs)
GROUP BY simhash
HAVING COUNT(*) > 1
ORDER BY simhash
"""


@register(
    "q_simhash_buckets",
    oracle=_simhash_oracle(),
    doc=f"SimHash({_SIMHASH_BITS}-bit sign-sum) duplicate buckets",
    headline=True,
    tags=("pipeline", "dedup"),
)
def q_simhash_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    with_fp = docs.select(
        F.col("doc_id").alias("doc"),
        dedup.simhash_col(
            dedup.tokens_col(F.col("text")), bits=_SIMHASH_BITS
        ).alias("simhash"),
    )
    return (
        with_fp.groupBy("simhash")
        .agg(F.min("doc").alias("keeper_id"), F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") > 1)
        .orderBy("simhash")
    )


# Wide fingerprint for the near-dup operator: 16 bits has only 65 536
# buckets (at 500 fixture docs it already matched 4 669 of 124 750
# possible pairs — no discrimination at corpus scale); 60 mixed bits
# put random pairs at expected Hamming ≈ 30, so Hamming ≤ 3 selects
# genuine near-dups only.
_NEARDUP_BITS = 60
_NEARDUP_MAX_HAMMING = 3


def _simhash_neardup_oracle() -> str:
    consts = dedup._simhash_mix_consts(_NEARDUP_BITS)
    bit_terms = " + ".join(
        "(CASE WHEN COALESCE(list_sum(list_transform(hv, "
        f"h -> CASE WHEN ((h * {a} + {b}) % {P}) % 2 = 1 THEN 1 ELSE -1 END)), 0) >= 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i, (a, b) in enumerate(consts)
    )
    return f"""
WITH {_TOKS_CTE},
hs AS (SELECT doc, list_transform(t, s -> {_POLY.format(s="s")}) AS hv FROM toks),
sh AS (SELECT doc, ({bit_terms})::BIGINT AS simhash FROM hs)
SELECT a.doc AS doc_a, b.doc AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM sh a JOIN sh b ON a.doc < b.doc
WHERE bit_count(xor(a.simhash, b.simhash)) <= {_NEARDUP_MAX_HAMMING}
ORDER BY doc_a, doc_b
"""


@register(
    "q_simhash_neardups",
    oracle=_simhash_neardup_oracle(),
    doc=f"SimHash({_NEARDUP_BITS}-bit mixed) Hamming-≤{_NEARDUP_MAX_HAMMING} "
    "near-dup pairs via pigeonhole banding (4 disjoint 15-bit bands: a "
    "pair within Hamming ≤ 3 matches ≥ 1 band exactly — linear "
    "|docs|·4 keys, never all-pairs; oracle IS all-pairs). NOTE: on "
    "correlated corpora this unweighted fingerprint's precision "
    "measurably halves across a 10× scale-up (growth-probe rows, "
    "SCALING.md) — prefer q_simhash_weighted_neardups (gated since "
    "r12) or the MinHash-LSH member there",
    tags=("pipeline", "dedup"),
)
def q_simhash_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    return dedup.simhash_neardup_pairs(
        docs,
        "doc_id",
        "text",
        bits=_NEARDUP_BITS,
        max_hamming=_NEARDUP_MAX_HAMMING,
        strategy="bands",
    ).orderBy("doc_a", "doc_b")


_WSIM_SCALE = 16


def _simhash_weighted_oracle() -> str:
    consts = dedup._simhash_mix_consts(_NEARDUP_BITS)
    ths = dedup.idf_ladder_thresholds(_WSIM_SCALE)
    th_arr = "[" + ", ".join(repr(t) for t in ths) + "]"
    sums = ",\n    ".join(
        f"SUM(CASE WHEN ((h * {a} + {b}) % {P}) % 2 = 1 "
        f"THEN w ELSE -w END) AS c{i}"
        for i, (a, b) in enumerate(consts)
    )
    fp_terms = " + ".join(
        f"(CASE WHEN c{i} >= 0 THEN {1 << i} ELSE 0 END)"
        for i in range(_NEARDUP_BITS)
    )
    return f"""
WITH {_TOKS_CTE},
occ AS (SELECT doc, unnest(t) AS tok FROM toks),
nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
dfq AS (SELECT tok, CAST(COUNT(DISTINCT doc) AS BIGINT) AS df
        FROM occ GROUP BY tok),
wt AS (SELECT tok,
  CAST(len(list_filter({th_arr},
       x -> x <= CAST(n AS DOUBLE) / CAST(df AS DOUBLE))) AS BIGINT) AS w
  FROM dfq, nd),
sv AS (SELECT occ.doc, {_POLY.format(s="tok")} AS h, wt.w
       FROM occ JOIN wt USING (tok)),
agg AS (SELECT doc, {sums} FROM sv GROUP BY doc),
sh AS (SELECT doc, ({fp_terms})::BIGINT AS simhash FROM agg)
SELECT a.doc AS doc_a, b.doc AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM sh a JOIN sh b ON a.doc < b.doc
WHERE bit_count(xor(a.simhash, b.simhash)) <= {_NEARDUP_MAX_HAMMING}
ORDER BY doc_a, doc_b
"""


@register(
    "q_simhash_weighted_neardups",
    oracle=_simhash_weighted_oracle(),
    doc=f"IDF-WEIGHTED SimHash({_NEARDUP_BITS}-bit) Hamming-≤"
    f"{_NEARDUP_MAX_HAMMING} near-dup pairs — the fingerprint the r11 "
    "growth probe measured HOLDING precision ~flat across a 10× "
    "scale-up on correlated corpora where the unweighted votes halve "
    "(ubiquitous tokens dominate every doc's bits → hot band "
    "buckets), now under its own exact gate (r11 verdict task 6): "
    "each occurrence votes floor(16·log2(n/df)) computed WITHOUT a "
    "transcendental — a count of comparisons against Python-literal "
    "2^(j/16) thresholds shared verbatim with the oracle, since a "
    "×16 log2 ladder sits exactly on integer boundaries where a "
    "1-ulp engine divergence flips the floor. Same pigeonhole bands "
    "+ popcount verify as q_simhash_neardups (single-sourced via the "
    "fingerprints seam); oracle IS all-pairs over the replayed "
    "weighted fingerprint "
    "(operators/dedup.py:simhash_weighted_fingerprints)",
    tags=("pipeline", "dedup"),
)
def q_simhash_weighted_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    fp = dedup.simhash_weighted_fingerprints(
        docs, "doc_id", "text", bits=_NEARDUP_BITS, idf_scale=_WSIM_SCALE
    )
    return dedup.simhash_neardup_pairs(
        docs,
        "doc_id",
        "text",
        bits=_NEARDUP_BITS,
        max_hamming=_NEARDUP_MAX_HAMMING,
        strategy="bands",
        fingerprints=fp,
    ).orderBy("doc_a", "doc_b")


# --- edit-distance verified near-dups -----------------------------------------

# Levenshtein threshold separating true near-dups from bucket noise on
# the fixture: candidate pairs split 15 at dist ≤ 10, none in (10, 50],
# background starts at 51 — τ=50 sits in the empty gap.
_EDITDIST_TAU = 50


def _editdist_oracle() -> str:
    bit_terms = " + ".join(
        "(CASE WHEN COALESCE(list_sum(list_transform(hv, "
        f"h -> CASE WHEN (h // {1 << i}) % 2 = 1 THEN 1 ELSE -1 END)), 0) >= 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i in range(_SIMHASH_BITS)
    )
    return f"""
WITH {_TOKS_CTE},
hs AS (SELECT doc, list_transform(t, s -> {_POLY.format(s="s")}) AS hv FROM toks),
fp AS (SELECT doc, ({bit_terms})::BIGINT AS simhash FROM hs),
pairs AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b
  FROM fp a JOIN fp b ON a.simhash = b.simhash AND a.doc < b.doc
)
SELECT doc_a, doc_b, CAST(levenshtein(da.text, db.text) AS BIGINT) AS dist
FROM pairs
JOIN documents da ON da.doc_id = doc_a
JOIN documents db ON db.doc_id = doc_b
WHERE abs(length(da.text) - length(db.text)) <= {_EDITDIST_TAU}
  AND levenshtein(da.text, db.text) <= {_EDITDIST_TAU}
ORDER BY doc_a, doc_b
"""


@register(
    "q_editdist_neardups",
    oracle=_editdist_oracle(),
    doc=f"Candidate-verify with a string metric: simhash-bucket pairs "
    f"confirmed by levenshtein ≤ {_EDITDIST_TAU}. Length-difference "
    "prefilter (|len_a−len_b| ≤ τ implies nothing is lost: the length "
    "gap lower-bounds edit distance) skips the O(n·m) DP for most "
    "candidates; Spark additionally passes the threshold to "
    "levenshtein for the banded early-exit DP",
    tags=("pipeline", "dedup"),
)
def q_editdist_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    fp = docs.select(
        F.col("doc_id").alias("doc"),
        F.col("text"),
        F.length("text").alias("len"),
        dedup.simhash_col(
            dedup.tokens_col(F.col("text")), bits=_SIMHASH_BITS
        ).alias("simhash"),
    )
    a, b = fp.alias("a"), fp.alias("b")
    # threshold-bounded levenshtein: returns -1 above τ (banded DP,
    # O(τ·n) instead of O(n·m)); the ≥ 0 filter therefore encodes ≤ τ
    dist = F.levenshtein(F.col("a.text"), F.col("b.text"), _EDITDIST_TAU)
    return (
        a.join(
            b,
            (F.col("a.simhash") == F.col("b.simhash"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .filter(
            F.abs(F.col("a.len") - F.col("b.len")) <= _EDITDIST_TAU
        )
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            dist.cast("long").alias("dist"),
        )
        .filter(F.col("dist") >= 0)
        .orderBy("doc_a", "doc_b")
    )


# --- embedding similarity ------------------------------------------------------

_DIMS = 64


def _fold_dot(a: str, b: str) -> str:
    """DuckDB sequential-fold dot product (mirror of similarity.dot_col)."""
    return (
        f"list_reduce([CAST(0.0 AS DOUBLE)] + "
        f"list_transform(range(1, {_DIMS + 1}), i -> {a}[i] * {b}[i]), "
        "(acc, x) -> acc + x)"
    )


_COS = f"{_fold_dot('e', 'qe')} / (sqrt({_fold_dot('e', 'e')}) * sqrt({_fold_dot('qe', 'qe')}))"


@register(
    "q_embedding_topk",
    oracle=f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
d AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings WHERE vec_id != 0)
SELECT vec_id, {_COS} AS cosine
FROM d, q
ORDER BY cosine DESC, vec_id ASC
LIMIT 10
""",
    doc="Brute-force cosine top-k ANN baseline (broadcast query, TakeOrdered)",
    headline=True,
    tags=("pipeline", "similarity"),
)
def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0).select("embedding")
    return similarity.brute_force_topk(
        emb.filter(F.col("vec_id") != 0), query, k=10
    )


def _pid_scoped_index_path(prefix: str, sf_dir: str) -> str:
    """Per-process /tmp index location for a fixture-built ANN index:
    two concurrent sessions (sweep + pytest) racing one shared path
    would read each other's half-written builds, so each process owns
    `<stem>_<pid>`. Siblings left by DEAD processes are reaped so
    repeated sweeps/benches can't accumulate stale index copies in
    /tmp. (POSIX calls are fine HERE — this is the fixture-temp-dir
    layer, not the index plumbing, which goes through the Hadoop FS
    seam in operators/similarity.py.)"""
    import glob
    import hashlib
    import os
    import shutil
    import tempfile

    stem = os.path.join(
        tempfile.gettempdir(),
        prefix + hashlib.md5(sf_dir.encode()).hexdigest()[:12],
    )
    for old in glob.glob(stem + "_*"):
        try:
            pid = int(old.rsplit("_", 1)[1])
        except ValueError:
            continue
        try:
            os.kill(pid, 0)  # 0-signal probe: raises if pid is gone
        except ProcessLookupError:
            shutil.rmtree(old, ignore_errors=True)
        except PermissionError:
            pass  # pid alive under another user: leave its index
    return f"{stem}_{os.getpid()}"


def _ivf_fixture_index(spark: SparkSession, sf_dir: str) -> str:
    """Build+append-if-absent the pid-scoped float-IVF fixture index
    (the q_embedding_ivf_batch_topk marker discipline): the day-0
    build and day-1 append are deterministic per sf_dir and the path
    is pid-scoped, so bench reps and every query sharing the index
    time the SERVE — the production steady state, where the index
    already exists and only queries run — instead of re-paying the
    one-off build every rep. Centroids are the deterministic offline
    quantizer stand-in (the 8 lowest-id day-0 vectors — SQL-derivable
    donors; the kmeans fit is the pytest path)."""
    import os

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter((F.col("vec_id") != 1) & (F.col("vec_id") % 10 != 0))
    day1 = emb.filter((F.col("vec_id") != 1) & (F.col("vec_id") % 10 == 0))
    index_path = _pid_scoped_index_path("bde_ivf_", sf_dir)
    marker = os.path.join(index_path, "_built")
    if not os.path.exists(marker):
        cents = _donor_centroids(corpus, 8)
        similarity.build_ivf_index(corpus, index_path, cents)
        similarity.ivf_index_append(day1, index_path)
        open(marker, "w").close()
    return index_path


@register(
    "q_embedding_ivf_incremental",
    oracle=f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 1),
d AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings WHERE vec_id != 1)
SELECT vec_id, {_COS} AS cosine
FROM d, q
ORDER BY cosine DESC, vec_id ASC
LIMIT 12
""",
    doc="PERSISTED incremental IVF index, served end-to-end (r9 "
    "verdict task 4): day-0 builds the index on disk — frozen "
    "centroids + the corpus partitioned BY CELL — day-1 APPENDS only "
    "the new vectors' cells (the corpus is never re-read or "
    "re-clustered; the ANN analog of the persisted R-S shingle "
    "index), and the query reads the index back from parquet. "
    "Probe-all here makes the top-k EXACT (probe-all over the index "
    "≡ brute force bit-for-bit — the fold cosine is engine-stable), "
    "so the oracle is the full-corpus scan; the n_probe < n_cells "
    "recall trade and the partition-pruned probe I/O are pinned by "
    "tests/test_operators.py::test_ivf_index_persist_append_probe "
    "(operators/similarity.py:build_ivf_index). Headline: the "
    "pid-scoped index is built+appended once and reused across bench "
    "reps (build-if-absent marker), so the timed path is the SERVE — "
    "the production steady state (r10 verdict task 9)",
    headline=True,
    tags=("pipeline", "similarity"),
    invariants=(
        "tests/test_operators.py::test_ivf_index_persist_append_probe",
    ),
)
def q_embedding_ivf_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 1).select("embedding")
    index_path = _ivf_fixture_index(spark, sf_dir)
    return similarity.ivf_index_topk(
        spark, index_path, query, k=12, n_probe=8
    )


def _ivfdel_fixture_index(spark: SparkSession, sf_dir: str) -> str:
    """Pid-scoped IVF fixture with LIVE DELETE TOMBSTONES: the
    q_embedding_ivf_incremental build+append, then vector_index_delete
    of every vec_id % 17 == 0 (a deterministic, SQL-derivable takedown
    set). Separate stem from the shared fixture — deletes mutate serve
    results, so this index is not shared with the non-delete queries.
    Build-if-absent marker: bench reps time the tombstone-filtered
    SERVE, the steady state of an index between vacuums."""
    import os

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter((F.col("vec_id") != 1) & (F.col("vec_id") % 10 != 0))
    day1 = emb.filter((F.col("vec_id") != 1) & (F.col("vec_id") % 10 == 0))
    index_path = _pid_scoped_index_path("bde_ivfdel_", sf_dir)
    marker = os.path.join(index_path, "_built")
    if not os.path.exists(marker):
        cents = _donor_centroids(corpus, 8)
        similarity.build_ivf_index(corpus, index_path, cents)
        similarity.ivf_index_append(day1, index_path)
        similarity.vector_index_delete(
            spark,
            index_path,
            emb.filter(F.col("vec_id") % 17 == 0).select("vec_id"),
        )
        open(marker, "w").close()
    return index_path


@register(
    "q_embedding_ivf_delete_serve",
    oracle=f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 1),
d AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
      WHERE vec_id != 1 AND vec_id % 17 != 0)
SELECT vec_id, {_COS} AS cosine
FROM d, q
ORDER BY cosine DESC, vec_id ASC
LIMIT 12
""",
    doc="DELETE-aware ANN serving — the lifecycle step the build → "
    "append → merge → compact matrix lacked (takedown / right-to-be-"
    "forgotten at index scale): vector_index_delete writes a "
    "TOMBSTONE batch (O(deleted ids) — the corpus is never rewritten "
    "synchronously, the LSM/Delta delete discipline), every serve "
    "anti-joins the broadcast delete-sized id set, and the periodic "
    "vector_index_vacuum applies tombstones physically during a "
    "compaction rewrite before clearing them (pytest pins the whole "
    "lifecycle incl. crash-window idempotence, the merge-resurrection "
    "refusal, and refit-as-vacuum). Here: the day-0+day-1 index with "
    "vec_id % 17 == 0 tombstoned, served probe-all — EXACT oracle "
    "from birth (brute force over the surviving corpus) "
    "(operators/similarity.py:vector_index_delete)",
    tags=("pipeline", "similarity", "governance"),
    invariants=(
        "tests/test_operators.py::test_vector_index_delete_serve_all_shapes",
        "tests/test_operators.py::test_vector_index_vacuum_merge_refit_interactions",
    ),
)
def q_embedding_ivf_delete_serve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 1).select("embedding")
    index_path = _ivfdel_fixture_index(spark, sf_dir)
    return similarity.ivf_index_topk(
        spark, index_path, query, k=12, n_probe=8
    )


def _ivf_health_oracle() -> str:
    """Replay of ivf_index_cell_stats over the fixture IVF index:
    cell = argmax fold-cosine against the donor centroids (the 8
    lowest-id day-0 vectors; ties → lowest cell = array_position-
    first), per-cell counts over the WHOLE indexed set (day-0 + the
    day-1 append — the index assigns appends with the same frozen
    centroids), empty cells kept as zero rows, integer share_ppm,
    imbalance = k·Σc²/n/n left-assoc."""

    def fold_cos(a: str, b: str) -> str:
        return (
            f"{_fold_dot(a, b)} / (sqrt({_fold_dot(a, a)})"
            f" * sqrt({_fold_dot(b, b)}))"
        )

    return f"""
WITH cents AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) AS cell,
         embedding::DOUBLE[] AS ce
  FROM (SELECT vec_id, embedding FROM embeddings
        WHERE vec_id != 1 AND vec_id % 10 != 0
        ORDER BY vec_id LIMIT 8)
),
d AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
      WHERE vec_id != 1),
assign AS (
  SELECT vec_id, cell FROM (
    SELECT d.vec_id, c.cell,
           row_number() OVER (
             PARTITION BY d.vec_id
             ORDER BY {fold_cos('d.e', 'c.ce')} DESC, c.cell ASC) AS rn
    FROM d, cents c)
  WHERE rn = 1
),
per AS (SELECT cell, COUNT(*) AS n_vecs FROM assign GROUP BY cell),
allc AS (
  SELECT c.cell, CAST(COALESCE(p.n_vecs, 0) AS BIGINT) AS n_vecs
  FROM cents c LEFT JOIN per p ON c.cell = p.cell
),
tot AS (
  SELECT CAST(SUM(n_vecs) AS BIGINT) AS total,
         CAST(SUM(n_vecs * n_vecs) AS BIGINT) AS ss,
         CAST(COUNT(*) AS BIGINT) AS k
  FROM allc
)
SELECT a.cell, a.n_vecs,
       a.n_vecs * 1000000 // t.total AS share_ppm,
       t.total AS total_vecs,
       CAST(t.k * t.ss AS DOUBLE) / t.total / t.total AS imbalance
FROM allc a, tot t
ORDER BY a.cell
"""


@register(
    "q_ann_index_health",
    oracle=_ivf_health_oracle(),
    doc="ANN index health report over the persisted fixture IVF "
    "index: per-cell occupancy (EMPTY cells kept — the signal a scan "
    "of the code table alone hides), integer share_ppm, and the "
    "FAISS imbalance_factor k·Σc²/n² (1.0 = balanced; probe latency "
    "and listing cost scale with the largest cells, so this is the "
    "refit-the-quantizer alarm). The scan reads only the partition "
    "column — never vectors. Exact oracle replays the donor-centroid "
    "assignment over day-0 + day-1 (operators/similarity.py:"
    "ivf_index_cell_stats)",
    tags=("pipeline", "similarity", "governance"),
)
def q_ann_index_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    index_path = _ivf_fixture_index(spark, sf_dir)
    return similarity.ivf_index_cell_stats(spark, index_path)


_MRL_PREFIX = 16
_MRL_K = 10
_MRL_MULT = 4
_MRL_QID = 3


def _matryoshka_oracle(
    qid: int = _MRL_QID, corpus_where: str | None = None
) -> str:
    def fold_dot_n(a: str, b: str, n: int) -> str:
        return (
            f"list_reduce([CAST(0.0 AS DOUBLE)] + "
            f"list_transform(range(1, {n + 1}), i -> {a}[i] * {b}[i]), "
            "(acc, x) -> acc + x)"
        )

    def fold_cos_n(a: str, b: str, n: int) -> str:
        return (
            f"{fold_dot_n(a, b, n)} / (sqrt({fold_dot_n(a, a, n)})"
            f" * sqrt({fold_dot_n(b, b, n)}))"
        )

    p = _MRL_PREFIX
    where = corpus_where or f"vec_id != {qid}"
    return f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings
           WHERE vec_id = {qid}),
d AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
      WHERE {where}),
short AS (
  SELECT vec_id, {fold_cos_n('d.e', 'q.qe', p)} AS prefix_cosine
  FROM d, q
  ORDER BY prefix_cosine DESC, vec_id ASC
  LIMIT {_MRL_MULT * _MRL_K}
)
SELECT s.vec_id, s.prefix_cosine,
       {fold_cos_n('d.e', 'q.qe', _DIMS)} AS cosine
FROM short s JOIN d ON d.vec_id = s.vec_id, q
ORDER BY cosine DESC, s.vec_id ASC
LIMIT {_MRL_K}
"""


@register(
    "q_embedding_matryoshka_topk",
    oracle=_matryoshka_oracle(),
    doc="Coarse-to-fine matryoshka (MRL) ANN: rank by cosine over the "
    f"FIRST {_MRL_PREFIX} of {_DIMS} dims (at scale a materialized "
    "prefix column — 1/4 of the vector bytes), keep a 4k shortlist, "
    "exact full-dim rescore of ONLY those ids (broadcast id list "
    "above the plain vector scan — the refine join shape). The "
    "dimension-wise sibling of the IVF-PQ refine step; deterministic "
    "both stages → exact oracle from birth "
    "(operators/similarity.py:matryoshka_topk)",
    tags=("pipeline", "similarity"),
    invariants=(
        "tests/test_operators.py::test_matryoshka_topk_recall_and_shortlist_bound",
    ),
)
def q_embedding_matryoshka_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == _MRL_QID).select("embedding")
    return similarity.matryoshka_topk(
        emb.filter(F.col("vec_id") != _MRL_QID),
        query,
        k=_MRL_K,
        prefix_dims=_MRL_PREFIX,
        shortlist_mult=_MRL_MULT,
    )


@register(
    "q_embedding_matryoshka_index_topk",
    oracle=_matryoshka_oracle(qid=1, corpus_where="vec_id != 1"),
    doc="Matryoshka coarse-to-fine ANN served from the PERSISTED "
    f"index with a MATERIALIZED prefix table (r13 verdict gap #2 — "
    "the narrow scan the row-local matryoshka_topk only documented): "
    f"stage 1 ranks by cosine over `prefix{_MRL_PREFIX}/` — "
    f"{_MRL_PREFIX}/{_DIMS} of the corpus BYTES ON DISK, not a "
    "row-local slice of a full-width read — stage 2 broadcasts the "
    "4k-id shortlist against `vectors/` for the exact full-dim "
    "rescore (the refine join shape). The prefix table materializes "
    "INCREMENTALLY per batch directory (day-0 build + day-1 append "
    "here — the same pid-scoped fixture index every persisted-ANN "
    "query shares, so bench times the steady-state SERVE), and a "
    "serve against a just-appended index materializes only the "
    "missing batch instead of silently dropping its rows. Exact "
    "oracle from birth: both stages deterministic, corpus = the "
    "indexed day-0 ∪ day-1 set "
    "(operators/similarity.py:matryoshka_index_topk)",
    tags=("pipeline", "similarity"),
    invariants=(
        "tests/test_operators.py::test_matryoshka_index_matches_rowlocal_and_appends",
    ),
)
def q_embedding_matryoshka_index_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 1).select("embedding")
    index_path = _ivf_fixture_index(spark, sf_dir)
    return similarity.matryoshka_index_topk(
        spark,
        index_path,
        query,
        k=_MRL_K,
        prefix_dims=_MRL_PREFIX,
        shortlist_mult=_MRL_MULT,
    )


_BIN_QID = 2
_BIN_K = 10
_BIN_MULT = 8


def _binary_oracle() -> str:
    def pack(e: str, lo: int, hi: int) -> str:
        return (
            f"list_reduce([CAST(0 AS BIGINT)] + "
            f"list_transform(range({lo}, {hi + 1}), "
            f"i -> CASE WHEN {e}[i] > 0.0 THEN CAST(1 AS BIGINT) "
            f"ELSE CAST(0 AS BIGINT) END), (acc, x) -> acc * 2 + x)"
        )

    h = _DIMS // 2
    cos = (
        f"{_fold_dot('d.e', 'q.qe')} / (sqrt({_fold_dot('d.e', 'd.e')})"
        f" * sqrt({_fold_dot('q.qe', 'q.qe')}))"
    )
    return f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qe,
                  {pack('(embedding::DOUBLE[])', 1, h)} AS qb1,
                  {pack('(embedding::DOUBLE[])', h + 1, _DIMS)} AS qb2
           FROM embeddings WHERE vec_id = {_BIN_QID}),
d AS (SELECT vec_id, embedding::DOUBLE[] AS e,
             {pack('(embedding::DOUBLE[])', 1, h)} AS b1,
             {pack('(embedding::DOUBLE[])', h + 1, _DIMS)} AS b2
      FROM embeddings WHERE vec_id != {_BIN_QID}),
short AS (
  SELECT d.vec_id,
         bit_count(xor(d.b1, q.qb1)) + bit_count(xor(d.b2, q.qb2))
           AS hamming
  FROM d, q
  ORDER BY hamming ASC, vec_id ASC
  LIMIT {_BIN_MULT * _BIN_K}
)
SELECT s.vec_id, s.hamming, {cos} AS cosine
FROM short s JOIN d ON d.vec_id = s.vec_id, q
ORDER BY cosine DESC, s.vec_id ASC
LIMIT {_BIN_K}
"""


@register(
    "q_embedding_binary_topk",
    oracle=_binary_oracle(),
    doc="BINARY-quantized ANN (FAISS IndexBinaryFlat analog) — the "
    "1-bit member completing the compression matrix between int8 and "
    "PQ: sign-bit signatures packed into two BIGINT halves (16 bytes "
    f"per {_DIMS}-dim vector, a 32× byte cut — at 100 TB the "
    "stage-1 scan reads 3 % of the corpus), Hamming ranking via two "
    "xor + bit_count integer ops in whole-stage codegen (no float "
    "math touches the wide scan), an 8k over-fetch (Hamming is "
    "coarse — 65 distinct values), then exact full-cosine rescore of "
    "only the shortlist (the refine join shape). Sign quantization + "
    "integer Hamming + total-order ties are deterministic end to end "
    "→ exact oracle from birth "
    "(operators/similarity.py:binary_hamming_topk)",
    tags=("pipeline", "similarity"),
    invariants=(
        "tests/test_operators.py::test_binary_hamming_topk_recall_and_exactness",
    ),
)
def q_embedding_binary_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == _BIN_QID).select("embedding")
    return similarity.binary_hamming_topk(
        emb.filter(F.col("vec_id") != _BIN_QID),
        query,
        k=_BIN_K,
        dims=_DIMS,
        shortlist_mult=_BIN_MULT,
    )


def _fold_cos_n_sql(a: str, b: str, n: int) -> str:
    """Prefix cosine over the first n components — DuckDB mirror of
    cosine_col over F.slice (left-assoc fold, same as _COS)."""

    def dot(x: str, y: str) -> str:
        return (
            f"list_reduce([CAST(0.0 AS DOUBLE)] + "
            f"list_transform(range(1, {n + 1}), i -> {x}[i] * {y}[i]), "
            "(acc, v) -> acc + v)"
        )

    return f"{dot(a, b)} / (sqrt({dot(a, a)}) * sqrt({dot(b, b)}))"


@register(
    "q_embedding_matryoshka_batch_topk",
    oracle=f"""
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
           FROM embeddings WHERE vec_id IN (1, 2, 3)),
d AS (SELECT vec_id, embedding::DOUBLE[] AS e
      FROM embeddings WHERE vec_id NOT IN (1, 2, 3)),
sc AS (SELECT query_id, vec_id,
              {_fold_cos_n_sql('d.e', 'q.qe', _MRL_PREFIX)} AS prefix_cosine,
              {_fold_cos_n_sql('d.e', 'q.qe', _DIMS)} AS cosine
       FROM d, q),
short AS (SELECT * FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY prefix_cosine DESC, vec_id ASC) AS pk FROM sc)
  WHERE pk <= {_MRL_MULT * _MRL_K})
SELECT query_id, vec_id, prefix_cosine, cosine FROM (
  SELECT query_id, vec_id, prefix_cosine, cosine,
         row_number() OVER (PARTITION BY query_id
         ORDER BY cosine DESC, vec_id ASC) AS rk
  FROM short)
WHERE rk <= {_MRL_K}
ORDER BY query_id, cosine DESC, vec_id ASC
""",
    doc="BATCHED matryoshka serving through the materialized prefix "
    "table — the many-queries-one-plan completion the IVF-PQ family "
    "got with its batch-refined serve: three query vectors "
    "broadcast-crossJoin the NARROW prefix scan (read ONCE for the "
    "whole batch), per-query 4k shortlist via WindowGroupLimit, then "
    "ONE broadcast rescore pass of the Q·k′ shortlist against "
    "vectors/ — never per-query corpus reads. Shares the pid-scoped "
    "bde_ivfb_ fixture index with q_embedding_ivf_batch_topk (bench "
    "times the steady-state serve). Exact oracle from birth: "
    "per-query prefix shortlist + full-dim rescore replayed in SQL "
    "(operators/similarity.py:matryoshka_index_topk_batch)",
    tags=("pipeline", "similarity"),
    invariants=(
        "tests/test_operators.py::test_matryoshka_batch_matches_per_query",
    ),
)
def q_embedding_matryoshka_batch_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import os

    emb = load_table(spark, sf_dir, "embeddings")
    qids = [1, 2, 3]
    corpus = emb.filter(~F.col("vec_id").isin(qids))
    queries = emb.filter(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    index_path = _pid_scoped_index_path("bde_ivfb_", sf_dir)
    marker = os.path.join(index_path, "_built")
    if not os.path.exists(marker):
        cents = _donor_centroids(corpus, 8)
        similarity.build_ivf_index(corpus, index_path, cents)
        open(marker, "w").close()
    return similarity.matryoshka_index_topk_batch(
        spark,
        index_path,
        queries,
        k=_MRL_K,
        prefix_dims=_MRL_PREFIX,
        shortlist_mult=_MRL_MULT,
    ).orderBy("query_id", F.desc("cosine"), "vec_id")


_IVF_BATCH_K = 8


@register(
    "q_embedding_ivf_batch_topk",
    oracle=f"""
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
           FROM embeddings WHERE vec_id IN (1, 2, 3)),
d AS (SELECT vec_id, embedding::DOUBLE[] AS e
      FROM embeddings WHERE vec_id NOT IN (1, 2, 3)),
scored AS (SELECT query_id, vec_id, {_COS} AS cosine FROM d, q)
SELECT query_id, vec_id, cosine FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, vec_id ASC) AS rk
  FROM scored
) WHERE rk <= {_IVF_BATCH_K}
ORDER BY query_id, cosine DESC, vec_id ASC
""",
    doc="BATCHED IVF index serving (r10 verdict task 8 — the "
    "retrieval shape at scale: thousands of queries per batch, one "
    "plan): three query vectors rank the persisted index's frozen "
    "centroids per query IN CATALYST (broadcast centroid crossJoin + "
    "keyed row_number — no per-query driver round-trip), the vector "
    "scan joins the broadcast probe pairs on the PARTITION column "
    "(dynamic partition pruning, the multi-query analog of the "
    "single-query literal isin), and per-query top-k is a keyed "
    "WindowGroupLimit. Probe-all makes every per-query top-k EXACT — "
    "the oracle is per-query brute force over the corpus; the "
    "n_probe < n_cells recall trade and the DPP plan shape are "
    "pytest-pinned. Headline: the pid-scoped index is built once and "
    "reused across bench reps (build-if-absent marker), so the timed "
    "path is the SERVE, not the build "
    "(operators/similarity.py:ivf_index_topk_batch)",
    headline=True,
    tags=("pipeline", "similarity"),
    invariants=(
        "tests/test_operators.py::test_ivf_index_topk_batch_dpp_and_recall",
    ),
)
def q_embedding_ivf_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    emb = load_table(spark, sf_dir, "embeddings")
    qids = [1, 2, 3]
    corpus = emb.filter(~F.col("vec_id").isin(qids))
    queries = emb.filter(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    n_cells = 8
    index_path = _pid_scoped_index_path("bde_ivfb_", sf_dir)
    marker = os.path.join(index_path, "_built")
    # build-if-absent: index content is deterministic per sf_dir and
    # the path is pid-scoped, so repeated calls (bench reps, sweep +
    # gate in one process) reuse one build instead of rebuilding
    if not os.path.exists(marker):
        cents = _donor_centroids(corpus, n_cells)
        similarity.build_ivf_index(corpus, index_path, cents)
        open(marker, "w").close()
    return similarity.ivf_index_topk_batch(
        spark, index_path, queries, k=_IVF_BATCH_K, n_probe=n_cells
    ).orderBy("query_id", F.desc("cosine"), "vec_id")


# τ sits below the fixture's max within-block cosine (≈0.475 at
# sf0.01) so the oracle compares real pairs (26 at sf0.01) — a τ above
# the max would hash-match an empty result, proving nothing.
_NEARDUP_TAU = 0.35


@register(
    "q_embedding_neardup_pairs",
    oracle=f"""
WITH v AS (SELECT label, vec_id, embedding::DOUBLE[] AS emb FROM embeddings)
SELECT a.label AS block, a.vec_id AS id_a, b.vec_id AS id_b,
  {_fold_dot('a.emb', 'b.emb')}
    / (sqrt({_fold_dot('a.emb', 'a.emb')}) * sqrt({_fold_dot('b.emb', 'b.emb')})) AS cosine
FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE {_fold_dot('a.emb', 'b.emb')}
    / (sqrt({_fold_dot('a.emb', 'a.emb')}) * sqrt({_fold_dot('b.emb', 'b.emb')})) >= {_NEARDUP_TAU}
ORDER BY id_a, id_b
""",
    doc="Embedding near-dup pairs inside label blocks (bounded quadratic)",
    tags=("pipeline", "similarity"),
)
def q_embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        similarity.blocked_neardup_pairs(emb, "label", _NEARDUP_TAU)
        .orderBy("id_a", "id_b")
    )


# --- Cosine-LSH near-dup (unsupervised scale path) ---------------------------
#
# The blocked query above needs a GIVEN blocking key; this is the
# unsupervised twin: banded random-hyperplane signatures generate
# candidates, an all-BIGINT quantized-cosine test verifies them — so
# the output is deterministic and the oracle replays the IDENTICAL
# semantics (same inlined ±1 sign matrix, same floor-quantization,
# same integer τ compare). τ = 3/10 sits under the fixture's pair-
# cosine ceiling (~0.51) so the gate compares real pairs (179 at
# sf0.01), and the 0.1 bucket cap is live on both sides.
_LSH_ND_TAU = (3, 10)
_LSH_ND_SCALE = 1000
_LSH_ND_BITS = 24
_LSH_ND_BAND_BITS = 6


def _lsh_nd_oracle() -> str:
    signs = similarity.neardup_sign_matrix(64, _LSH_ND_BITS)
    rows = ", ".join(
        f"({i + 1},{j},{signs[i][j]})"
        for i in range(64)
        for j in range(_LSH_ND_BITS)
    )
    bb = _LSH_ND_BAND_BITS
    tn, td = _LSH_ND_TAU
    return f"""
WITH q AS MATERIALIZED (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(FLOOR(CAST(x AS DOUBLE) * {_LSH_ND_SCALE}) AS BIGINT)) AS qv
  FROM embeddings
),
norms AS MATERIALIZED (
  SELECT vec_id, CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS nrm
  FROM q
),
sgn(i, j, s) AS (VALUES {rows}),
comp AS MATERIALIZED (
  SELECT vec_id, t.i AS i, qv[t.i] AS v FROM q, range(1, 65) AS t(i)
),
proj AS (
  SELECT c.vec_id, sgn.j, SUM(c.v * sgn.s) AS p
  FROM comp c JOIN sgn ON sgn.i = c.i
  GROUP BY c.vec_id, sgn.j
),
bands AS MATERIALIZED (
  SELECT vec_id, j // {bb} AS band,
         SUM(CASE WHEN p >= 0 THEN 1 << (j % {bb}) ELSE 0 END) AS bkey
  FROM proj GROUP BY vec_id, j // {bb}
),
allowed AS (
  SELECT band, bkey FROM bands GROUP BY band, bkey
  HAVING COUNT(*) <= CEIL(CAST(0.1 AS DOUBLE) * (SELECT COUNT(*) FROM q))
),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM bands a
  JOIN allowed k ON k.band = a.band AND k.bkey = a.bkey
  JOIN bands b ON a.band = b.band AND a.bkey = b.bkey AND a.vec_id < b.vec_id
),
verified AS (
  SELECT c.id_a, c.id_b,
    CAST(list_sum(list_transform(range(1, 65), i -> qa.qv[i] * qb.qv[i]))
         AS BIGINT) AS dot_q,
    na.nrm AS norm_a, nb2.nrm AS norm_b
  FROM cand c
  JOIN q qa ON qa.vec_id = c.id_a JOIN q qb ON qb.vec_id = c.id_b
  JOIN norms na ON na.vec_id = c.id_a JOIN norms nb2 ON nb2.vec_id = c.id_b
)
SELECT id_a, id_b, dot_q,
  CAST(dot_q AS DOUBLE) / sqrt(CAST(norm_a AS DOUBLE) * CAST(norm_b AS DOUBLE))
    AS cosine
FROM verified
WHERE dot_q > 0 AND {td * td} * dot_q * dot_q >= {tn * tn} * norm_a * norm_b
ORDER BY id_a, id_b
"""


@register(
    "q_embedding_lsh_neardups",
    oracle=_lsh_nd_oracle(),
    doc=(
        "Unsupervised embedding near-dup pairs: banded random-hyperplane "
        "LSH candidates + exact integer cosine verify (deterministic, "
        "oracle replays identical semantics)"
    ),
    headline=True,
    tags=("pipeline", "similarity", "dedup"),
)
def q_embedding_lsh_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    tn, td = _LSH_ND_TAU
    return similarity.cosine_lsh_neardups(
        emb,
        tn,
        td,
        scale=_LSH_ND_SCALE,
        n_bits=_LSH_ND_BITS,
        band_bits=_LSH_ND_BAND_BITS,
    ).orderBy("id_a", "id_b")


# Centroid quantization scale. Cross-engine exactness requires an
# order-independent, tie-free reduction: casting each element to
# DECIMAL rounds HALF_UP in Spark but HALF_EVEN in DuckDB (the r4
# judge-verified failure: label 549 diverged at 1e-13), so instead each
# element is quantized with floor(val * 1e7) — floor of a double is
# bit-identical in every IEEE engine (no tie policy exists) — and the
# per-(label, dim) reduction is an exact BIGINT sum. The final mean
# mirrors operand order on both sides: (double(sum) / 1e7) / n.
# Scale 1e7 ≈ float32's own relative precision near 1.0; headroom:
# |val| ≤ ~10 ⇒ |q| ≤ 1e8, so BIGINT sums are exact up to ~9e10 rows
# per (label, dim) group — comfortably 100 TB territory.
_CENT_SCALE = 10_000_000.0


@register(
    "q_embedding_centroids",
    oracle=f"""
SELECT label, i - 1 AS dim, COUNT(*) AS n,
       (CAST(SUM(CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * {_CENT_SCALE!r})
                      AS BIGINT)) AS DOUBLE)
        / {_CENT_SCALE!r}) / COUNT(*) AS centroid
FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
GROUP BY 1, 2 ORDER BY label, dim
""",
    doc="Per-label centroid components: posexplode the vector column, "
    "floor-quantized integer-exact per-(label, dim) mean — the "
    "distributed form of class centroids (explode + map-side-combined "
    "agg, one shuffle of |labels|·dims partials, never the vectors). "
    "See _CENT_SCALE for why floor-quantization (not a decimal cast) "
    "is the cross-engine-stable reduction here.",
    tags=("pipeline", "similarity"),
)
def q_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        "label", F.posexplode("embedding").alias("dim", "val")
    )
    q = F.floor(F.col("val").cast("double") * F.lit(_CENT_SCALE)).cast("long")
    n = F.count(F.lit(1))
    return (
        ex.groupBy("label", F.col("dim").cast("long").alias("dim"))
        .agg(
            n.alias("n"),
            (F.sum(q).cast("double") / F.lit(_CENT_SCALE) / n).alias(
                "centroid"
            ),
        )
        .orderBy("label", "dim")
    )


# --- text analysis -------------------------------------------------------------

_SW_ARR = sql_array(STOPWORDS)


@register(
    "q_lang_id",
    oracle=(
        lambda: f"""
WITH toks AS (
  SELECT doc_id, lang,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x != '') AS t
  FROM documents
), scores AS (
  SELECT doc_id, lang,
    {", ".join(f"len(list_filter(t, x -> list_contains({sql_array(m)}, x))) AS c_{lang}" for lang, m in LANG_MARKERS.items())}
  FROM toks
)
SELECT lang,
  CASE
    WHEN c_en = 0 AND c_es = 0 AND c_de = 0 AND c_fr = 0 THEN 'unknown'
    WHEN c_en >= c_es AND c_en >= c_de AND c_en >= c_fr THEN 'en'
    WHEN c_es >= c_de AND c_es >= c_fr THEN 'es'
    WHEN c_de >= c_fr THEN 'de'
    ELSE 'fr'
  END AS pred_lang,
  COUNT(*) AS cnt
FROM scores
GROUP BY 1, 2
ORDER BY lang, pred_lang
"""
    )(),
    doc="Language-ID heuristic (marker-word argmax) vs labeled lang",
    tags=("pipeline", "text"),
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Per-language filter counts, NOT the fused text_profile_col: with
    # only the lang field consumed, the fold's per-token struct rebuild
    # costs more than the extra tokenizer evaluations (measured at
    # sf0.1: 0.66 s this form vs 0.86 s fused).
    from big_data_engineering_project_spark.operators.text_analysis import lang_id_col

    docs = spread(load_table(spark, sf_dir, "documents"))
    return (
        docs.select(
            "lang",
            lang_id_col(dedup.tokens_col(F.col("text"))).alias("pred_lang"),
        )
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("lang", "pred_lang")
    )


@register(
    "q_quality_scores",
    oracle=f"""
WITH {_TOKS_CTE}
SELECT doc AS doc_id,
  len(t) AS n_tokens,
  COALESCE(list_sum(list_transform(t, x -> length(x))), 0)
    / CAST(GREATEST(len(t), 1) AS DOUBLE) AS mean_token_len,
  len(list_filter(t, x -> list_contains({_SW_ARR}, x)))
    / CAST(GREATEST(len(t), 1) AS DOUBLE) AS stopword_ratio,
  0.5 * LEAST(1.0, CAST(len(t) AS DOUBLE) / 100.0)
    + 0.5 * (1.0 - len(list_filter(t, x -> list_contains({_SW_ARR}, x)))
                     / CAST(GREATEST(len(t), 1) AS DOUBLE)) AS quality
FROM toks
ORDER BY doc_id
""",
    doc="Quality scoring: token stats + stopword ratio → composite [0,1] score",
    tags=("pipeline", "text"),
)
def q_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Separate feature expressions, NOT the fused text_profile_col:
    # four struct-field consumers mean four fold evaluations, and the
    # per-token struct rebuild loses to the leaner per-feature passes
    # (measured at sf0.1: 0.48 s this form vs 0.63 s fused).
    from big_data_engineering_project_spark.operators.text_analysis import (
        quality_score_cols,
    )

    docs = spread(load_table(spark, sf_dir, "documents"))
    q = quality_score_cols(F.col("text"))
    return docs.select(
        "doc_id",
        q["n_tokens"].cast("long").alias("n_tokens"),
        q["mean_token_len"].alias("mean_token_len"),
        q["stopword_ratio"].alias("stopword_ratio"),
        q["quality"].alias("quality"),
    ).orderBy("doc_id")


_GATE_MIN_DOCS = 10
_GATE_MIN_Q = 0.73
_GATE_MAX_DUP = 0.2


@register(
    "q_source_quality_gate",
    oracle=f"""
WITH d AS (SELECT source, text,
  list_filter(string_split_regex(lower(text), '\\s+'), x -> x != '') AS t
  FROM documents),
pd AS (SELECT source,
  CAST(FLOOR((0.5 * LEAST(1.0, CAST(len(t) AS DOUBLE) / 100.0)
    + 0.5 * (1.0 - len(list_filter(t, x -> list_contains({_SW_ARR}, x)))
      / CAST(GREATEST(len(t), 1) AS DOUBLE))) * 1048576.0) AS BIGINT) AS q,
  COALESCE({_POLY.format(s="text")}, -1) AS fp
  FROM d),
fc AS (SELECT fp, COUNT(*) AS nfp FROM pd GROUP BY 1),
ag AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(q) AS BIGINT) AS sq,
       CAST(SUM(CASE WHEN nfp > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
       FROM pd JOIN fc USING (fp) GROUP BY 1)
SELECT source, n_docs,
  CAST(sq AS DOUBLE) / (CAST(n_docs AS DOUBLE) * 1048576.0) AS mean_quality,
  n_dup AS n_dup_docs,
  CAST(n_dup AS DOUBLE) / CAST(n_docs AS DOUBLE) AS dup_rate,
  (n_docs >= {_GATE_MIN_DOCS}
   AND CAST(sq AS DOUBLE) / (CAST(n_docs AS DOUBLE) * 1048576.0)
       >= {_GATE_MIN_Q}
   AND CAST(n_dup AS DOUBLE) / CAST(n_docs AS DOUBLE) <= {_GATE_MAX_DUP})
    AS passed
FROM ag ORDER BY source
""",
    doc="Source/domain-level curation gate (RefinedWeb/C4 URL-level "
    "filtering shape): per source — doc count, mean composite quality "
    "on the 2^20 integer ladder (order-independent long sums, ONE "
    "double division), corpus-wide exact-duplicate rate via the "
    "rolling-hash fingerprint — and a PASS/FAIL verdict against "
    "explicit thresholds; whole sources are dropped, not just docs "
    "(operators/governance.py:source_quality_gate)",
    tags=("pipeline", "governance"),
)
def q_source_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_engineering_project_spark.operators.governance import (
        source_quality_gate,
    )

    docs = spread(load_table(spark, sf_dir, "documents"))
    return source_quality_gate(
        docs, "doc_id", "text", "source",
        _GATE_MIN_DOCS, _GATE_MIN_Q, _GATE_MAX_DUP,
    ).orderBy("source")


# Frozen BPE merge table for the ENCODE query — the serving shape: a
# tokenizer is a frozen artifact applied to new data, so the merge
# list is a literal shared by the Spark plan and the oracle (unlike
# q_bpe_merges, which TRAINS — its r14 oracle replays the argmax per
# step as data). Chained dependencies ('t','h' then 'th','e'; 'a','n'
# then 'an','d') exercise merged-symbol reuse across steps.
_BPE_ENC_MERGES = [
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"),
    ("an", "d"), ("e", "r"), ("o", "n"), ("r", "e"),
]


def _bpe_encode_oracle() -> str:
    """Sequential CTE chain: one greedy merge application per step.
    DuckDB 1.0's list_reduce silently mis-folds STRUCT accumulators
    (measured: the accumulator resets every step), so the fold form
    is out; for
    merges with left ≠ right the greedy non-overlapping scan equals
    the POSITIONAL form — two adjacent hits would need s[i+1] to be
    both right and left — so each step is a pure list_transform:
    emit merged at a hit start, drop the consumed right neighbour,
    copy otherwise (out-of-range DuckDB list indexing yields NULL,
    which compares false). The left ≠ right precondition is asserted
    below; a future equal-pair merge must bring back a working fold."""
    for a, b in _BPE_ENC_MERGES:
        assert a != b, "positional oracle requires left != right"
    ctes = ["v0 AS (SELECT w, string_split(w, '') AS syms FROM "
            "(SELECT DISTINCT unnest(t) AS w FROM toks))"]
    for i, (a, b) in enumerate(_BPE_ENC_MERGES):
        ctes.append(f"""v{i + 1} AS (
  SELECT w, list_filter(
    list_transform(range(1, len(syms) + 1), i -> CASE
      WHEN syms[i] = '{a}' AND syms[i + 1] = '{b}' THEN '{a + b}'
      WHEN i > 1 AND syms[i - 1] = '{a}' AND syms[i] = '{b}' THEN NULL
      ELSE syms[i] END),
    x -> x IS NOT NULL) AS syms
  FROM v{i})""")
    n = len(_BPE_ENC_MERGES)
    return f"""
WITH {_TOKS_CTE},
dw AS (SELECT doc, unnest(t) AS w FROM toks),
{", ".join(ctes)},
wc AS (SELECT w, CAST(len(syms) AS BIGINT) AS nt FROM v{n})
SELECT doc, CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(nt) AS BIGINT) AS n_bpe_tokens
FROM dw JOIN wc USING (w) GROUP BY doc ORDER BY doc
"""


@register(
    "q_bpe_encode_counts",
    oracle=_bpe_encode_oracle(),
    doc="TRUE BPE token counts under a FROZEN 8-merge table (the "
    "tokenizer-as-artifact serving shape; q_bpe_merges trains, this "
    "bills): chained greedy merge folds with exact reference "
    "semantics run over the DISTINCT word table only (vocab-sized, "
    "never the corpus), per-doc counts come back via one word-keyed "
    "equi-join; pure Catalyst, no UDF; the oracle replays the same "
    "state machine as sequential DuckDB struct folds "
    "(operators/text_analysis.py:bpe_encode_counts)",
    tags=("pipeline", "text"),
)
def q_bpe_encode_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_engineering_project_spark.operators.text_analysis import (
        bpe_encode_counts,
    )

    docs = spread(load_table(spark, sf_dir, "documents"))
    return bpe_encode_counts(
        docs, "doc_id", "text", _BPE_ENC_MERGES
    ).orderBy("doc")


def _bpe_oracle() -> str:
    from big_data_engineering_project_spark.operators.text_analysis import (
        BPE_TOKEN_PATTERN,
    )

    pat = BPE_TOKEN_PATTERN.replace("'", "''")
    return f"""
SELECT source,
  COUNT(*) AS n_docs,
  CAST(SUM(len(regexp_extract_all(text, '{pat}'))) AS BIGINT) AS total_bpe_tokens,
  CAST(SUM(len(list_filter(string_split_regex(lower(text), '\\s+'), x -> x != ''))) AS BIGINT) AS total_ws_tokens
FROM documents
GROUP BY source
ORDER BY source
"""


@register(
    "q_bpe_token_counts",
    oracle=_bpe_oracle(),
    doc="Token-budget accounting per source under BOTH counters: "
    "whitespace tokens and BPE-ish regex tokens (letter runs / single "
    "digits / punctuation marks — the GPT-2-style pre-tokenization "
    "shape; JVM regexp, Java∩RE2 pattern subset)",
    tags=("pipeline", "text"),
)
def q_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_engineering_project_spark.operators.text_analysis import (
        bpe_token_count_col,
    )

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(bpe_token_count_col(F.col("text"))).alias("total_bpe_tokens"),
            F.sum(F.size(dedup.tokens_col(F.col("text"))).cast("long")).alias(
                "total_ws_tokens"
            ),
        )
        .orderBy("source")
    )


@register(
    "q_token_stats_by_source",
    oracle="""
SELECT source,
  COUNT(*) AS n_docs,
  CAST(SUM(len(list_filter(string_split_regex(lower(text), '\\s+'), x -> x != ''))) AS BIGINT) AS total_tokens,
  CAST(SUM(CAST(n_chars AS DECIMAL(18, 6))) AS DOUBLE) / COUNT(*) AS avg_chars
FROM documents
GROUP BY source
ORDER BY source
""",
    doc="Token counting rolled up by source (corpus accounting)",
    tags=("pipeline", "text"),
)
def q_token_stats_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(dedup.tokens_col(F.col("text")))
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(n_tokens.cast("long")).alias("total_tokens"),
            (
                F.sum(F.col("n_chars").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1))
            ).alias("avg_chars"),
        )
        .orderBy("source")
    )


# --- tokenizer + stemmer (UD4/UD5) -------------------------------------------


@register(
    "q_tokenized_docs",
    oracle="""
SELECT doc_id,
  array_to_string(list_filter(string_split_regex(lower(text), '\\s+'), x -> x != ''), '|') AS tokens_joined,
  len(list_filter(string_split_regex(lower(text), '\\s+'), x -> x != '')) AS n_tokens
FROM documents
ORDER BY doc_id
""",
    doc="UD4: whitespace tokenizer (pure Catalyst split) — kinesis_processing_2.py:79",
    tags=("pipeline", "text", "udf"),
)
def q_tokenized_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    toks = dedup.tokens_col(F.col("text"))
    return docs.select(
        "doc_id",
        F.array_join(toks, "|").alias("tokens_joined"),
        F.size(toks).cast("long").alias("n_tokens"),
    ).orderBy("doc_id")


@register(
    "q_stemmed_docs",
    oracle=None,  # rows-only, DELIBERATELY (r12 feasibility spike —
    # r11 verdict task 9): Porter IS pure deterministic string
    # rewriting, but a single-SELECT DuckDB replica needs the
    # measure() condition (VC-run count with the CONTEXTUAL y-vowel
    # rule) evaluated on the candidate stem of every one of ~60
    # cascade rules — a generated ~300-line nested regexp/CASE
    # expression per token (no CREATE MACRO: the driver runs one
    # statement). That replica would be a second hand-written
    # implementation sharing this author's reading of the spec,
    # which is WEAKER evidence than the committed invariant below:
    # the published Porter test vocabulary (canonical input→output
    # vectors from the reference implementation's distribution)
    # checked exactly, plus the fixpoint property. Kept rows-only
    # with that stronger pin.
    doc="UD5: Porter stemmer over token arrays as Arrow-batched pandas UDF — NB cell 65",
    tags=("pipeline", "text", "udf"),
    invariants=(
        "tests/test_functions.py::test_porter_stem_published_vectors",
        "tests/test_properties.py::test_porter_stem_fixpoint_and_nonempty",
    ),
)
def q_stemmed_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_engineering_project_spark.functions.stemmer import stem_tokens_udf

    docs = spread(load_table(spark, sf_dir, "documents"))
    toks = dedup.tokens_col(F.col("text"))
    return docs.select(
        "doc_id",
        F.array_join(stem_tokens_udf(toks), "|").alias("stems_joined"),
    ).orderBy("doc_id")


# --- LSH-bucketed ANN (the scale path; recall<1 by construction) ---
#
# EXACT-ORACLE since r13 (r12 verdict task 2): "approximate" means
# recall < 1 vs brute force, NOT nondeterministic — the hyperplanes
# are a pure function of (plane_idx, i) (similarity.py:
# _pseudo_hyperplane), the bucket bits are signs of left-assoc fold
# dots both engines compute bit-identically (the proven _fold_dot
# discipline), and the top-k tie order is total (cosine DESC, vec_id
# ASC). The oracle regenerates the plane components from the SAME
# integer poly-hash formula — CAST(h AS DOUBLE)/(P-1)*2-1 on
# identical int64 h is bit-equal to the Python floats Spark inlines
# (verified component-by-component, 384/384) — so bucket assignment,
# the Hamming≤1 multi-probe expansion (XOR masks), and the cosine
# scores all replay exactly.

_LSH_TOPK_PLANES = 6
_LSH_TOPK_K = 10


def _lsh_topk_oracle() -> str:
    masks = [0] + [1 << i for i in range(_LSH_TOPK_PLANES)]
    mvals = ", ".join(f"({m})" for m in masks)
    cos = (
        f"{_fold_dot('db.e', 'pr.qe')} / (sqrt({_fold_dot('db.e', 'db.e')})"
        f" * sqrt({_fold_dot('pr.qe', 'pr.qe')}))"
    )
    return f"""
WITH planes AS (
  SELECT p, i,
         CAST((472882049 * (p * 10007 + (i - 1)) + 291898331) % {P} AS DOUBLE)
           / CAST({P - 1} AS DOUBLE) * 2.0 - 1.0 AS c
  FROM range(0, {_LSH_TOPK_PLANES}) t(p), range(1, {_DIMS + 1}) r(i)
),
plist AS (SELECT p, list(c ORDER BY i) AS pl FROM planes GROUP BY p),
d AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings WHERE vec_id != 0),
db AS MATERIALIZED (
  SELECT d.vec_id, d.e,
         CAST(SUM(CASE WHEN {_fold_dot('d.e', 'pl.pl')} >= 0
                       THEN 1 << pl.p ELSE 0 END) AS BIGINT) AS bucket
  FROM d, plist pl GROUP BY d.vec_id, d.e
),
q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
qb AS (
  SELECT q.qe,
         CAST(SUM(CASE WHEN {_fold_dot('q.qe', 'pl.pl')} >= 0
                       THEN 1 << pl.p ELSE 0 END) AS BIGINT) AS qbucket
  FROM q, plist pl GROUP BY q.qe
),
pr AS (SELECT xor(qbucket, m) AS probe, qe FROM qb, (VALUES {mvals}) mm(m))
SELECT db.vec_id, {cos} AS cosine
FROM db JOIN pr ON db.bucket = pr.probe
ORDER BY cosine DESC, vec_id ASC
LIMIT {_LSH_TOPK_K}
"""


@register(
    "q_embedding_lsh_topk",
    oracle=_lsh_topk_oracle(),
    doc="Hyperplane-LSH bucketed ANN top-k (scan restricted to the "
    "query's bucket + Hamming≤1 probes); recall<1 vs brute force by "
    "construction but fully deterministic — exact-oracle since r13 "
    "(integer-formula plane replay, see _lsh_topk_oracle)",
    tags=("pipeline", "similarity"),
    invariants=(
        "tests/test_operators.py::test_lsh_topk_recall",
        "tests/test_operators.py::test_lsh_topk_high_recall_on_planted_neighbors",
        "tests/test_operators.py::test_ann_recall_floors_on_fixture",
    ),
)
def q_embedding_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0).select("embedding")
    return similarity.lsh_topk(
        emb.filter(F.col("vec_id") != 0), query, k=10, n_planes=6
    )


# --- MinHash signatures exposed (exploded for oracle comparability) ---


def _signature_oracle() -> str:
    sig_items = ", ".join(
        f"list_min(list_transform(hv, h -> ({a} * h + {b}) % {P}))"
        for a, b in MINHASH_SEEDS
    )
    return f"""
WITH {_TOKS_CTE},
{_HT_CTE},
{_HV_CTE},
sig AS (SELECT doc, [{sig_items}] AS sig FROM hs)
SELECT doc AS doc_id, CAST(j AS INTEGER) AS j, sig[j] AS minhash
FROM sig, range(1, {len(MINHASH_SEEDS) + 1}) r(j)
ORDER BY doc_id, j
"""


@register(
    "q_minhash_signatures",
    oracle=_signature_oracle(),
    doc=f"MinHash({len(MINHASH_SEEDS)}) signature matrix, exploded to (doc, j, minhash)",
    tags=("pipeline", "dedup"),
)
def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(
        docs, "doc_id", "text", hashed=_shared_hashed(spark, sf_dir, NGRAM_N)
    )
    return (
        sigs.select(
            F.col("doc").alias("doc_id"),
            F.posexplode("sig").alias("j0", "minhash"),
        )
        .select(
            "doc_id", (F.col("j0") + 1).cast("int").alias("j"), "minhash"
        )
        .orderBy("doc_id", "j")
    )


# EXACT-ORACLE since r13 (r12 verdict task 3): the registered query's
# coarse quantizer is the fixture fallback — centroids ARE the
# embeddings of the 8 lowest-id corpus vectors (vec_id 1..8), i.e.
# SQL-derivable donor rows, the same trick that exact-gated the PQ
# family. The replay: cell = argmax fold-cosine against the donor
# rows (ties → lowest cell, matching array_position-first), probe
# cells = the 2 query-nearest donors (cosine DESC, id ASC — the
# driver-side _rank_cells total order; its Python sum() and the SQL
# list_reduce are the same left-assoc fold from zero), then exact
# fold-cosine top-k over the probed cells. The kmeans-trained
# quantizer path stays pytest-pinned (invariants below).

_IVF_TOPK_CELLS = 8
_IVF_TOPK_PROBE = 2
_IVF_TOPK_K = 10


def _ivf_topk_oracle() -> str:
    def fold_cos(a: str, b: str) -> str:
        return (
            f"{_fold_dot(a, b)} / (sqrt({_fold_dot(a, a)})"
            f" * sqrt({_fold_dot(b, b)}))"
        )

    return f"""
WITH cents AS (
  SELECT vec_id AS cid, embedding::DOUBLE[] AS ce
  FROM embeddings WHERE vec_id BETWEEN 1 AND {_IVF_TOPK_CELLS}
),
d AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings WHERE vec_id != 0),
q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
assign AS MATERIALIZED (
  SELECT vec_id, e, cid FROM (
    SELECT d.vec_id, d.e, c.cid,
           row_number() OVER (
             PARTITION BY d.vec_id
             ORDER BY {fold_cos('d.e', 'c.ce')} DESC, c.cid ASC) AS rn
    FROM d, cents c)
  WHERE rn = 1
),
probe AS (
  SELECT cid FROM (
    SELECT c.cid,
           row_number() OVER (
             ORDER BY {fold_cos('q.qe', 'c.ce')} DESC, c.cid ASC) AS rn
    FROM cents c, q)
  WHERE rn <= {_IVF_TOPK_PROBE}
)
SELECT v.vec_id, {fold_cos('v.e', 'q.qe')} AS cosine
FROM assign v JOIN probe p ON v.cid = p.cid, q
ORDER BY cosine DESC, vec_id ASC
LIMIT {_IVF_TOPK_K}
"""


@register(
    "q_embedding_ivf_topk",
    oracle=_ivf_topk_oracle(),
    doc="IVF-style ANN: coarse cells + n_probe nearest-cell scan "
    "(scale path); recall<1 vs brute force by construction but fully "
    "deterministic — exact-oracle since r13 via the donor-centroid "
    "replay (see _ivf_topk_oracle)",
    tags=("pipeline", "similarity"),
    invariants=(
        "tests/test_operators.py::test_ivf_topk_recall_and_exact_cosines",
        "tests/test_operators.py::test_ivf_topk_high_recall_on_planted_neighbors",
        "tests/test_operators.py::test_ivf_with_kmeans_centroids_probe_all_equals_brute_force",
    ),
)
def q_embedding_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0).select("embedding")
    return similarity.ivf_topk(
        emb.filter(F.col("vec_id") != 0), query, k=10, n_cells=8, n_probe=2
    )


def _adc_chain(terms: list[str]) -> str:
    """Left-assoc double chain from 0.0 — mirrors F.aggregate's fold
    and Python's sum() bit-for-bit (the _pq_err_oracle discipline)."""
    s = "0.0"
    for t in terms:
        s = f"({s} + {t})"
    return s


_PQ_M, _PQ_SUB, _PQ_DONORS, _ADC_LAD = 16, 4, 16, 1048576


def _donor_centroids(corpus, n: int) -> list[list[float]]:
    """IVF centroids from the corpus's first n vectors in vec_id order —
    the donor rows the IVF oracles re-derive in SQL."""
    return [
        [float(x) for x in r["embedding"]]
        for r in corpus.orderBy("vec_id").limit(n).collect()
    ]


def _donor_pq_books(emb, m: int, sub: int, n_donors: int):
    """SQL-derivable PQ codebooks: donor rows vec_id 1..n ARE the
    codebook — book j's entries are the donors' j-th subvectors,
    vec_id-ordered (the q_pq_reconstruction_error trick that puts the
    encode under the exact gate; the kmeans-trained path stays
    pytest-pinned in test_operators)."""
    donors = (
        emb.filter((F.col("vec_id") >= 1) & (F.col("vec_id") <= n_donors))
        .orderBy("vec_id")
        .collect()
    )
    return [
        [
            [float(x) for x in r["embedding"][j * sub : (j + 1) * sub]]
            for r in donors
        ]
        for j in range(m)
    ]


def _pq_adc_prefix(qid: int, corpus_where: str) -> str:
    """Shared CTE chain of the ladder-ADC oracles — everything through
    `sc` (per-row laddered dot/norm sums): codes = argmin-L2 against
    the donor codebook (left-assoc d2 chains, ties → lowest code), ADC
    tables floor-frozen per (subspace, code) entry onto the 2^20
    ladder BEFORE summation — dot/norm are order-free BIGINT sums of m
    lookups."""
    m, sub, nd, lad = _PQ_M, _PQ_SUB, _PQ_DONORS, _ADC_LAD
    d2 = _adc_chain(
        [
            f"(e[{sub}*j+{i}] - c[{sub}*j+{i}])"
            f" * (e[{sub}*j+{i}] - c[{sub}*j+{i}])"
            for i in range(1, sub + 1)
        ]
    )
    qd = _adc_chain(
        [f"qe[{sub}*j+{i}] * c[{sub}*j+{i}]" for i in range(1, sub + 1)]
    )
    n2 = _adc_chain(
        [f"c[{sub}*j+{i}] * c[{sub}*j+{i}]" for i in range(1, sub + 1)]
    )
    return f"""q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings
           WHERE vec_id = {qid}),
cb AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) AS code,
              embedding::DOUBLE[] AS c
       FROM embeddings WHERE vec_id BETWEEN 1 AND {nd}),
d AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
      WHERE {corpus_where}),
asn AS (
  SELECT d.vec_id, u.j, cb.code, {d2} AS d2
  FROM d, cb, unnest(generate_series(0, {m - 1})) AS u(j)
),
pick AS (
  SELECT vec_id, j, code FROM (
    SELECT vec_id, j, code,
      ROW_NUMBER() OVER (PARTITION BY vec_id, j
                         ORDER BY d2 ASC, code ASC) AS rk
    FROM asn) WHERE rk = 1
),
tab AS (
  SELECT u.j, cb.code,
    CAST(FLOOR({qd} * {lad}.0) AS BIGINT) AS qd_lad,
    CAST(FLOOR({n2} * {lad}.0) AS BIGINT) AS n2_lad
  FROM cb, q, unnest(generate_series(0, {m - 1})) AS u(j)
),
sc AS (
  SELECT p.vec_id,
    CAST(SUM(t.qd_lad) AS BIGINT) AS adc_dot_lad,
    CAST(SUM(t.n2_lad) AS BIGINT) AS adc_nrm_lad
  FROM pick p JOIN tab t ON p.j = t.j AND p.code = t.code
  GROUP BY p.vec_id
)"""


_PQ_ADC_SCORE = """CASE WHEN adc_nrm_lad > 0 THEN
    (CAST(adc_dot_lad AS DOUBLE) / {lad}.0)
    / (sqrt({qq})
       * sqrt(CAST(adc_nrm_lad AS DOUBLE) / {lad}.0))
  ELSE -2.0 END"""


def _pq_adc_oracle(qid: int, corpus_where: str, k: int) -> str:
    """DuckDB replay of the ladder-ADC PQ top-k (see _pq_adc_prefix);
    the score is one final double expression both engines round
    identically."""
    score = _PQ_ADC_SCORE.format(lad=_ADC_LAD, qq=_fold_dot("qe", "qe"))
    return f"""
WITH {_pq_adc_prefix(qid, corpus_where)}
SELECT vec_id, adc_dot_lad, adc_nrm_lad,
  {score} AS adc_cosine
FROM sc, q
ORDER BY adc_cosine DESC, vec_id ASC
LIMIT {k}
"""


def _pq_refined_oracle(
    qid: int, corpus_where: str, k: int, mult: int
) -> str:
    """DuckDB replay of the refined serve (FAISS IndexRefineFlat
    shape): the ladder-ADC shortlist takes the top mult·k codes under
    the same total order as the compressed oracle, then ONLY those
    ids are exact-rescored with the raw-vector fold cosine — both
    stages deterministic, so shortlist membership and the final
    ranking replay bit-for-bit."""
    score = _PQ_ADC_SCORE.format(lad=_ADC_LAD, qq=_fold_dot("qe", "qe"))
    cos = (
        f"{_fold_dot('d.e', 'q.qe')} / (sqrt({_fold_dot('d.e', 'd.e')})"
        f" * sqrt({_fold_dot('q.qe', 'q.qe')}))"
    )
    return f"""
WITH {_pq_adc_prefix(qid, corpus_where)},
short AS (
  SELECT vec_id, {score} AS adc_cosine
  FROM sc, q
  ORDER BY adc_cosine DESC, vec_id ASC
  LIMIT {mult * k}
)
SELECT s.vec_id, s.adc_cosine, {cos} AS cosine
FROM short s JOIN d ON d.vec_id = s.vec_id, q
ORDER BY cosine DESC, s.vec_id ASC
LIMIT {k}
"""


@register(
    "q_embedding_pq_topk",
    oracle=_pq_adc_oracle(7, "vec_id != 7", 10),
    doc="Product-quantization ANN (the compressed-scan path): 64-dim "
    "vectors stored as 16 subspace codebook indices (16× scan "
    "footprint cut; FAISS-PQ class), ranked by ASYMMETRIC distance — "
    "the exact query dots every codebook entry driver-side into m "
    "tiny literal tables and each row's score is 2m array lookups: "
    "no join, no decompression, TakeOrderedAndProject top-k. UNDER "
    "THE EXACT GATE since r12: the codebook is SQL-derivable (donor "
    "rows 1..16 supply each subspace's entries — the "
    "q_pq_reconstruction_error trick) and the ADC tables are "
    "floor-frozen onto the 2^20 integer ladder, so dot/norm are "
    "order-free BIGINT sums and the score one cross-engine-exact "
    "double. The kmeans-trained codebook path (pq_train_codebooks) "
    "is unchanged and pytest-pinned (invariants) "
    "(operators/similarity.py:pq_encode/pq_topk)",
    tags=("pipeline", "similarity"),
    invariants=(
        "tests/test_operators.py::test_pq_adc_exact_when_codebook_covers_and_fixture_recall",
        "tests/test_operators.py::test_pq_ladder_adc_tracks_double_adc",
    ),
)
def q_embedding_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") != 7)
    query = emb.filter(F.col("vec_id") == 7).select("embedding")
    books = _donor_pq_books(emb, _PQ_M, _PQ_SUB, _PQ_DONORS)
    codes = similarity.pq_encode(corpus, books)
    return similarity.pq_topk(
        codes, books, query, k=10, adc_ladder=_ADC_LAD
    )


def _ivfpq_fixture_index(spark: SparkSession, sf_dir: str) -> str:
    """Build-if-absent the pid-scoped IVF-PQ fixture index shared by
    the compressed and refined serves (day-0 build on vec_id%10!=0,
    day-1 append of the rest; donor codebooks; 8 donor centroids) —
    bench reps and the refined query time the SERVE, not the build."""
    import os

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter((F.col("vec_id") != 7) & (F.col("vec_id") % 10 != 0))
    day1 = emb.filter((F.col("vec_id") != 7) & (F.col("vec_id") % 10 == 0))
    index_path = _pid_scoped_index_path("bde_ivfpq_", sf_dir)
    marker = os.path.join(index_path, "_built")
    if not os.path.exists(marker):
        cents = _donor_centroids(corpus, 8)
        books = _donor_pq_books(emb, _PQ_M, _PQ_SUB, _PQ_DONORS)
        similarity.build_ivfpq_index(corpus, index_path, cents, books)
        similarity.ivfpq_index_append(day1, index_path)
        open(marker, "w").close()
    return index_path


@register(
    "q_embedding_ivfpq_topk",
    oracle=_pq_adc_oracle(7, "vec_id != 7", 10),
    doc="Persisted IVF-PQ index (the production FAISS-IVFPQ shape, "
    "by_residual=False): the IVF layout prunes WHICH partitions are "
    "read (n_probe/n_cells of the corpus does I/O) and PQ compresses "
    "WHAT they store (8-byte codes vs 256-byte floats) — at 100 TB "
    "the cuts multiply to ~0.4% of the flat scan's bytes. Day-0 "
    "build + day-1 append against BOTH frozen quantizers (corpus "
    "never re-encoded), serve = pruned code scan + query-global ADC "
    "literal tables, build-if-absent marker so bench reps time the "
    "serve. UNDER THE EXACT GATE since r12: donor-derived codebook + "
    "2^20-ladder ADC tables, probe-all serve ≡ the flat-PQ oracle "
    "(the IVF layer prunes I/O, never changes a score) — so the "
    "whole build→append→reload→serve lifecycle is hash-matched; the "
    "kmeans-quantizer path and the n_probe<n_cells recall trade stay "
    "pytest-pinned (operators/similarity.py:build_ivfpq_index/"
    "ivfpq_index_append/ivfpq_index_topk)",
    tags=("pipeline", "similarity"),
    invariants=(
        "tests/test_operators.py::test_ivfpq_index_build_append_probe",
    ),
)
def q_embedding_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 7).select("embedding")
    index_path = _ivfpq_fixture_index(spark, sf_dir)
    return similarity.ivfpq_index_topk(
        spark, index_path, query, k=10, n_probe=8, adc_ladder=_ADC_LAD
    )


def _ivfpq_merged_fixture_index(spark: SparkSession, sf_dir: str) -> str:
    """Build-if-absent the SHARDED-BUILD fixture: the corpus
    (vec_id != 7) splits into odd/even shards, each shard builds its
    own IVF-PQ index against the SAME frozen quantizers (explicit
    donor centroids from the full corpus's 8 lowest ids + donor
    codebooks), then merge_vector_indexes folds shard B into shard A
    — the 100 TB parallel-build-then-merge lifecycle. Serving the
    merged index probe-all must equal the flat ADC oracle over the
    whole corpus (the exact gate on this query IS that claim)."""
    import os

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") != 7)
    shard_a = corpus.filter(F.col("vec_id") % 2 == 1)
    shard_b = corpus.filter(F.col("vec_id") % 2 == 0)
    index_a = _pid_scoped_index_path("bde_ivfpq_mrg_a_", sf_dir)
    index_b = _pid_scoped_index_path("bde_ivfpq_mrg_b_", sf_dir)
    marker = os.path.join(index_a, "_merged")
    if not os.path.exists(marker):
        cents = _donor_centroids(corpus, 8)
        books = _donor_pq_books(emb, _PQ_M, _PQ_SUB, _PQ_DONORS)
        similarity.build_ivfpq_index(shard_a, index_a, cents, books)
        similarity.build_ivfpq_index(shard_b, index_b, cents, books)
        similarity.merge_vector_indexes(
            spark, index_a, index_b, table="codes"
        )
        open(marker, "w").close()
    return index_a


@register(
    "q_embedding_ivfpq_merged_topk",
    oracle=_pq_adc_oracle(7, "vec_id != 7", 10),
    doc="Sharded-parallel-build + MERGE lifecycle of the persisted "
    "IVF-PQ index (the FAISS merge_from/merge_ondisk step): the "
    "corpus builds as two independent shard indexes against the SAME "
    "frozen quantizers, merge_vector_indexes folds one into the "
    "other by pure directory algebra (codes re-encode nothing; "
    "quantizer-equality enforced, mismatches refused), and the "
    "probe-all serve of the MERGED index hash-equals the flat ADC "
    "oracle over the whole corpus — the exact gate proves the merge "
    "loses and duplicates nothing "
    "(operators/similarity.py:merge_vector_indexes)",
    tags=("pipeline", "similarity"),
    invariants=(
        "tests/test_operators.py::test_merge_vector_indexes_serve_and_refusal",
    ),
)
def q_embedding_ivfpq_merged_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 7).select("embedding")
    index_path = _ivfpq_merged_fixture_index(spark, sf_dir)
    return similarity.ivfpq_index_topk(
        spark, index_path, query, k=10, n_probe=8, adc_ladder=_ADC_LAD
    )


@register(
    "q_embedding_ivfpq_refined_topk",
    oracle=_pq_refined_oracle(7, "vec_id != 7", 10, 4),
    doc="IVF-PQ serve + exact re-rank — the FAISS IndexRefineFlat "
    "production pattern (r12 verdict task 4): the compressed index "
    "over-fetches a 4k ADC shortlist (partition-pruned 8-byte code "
    "scan), then ONLY those 40 ids are rescored against the raw "
    "float vectors (the id list broadcasts against the plain vector "
    "scan — k′ row lookups, never a second corpus pass) and the "
    "exact fold-cosine picks the final 10. Rescues ADC quantization "
    "near-tie flips; refined recall ≥ ADC recall pytest-pinned on "
    "the planted-neighbor fixture. Both stages deterministic → "
    "under the exact gate from birth "
    "(operators/similarity.py:ivfpq_index_refined_topk)",
    tags=("pipeline", "similarity"),
    invariants=(
        "tests/test_operators.py::test_ivfpq_refined_topk_recall_and_shortlist_bound",
    ),
)
def q_embedding_ivfpq_refined_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 7).select("embedding")
    index_path = _ivfpq_fixture_index(spark, sf_dir)
    return similarity.ivfpq_index_refined_topk(
        spark,
        index_path,
        emb.filter(F.col("vec_id") != 7),
        query,
        k=10,
        shortlist_mult=4,
        n_probe=8,
        adc_ladder=_ADC_LAD,
    )


def _rpq_adc_oracle(qid: int, k: int) -> str:
    """DuckDB replay of the residual IVF-PQ ladder-ADC serve: per
    corpus row — cell = argmax-cosine against the 8 SQL-derivable
    coarse centroids (first 8 day-0 rows, ties → lowest cell),
    residual r = v − c_cell, codes = argmin-L2 against the donor
    RESIDUAL codebook (each donor's residual, sliced per subspace),
    and recon-cosine via the per-cell coupling tables — qc/‖c‖²/q·r̂ /
    (2·c·r̂+‖r̂‖²) all floor-frozen per entry onto the 2^20 ladder, so
    dot/norm are order-free BIGINT sums exactly like the Spark
    serve's per-cell literal branches."""
    m, sub, nd, lad = _PQ_M, _PQ_SUB, _PQ_DONORS, _ADC_LAD
    dims = _DIMS
    cos_ec = (
        f"{_fold_dot('e', 'c')} / (sqrt({_fold_dot('e', 'e')})"
        f" * sqrt({_fold_dot('c', 'c')}))"
    )
    d2 = _adc_chain(
        [
            f"(v.r[{sub}*j+{i}] - rb.r[{sub}*j+{i}])"
            f" * (v.r[{sub}*j+{i}] - rb.r[{sub}*j+{i}])"
            for i in range(1, sub + 1)
        ]
    )
    qd = _adc_chain(
        [f"qe[{sub}*j+{i}] * rb.r[{sub}*j+{i}]" for i in range(1, sub + 1)]
    )
    cd = _adc_chain(
        [f"c[{sub}*j+{i}] * rb.r[{sub}*j+{i}]" for i in range(1, sub + 1)]
    )
    rn2 = _adc_chain(
        [f"rb.r[{sub}*j+{i}] * rb.r[{sub}*j+{i}]" for i in range(1, sub + 1)]
    )
    return f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings
           WHERE vec_id = {qid}),
cents AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) AS cell,
         embedding::DOUBLE[] AS c
  FROM (SELECT vec_id, embedding FROM embeddings
        WHERE vec_id != {qid} AND vec_id % 10 != 0
        ORDER BY vec_id LIMIT 8)
),
dn AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) AS code,
              embedding::DOUBLE[] AS e
       FROM embeddings WHERE vec_id BETWEEN 1 AND {nd}),
dncell AS (
  SELECT code, cell FROM (
    SELECT dn.code, cents.cell,
      ROW_NUMBER() OVER (PARTITION BY dn.code
                         ORDER BY {cos_ec} DESC, cents.cell ASC) AS rk
    FROM dn, cents) WHERE rk = 1
),
rb AS (
  SELECT dn.code,
    list_transform(generate_series(1, {dims}),
                   i -> dn.e[i] - cents.c[i]) AS r
  FROM dn JOIN dncell USING (code) JOIN cents ON dncell.cell = cents.cell
),
d AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
      WHERE vec_id != {qid}),
vcell AS (
  SELECT vec_id, cell FROM (
    SELECT d.vec_id, cents.cell,
      ROW_NUMBER() OVER (PARTITION BY d.vec_id
                         ORDER BY {cos_ec} DESC, cents.cell ASC) AS rk
    FROM d, cents) WHERE rk = 1
),
vres AS (
  SELECT d.vec_id, vc.cell,
    list_transform(generate_series(1, {dims}),
                   i -> d.e[i] - cents.c[i]) AS r
  FROM d JOIN vcell vc USING (vec_id) JOIN cents ON vc.cell = cents.cell
),
asn AS (
  SELECT v.vec_id, u.j, rb.code, {d2} AS d2
  FROM vres v, rb, unnest(generate_series(0, {m - 1})) AS u(j)
),
pick AS (
  SELECT vec_id, j, code FROM (
    SELECT vec_id, j, code,
      ROW_NUMBER() OVER (PARTITION BY vec_id, j
                         ORDER BY d2 ASC, code ASC) AS rk
    FROM asn) WHERE rk = 1
),
cellk AS (
  SELECT cents.cell,
    CAST(FLOOR({_fold_dot("qe", "c")} * {lad}.0) AS BIGINT) AS qc_lad,
    CAST(FLOOR({_fold_dot("c", "c")} * {lad}.0) AS BIGINT) AS cn2_lad
  FROM cents, q
),
tabq AS (
  SELECT u.j, rb.code,
    CAST(FLOOR({qd} * {lad}.0) AS BIGINT) AS qd_lad
  FROM rb, q, unnest(generate_series(0, {m - 1})) AS u(j)
),
tabc AS (
  SELECT cents.cell, u.j, rb.code,
    CAST(FLOOR((2.0 * {cd} + {rn2}) * {lad}.0) AS BIGINT) AS cr_lad
  FROM cents, rb, unnest(generate_series(0, {m - 1})) AS u(j)
),
sc AS (
  SELECT p.vec_id,
    CAST(SUM(tq.qd_lad) AS BIGINT) AS dsum,
    CAST(SUM(tc.cr_lad) AS BIGINT) AS csum
  FROM pick p
  JOIN vcell vc USING (vec_id)
  JOIN tabq tq ON p.j = tq.j AND p.code = tq.code
  JOIN tabc tc ON tc.cell = vc.cell AND tc.j = p.j AND tc.code = p.code
  GROUP BY p.vec_id
),
tot AS (
  SELECT sc.vec_id,
    ck.qc_lad + sc.dsum AS adc_dot_lad,
    ck.cn2_lad + sc.csum AS adc_nrm_lad
  FROM sc JOIN vcell vc ON sc.vec_id = vc.vec_id
  JOIN cellk ck ON ck.cell = vc.cell
)
SELECT vec_id, adc_dot_lad, adc_nrm_lad,
  CASE WHEN adc_nrm_lad > 0 THEN
    (CAST(adc_dot_lad AS DOUBLE) / {lad}.0)
    / (sqrt({_fold_dot("qe", "qe")})
       * sqrt(CAST(adc_nrm_lad AS DOUBLE) / {lad}.0))
  ELSE -2.0 END AS adc_cosine
FROM tot, q
ORDER BY adc_cosine DESC, vec_id ASC
LIMIT {k}
"""


_IVFPQ_BATCH_QIDS = (5, 6)
_IVFPQ_BATCH_K = 8


def _pq_adc_batch_prefix(qids: tuple[int, ...]) -> str:
    """Shared CTE chain of the BATCH ladder-ADC oracles — everything
    through `scored` (per-(query, row) ADC cosine): the batch variant
    of _pq_adc_prefix, with per-query laddered ADC tables and the
    query-independent `pick` shared across the batch exactly like the
    Spark serve's code scan."""
    m, sub, nd, lad = _PQ_M, _PQ_SUB, _PQ_DONORS, _ADC_LAD
    qlist = ", ".join(str(x) for x in qids)
    d2 = _adc_chain(
        [
            f"(e[{sub}*j+{i}] - c[{sub}*j+{i}])"
            f" * (e[{sub}*j+{i}] - c[{sub}*j+{i}])"
            for i in range(1, sub + 1)
        ]
    )
    qd = _adc_chain(
        [f"qe[{sub}*j+{i}] * c[{sub}*j+{i}]" for i in range(1, sub + 1)]
    )
    n2 = _adc_chain(
        [f"c[{sub}*j+{i}] * c[{sub}*j+{i}]" for i in range(1, sub + 1)]
    )
    return f"""q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
           FROM embeddings WHERE vec_id IN ({qlist})),
cb AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) AS code,
              embedding::DOUBLE[] AS c
       FROM embeddings WHERE vec_id BETWEEN 1 AND {nd}),
d AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
      WHERE vec_id NOT IN ({qlist})),
asn AS (
  SELECT d.vec_id, u.j, cb.code, {d2} AS d2
  FROM d, cb, unnest(generate_series(0, {m - 1})) AS u(j)
),
pick AS (
  SELECT vec_id, j, code FROM (
    SELECT vec_id, j, code,
      ROW_NUMBER() OVER (PARTITION BY vec_id, j
                         ORDER BY d2 ASC, code ASC) AS rk
    FROM asn) WHERE rk = 1
),
tab AS (
  SELECT q.query_id, u.j, cb.code,
    CAST(FLOOR({qd} * {lad}.0) AS BIGINT) AS qd_lad,
    CAST(FLOOR({n2} * {lad}.0) AS BIGINT) AS n2_lad
  FROM cb, q, unnest(generate_series(0, {m - 1})) AS u(j)
),
sc AS (
  SELECT t.query_id, p.vec_id,
    CAST(SUM(t.qd_lad) AS BIGINT) AS adc_dot_lad,
    CAST(SUM(t.n2_lad) AS BIGINT) AS adc_nrm_lad
  FROM pick p JOIN tab t ON p.j = t.j AND p.code = t.code
  GROUP BY t.query_id, p.vec_id
),
scored AS (
  SELECT sc.query_id, sc.vec_id, adc_dot_lad, adc_nrm_lad,
    CASE WHEN adc_nrm_lad > 0 THEN
      (CAST(adc_dot_lad AS DOUBLE) / {lad}.0)
      / (sqrt({_fold_dot("qe", "qe")})
         * sqrt(CAST(adc_nrm_lad AS DOUBLE) / {lad}.0))
    ELSE -2.0 END AS adc_cosine
  FROM sc JOIN q ON sc.query_id = q.query_id
)"""


def _pq_adc_batch_oracle(qids: tuple[int, ...], k: int) -> str:
    """Batch variant of _pq_adc_oracle: per-query laddered ADC tables,
    per-query top-k (see _pq_adc_batch_prefix)."""
    return f"""
WITH {_pq_adc_batch_prefix(qids)}
SELECT query_id, vec_id, adc_dot_lad, adc_nrm_lad, adc_cosine FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY adc_cosine DESC, vec_id ASC) AS rk
  FROM scored
) WHERE rk <= {k}
ORDER BY query_id, adc_cosine DESC, vec_id ASC
"""


def _pq_batch_refined_oracle(
    qids: tuple[int, ...], k: int, mult: int
) -> str:
    """DuckDB replay of the BATCHED refined serve: per-query ladder-
    ADC shortlists of mult·k codes under the compressed oracle's
    total order, then ONLY those (query, id) pairs exact-rescored
    with the raw-vector fold cosine and re-ranked per query — the
    batch composition of _pq_refined_oracle, both stages
    deterministic so shortlist membership and the final per-query
    ranking replay bit-for-bit."""
    cos = (
        f"{_fold_dot('d.e', 'q.qe')} / (sqrt({_fold_dot('d.e', 'd.e')})"
        f" * sqrt({_fold_dot('q.qe', 'q.qe')}))"
    )
    return f"""
WITH {_pq_adc_batch_prefix(qids)},
short AS (
  SELECT query_id, vec_id, adc_cosine FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY adc_cosine DESC, vec_id ASC) AS rk
    FROM scored
  ) WHERE rk <= {mult * k}
),
ref AS (
  SELECT s.query_id, s.vec_id, s.adc_cosine, {cos} AS cosine
  FROM short s
  JOIN d ON d.vec_id = s.vec_id
  JOIN q ON q.query_id = s.query_id
)
SELECT query_id, vec_id, adc_cosine, cosine FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, vec_id ASC) AS rk
  FROM ref
) WHERE rk <= {k}
ORDER BY query_id, cosine DESC, vec_id ASC
"""


@register(
    "q_embedding_ivfpq_batch_topk",
    oracle=_pq_adc_batch_oracle(_IVFPQ_BATCH_QIDS, _IVFPQ_BATCH_K),
    doc="BATCHED IVF-PQ serving — the serving-matrix completion "
    "(ivf_index_topk_batch prunes a float index for a query batch; "
    "ivfpq_index_topk ADC-scores codes for one query; this does "
    "both): probe selection AND the per-query 2^20-laddered ADC dot "
    "tables are pure Catalyst (queries join the stored centroid and "
    "codebook tables — no query ever reaches the driver), the tables "
    "ride back to the broadcast probe rows as one m·k-entry map per "
    "query, the pruned code scan pays m map lookups + m literal-array "
    "lookups per (row, query), and per-query top-k is the keyed "
    "window. Exact-oracle (donor codebook, probe-all ≡ per-query flat "
    "ladder-ADC — pytest-pinned bit-for-bit, plus the dynamicpruning "
    "plan assertion at partial probes) "
    "(operators/similarity.py:ivfpq_index_topk_batch)",
    tags=("pipeline", "similarity"),
    invariants=(
        "tests/test_operators.py::test_ivfpq_index_topk_batch_matches_flat_and_prunes",
    ),
)
def q_embedding_ivfpq_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    queries = _ivfpq_batch_queries(spark, sf_dir)
    index_path = _ivfpq_batch_fixture_index(spark, sf_dir)
    return similarity.ivfpq_index_topk_batch(
        spark,
        index_path,
        queries,
        k=_IVFPQ_BATCH_K,
        n_probe=8,
        adc_ladder=_ADC_LAD,
    ).orderBy("query_id", F.desc("adc_cosine"), F.asc("vec_id"))


def _ivfpq_batch_queries(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.filter(
        F.col("vec_id").isin(list(_IVFPQ_BATCH_QIDS))
    ).select(F.col("vec_id").alias("query_id"), "embedding")


def _ivfpq_batch_fixture_index(spark: SparkSession, sf_dir: str) -> str:
    """Build-if-absent the pid-scoped IVF-PQ fixture shared by the
    batched compressed and batched refined serves (corpus = all but
    the two batch query ids; donor codebooks; 8 donor centroids)."""
    import os

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(~F.col("vec_id").isin(list(_IVFPQ_BATCH_QIDS)))
    index_path = _pid_scoped_index_path("bde_ivfpqb_", sf_dir)
    marker = os.path.join(index_path, "_built")
    if not os.path.exists(marker):
        cents = _donor_centroids(corpus, 8)
        books = _donor_pq_books(emb, _PQ_M, _PQ_SUB, _PQ_DONORS)
        similarity.build_ivfpq_index(corpus, index_path, cents, books)
        open(marker, "w").close()
    return index_path


@register(
    "q_embedding_ivfpq_batch_refined_topk",
    oracle=_pq_batch_refined_oracle(_IVFPQ_BATCH_QIDS, _IVFPQ_BATCH_K, 4),
    doc="BATCHED refined ANN serving — the shape a 100 TB serving "
    "fleet actually runs (r13 verdict task 1; refine is worthless at "
    "scale if it forces one plan per query): ivfpq_index_topk_batch "
    "over-fetches a per-query 4k ADC shortlist in ONE plan (pruned "
    "code scan, per-query 2^20-laddered ADC maps), then ONE exact "
    "re-rank stage broadcasts the Q·k' (query_id, vec_id) shortlist "
    "+ query vectors against the plain vector scan — Q·k' row "
    "lookups in one corpus pass, exact fold-cosine per (row, query), "
    "per-query WindowGroupLimit top-k. Both stages deterministic → "
    "exact gate from birth; probe-all batch-refined ≡ per-query "
    "ivfpq_index_refined_topk pytest-pinned bit-for-bit "
    "(operators/similarity.py:ivfpq_index_batch_refined_topk)",
    tags=("pipeline", "similarity"),
    invariants=(
        "tests/test_operators.py::test_ivfpq_batch_refined_matches_per_query_refined",
    ),
)
def q_embedding_ivfpq_batch_refined_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(~F.col("vec_id").isin(list(_IVFPQ_BATCH_QIDS)))
    queries = _ivfpq_batch_queries(spark, sf_dir)
    index_path = _ivfpq_batch_fixture_index(spark, sf_dir)
    return similarity.ivfpq_index_batch_refined_topk(
        spark,
        index_path,
        corpus,
        queries,
        k=_IVFPQ_BATCH_K,
        shortlist_mult=4,
        n_probe=8,
        adc_ladder=_ADC_LAD,
    ).orderBy("query_id", F.desc("cosine"), F.asc("vec_id"))


@register(
    "q_embedding_ivfpq_residual_topk",
    oracle=_rpq_adc_oracle(7, 10),
    doc="Residual IVF-PQ serve (by_residual=True — the FAISS "
    "default): codes quantize v − centroid(cell), so the byte budget "
    "covers only within-cell spread; serving reconstructs recon = "
    "c + r̂ via PER-CELL ADC tables (q·c, ‖c‖², and the c·r̂ coupling "
    "table per probed cell — n_probe pruned expression branches, "
    "identical I/O to the raw index). UNDER THE EXACT GATE since "
    "r12: coarse centroids and the residual codebook are both "
    "SQL-derivable (first-8 day-0 rows; donors 1..16's residuals), "
    "every per-cell table entry floor-frozen onto the 2^20 ladder — "
    "an oracle that replays cell assignment, residual encode, and "
    "the coupling tables end-to-end. The kmeans-trained residual "
    "path and the clustered-fixture MSE superiority stay pytest-"
    "pinned (operators/similarity.py:build_ivfpq_residual_index/"
    "ivfpq_residual_index_topk)",
    tags=("pipeline", "similarity"),
    invariants=(
        "tests/test_operators.py::test_ivfpq_residual_exact_cover_and_tighter_recon",
    ),
)
def q_embedding_ivfpq_residual_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import os

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter((F.col("vec_id") != 7) & (F.col("vec_id") % 10 != 0))
    day1 = emb.filter((F.col("vec_id") != 7) & (F.col("vec_id") % 10 == 0))
    query = emb.filter(F.col("vec_id") == 7).select("embedding")
    index_path = _pid_scoped_index_path("bde_rpq_", sf_dir)
    marker = os.path.join(index_path, "_built")
    if not os.path.exists(marker):
        cents = _donor_centroids(corpus, 8)
        # donor RESIDUAL codebook (SQL-derivable twin of the kmeans
        # fit): each donor's residual against ITS OWN argmax-cosine
        # cell, sliced per subspace — the same Python left-assoc
        # arithmetic the oracle's chains replay.
        donors = (
            emb.filter((F.col("vec_id") >= 1) & (F.col("vec_id") <= _PQ_DONORS))
            .orderBy("vec_id")
            .collect()
        )
        resids = []
        for r in donors:
            v = [float(x) for x in r["embedding"]]
            cell = similarity._rank_cells(v, cents, 1)[0]
            cvec = cents[cell - 1]
            resids.append([v[i] - cvec[i] for i in range(len(v))])
        books = [
            [rv[j * _PQ_SUB : (j + 1) * _PQ_SUB] for rv in resids]
            for j in range(_PQ_M)
        ]
        similarity.build_ivfpq_residual_index(
            corpus, index_path, cents, books
        )
        similarity.ivfpq_residual_index_append(day1, index_path)
        open(marker, "w").close()
    return similarity.ivfpq_residual_index_topk(
        spark, index_path, query, k=10, n_probe=8, adc_ladder=_ADC_LAD
    )


@register(
    "q_rerank_crossencoder",
    oracle=f"""
WITH {_TOKS_CTE},
q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 1),
d AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
      WHERE vec_id != 1),
cand AS (SELECT vec_id, cosine FROM (
  SELECT vec_id, {_COS} AS cosine,
         ROW_NUMBER() OVER (ORDER BY {_COS} DESC, vec_id ASC) AS rk
  FROM d, q
) WHERE rk <= 50),
qt AS (SELECT DISTINCT unnest(t) AS tok FROM toks WHERE doc = 1),
dt AS (SELECT doc, unnest(t) AS x FROM toks),
sc AS (SELECT dt.doc,
       CAST(SUM({_POLY.format(s="x")} % 997) AS BIGINT) AS ce_score
       FROM dt JOIN qt ON dt.x = qt.tok GROUP BY dt.doc)
SELECT cand.vec_id AS doc_id, cosine,
       COALESCE(sc.ce_score, 0) AS ce_score
FROM cand LEFT JOIN sc ON cand.vec_id = sc.doc
ORDER BY ce_score DESC, cosine DESC, doc_id ASC
LIMIT 10
""",
    doc="Retrieval stack completed: retrieve (exact cosine top-50) → "
    "RERANK (cross-encoder seam) → top-10. The reranker is an "
    "Arrow-batched pandas UDF over the SHORTLIST ONLY — the corpus "
    "never reaches the Python worker; a real ONNX/torch "
    "cross-encoder plugs into the scorer callable, and the default "
    "is the deterministic integer stand-in (per-occurrence "
    "query-token overlap weighted by poly-hash mod 997 — the "
    "multimodal fixture-codec discipline), which keeps the whole "
    "two-stage plan under the exact hash gate "
    "(operators/similarity.py:crossencoder_rerank)",
    tags=("pipeline", "similarity", "text"),
)
def q_rerank_crossencoder(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    query = emb.filter(F.col("vec_id") == 1).select("embedding")
    qtext = (
        docs.filter(F.col("doc_id") == 1).select("text").first()["text"]
    )
    cands = similarity.brute_force_topk(
        emb.filter(F.col("vec_id") != 1), query, k=50
    ).join(
        docs.select(F.col("doc_id").alias("vec_id"), "text"), "vec_id"
    )
    return similarity.crossencoder_rerank(
        cands,
        qtext.split(),
        k=10,
        id_col="vec_id",
        keep_cols=["cosine"],
    ).withColumnRenamed("vec_id", "doc_id")


_RECALL_K = 10


@register(
    "q_label_recall_at_k",
    oracle=f"""
WITH q AS (SELECT vec_id AS query_id, label AS qlab,
           embedding::DOUBLE[] AS qe FROM embeddings
           WHERE vec_id IN (1, 2, 3)),
d AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings
      WHERE vec_id NOT IN (1, 2, 3)),
ranked AS (
  SELECT query_id, qlab, d.label, {_COS} AS cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY {_COS} DESC, d.vec_id ASC) AS rk
  FROM d, q
),
rel AS (SELECT q.query_id, CAST(COUNT(*) AS BIGINT) AS n_rel
        FROM d, q WHERE d.label = q.qlab GROUP BY 1),
hits AS (SELECT query_id,
         CAST(SUM(CASE WHEN label = qlab THEN 1 ELSE 0 END) AS BIGINT)
           AS hits
         FROM ranked WHERE rk <= {_RECALL_K} GROUP BY 1)
SELECT hits.query_id AS query_id, rel.n_rel, hits.hits,
       CAST(hits.hits AS DOUBLE) / {_RECALL_K} AS precision_at_k,
       CAST(hits.hits AS DOUBLE)
         / CAST(LEAST(rel.n_rel, {_RECALL_K}) AS DOUBLE) AS recall_at_k
FROM hits JOIN rel ON hits.query_id = rel.query_id
ORDER BY query_id
""",
    doc="Labeled retrieval quality — precision@k and recall@k against "
    "the embedding table's class labels (the qrels stand-in): for "
    "each query, exact cosine top-10 over the corpus, hits = "
    "neighbours sharing the query's label, recall denominated by "
    "min(k, n_relevant) (the trec_eval convention). Completes the "
    "eval family beside AUC/PR/NDCG/MAP/MRR/ECE; per-query ranking "
    "is a keyed WindowGroupLimit over the broadcast query frame — "
    "the ivf_batch serving shape "
    "(operators/similarity.py:brute_force_topk_batch shape)",
    tags=("pipeline", "similarity", "ml"),
)
def q_label_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qids = [1, 2, 3]
    q = emb.filter(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlab"),
        similarity.as_double(F.col("embedding")).alias("__q"),
    )
    d = emb.filter(~F.col("vec_id").isin(qids)).select(
        "vec_id", "label", similarity.as_double(F.col("embedding")).alias("__e")
    )
    scored = d.crossJoin(F.broadcast(q)).select(
        "query_id",
        "qlab",
        "label",
        "vec_id",
        similarity.cosine_col(F.col("__e"), F.col("__q")).alias("cosine"),
    )
    wk = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("vec_id")
    )
    hits = (
        scored.withColumn("__rk", F.row_number().over(wk))
        .filter(F.col("__rk") <= _RECALL_K)
        .groupBy("query_id")
        .agg(
            F.sum((F.col("label") == F.col("qlab")).cast("long"))
            .cast("long")
            .alias("hits")
        )
    )
    rel = (
        d.crossJoin(F.broadcast(q.select("query_id", "qlab")))
        .filter(F.col("label") == F.col("qlab"))
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_rel"))
    )
    return (
        hits.join(rel, "query_id")
        .select(
            "query_id",
            "n_rel",
            "hits",
            (F.col("hits").cast("double") / F.lit(float(_RECALL_K))).alias(
                "precision_at_k"
            ),
            (
                F.col("hits").cast("double")
                / F.least(F.col("n_rel"), F.lit(_RECALL_K)).cast("double")
            ).alias("recall_at_k"),
        )
        .orderBy("query_id")
    )


_MIX_SEG = 32


def _mixlang_oracle() -> str:
    cs = ", ".join(
        f"len(list_filter(st, x -> list_contains({sql_array(m)}, x))) "
        f"AS c_{lang}"
        for lang, m in LANG_MARKERS.items()
    )
    return f"""
WITH toks AS (
  SELECT doc_id AS doc,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x != '') AS t
  FROM documents
),
segs AS (
  SELECT doc,
         unnest([t[(i-1)*{_MIX_SEG}+1 : i*{_MIX_SEG}]
                 FOR i IN generate_series(
                   1, CAST(ceil(len(t)/{_MIX_SEG}.0) AS BIGINT))]) AS st
  FROM toks WHERE len(t) > 0
),
scored AS (SELECT doc, {cs} FROM segs),
pred AS (
  SELECT doc, CASE
    WHEN c_en = 0 AND c_es = 0 AND c_de = 0 AND c_fr = 0 THEN 'unknown'
    WHEN c_en >= c_es AND c_en >= c_de AND c_en >= c_fr THEN 'en'
    WHEN c_es >= c_de AND c_es >= c_fr THEN 'es'
    WHEN c_de >= c_fr THEN 'de'
    ELSE 'fr' END AS p
  FROM scored
),
votes AS (
  SELECT doc, CAST(COUNT(*) AS BIGINT) AS n_segs,
    CAST(SUM(CASE WHEN p = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
    CAST(SUM(CASE WHEN p = 'es' THEN 1 ELSE 0 END) AS BIGINT) AS n_es,
    CAST(SUM(CASE WHEN p = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS n_de,
    CAST(SUM(CASE WHEN p = 'fr' THEN 1 ELSE 0 END) AS BIGINT) AS n_fr,
    CAST(SUM(CASE WHEN p = 'unknown' THEN 1 ELSE 0 END) AS BIGINT) AS n_un
  FROM pred GROUP BY doc
)
SELECT doc, n_segs,
  CASE
    WHEN n_en >= n_es AND n_en >= n_de AND n_en >= n_fr AND n_en >= n_un
      THEN 'en'
    WHEN n_es >= n_de AND n_es >= n_fr AND n_es >= n_un THEN 'es'
    WHEN n_de >= n_fr AND n_de >= n_un THEN 'de'
    WHEN n_fr >= n_un THEN 'fr'
    ELSE 'unknown' END AS majority_lang,
  GREATEST(n_en, n_es, n_de, n_fr, n_un) AS n_majority,
  1.0 - CAST(GREATEST(n_en, n_es, n_de, n_fr, n_un) AS DOUBLE)
      / CAST(n_segs AS DOUBLE) AS mix_fraction
FROM votes ORDER BY doc
"""


@register(
    "q_mixed_language_docs",
    oracle=_mixlang_oracle(),
    doc=f"Segment-level language consistency (the signal doc-level "
    f"lang-ID misses — a boilerplate header in one language atop a "
    f"body in another pollutes monolingual slices even when the "
    f"whole-doc argmax looks clean): language-ID every {_MIX_SEG}-"
    "token segment, majority vote with the fixed priority, report "
    "mix_fraction = 1 − n_majority/n_segs. ENTIRELY row-local — "
    "segments, per-segment argmax, and votes are one nested "
    "transform over the token array, no explode, no shuffle before "
    "the orderBy (operators/text_analysis.py:mixed_language_report)",
    tags=("pipeline", "text", "governance"),
)
def q_mixed_language_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_engineering_project_spark.operators.text_analysis import (
        mixed_language_report,
    )

    docs = spread(load_table(spark, sf_dir, "documents"))
    return mixed_language_report(docs, "doc_id", "text", _MIX_SEG).orderBy(
        "doc"
    )


def _pq_err_oracle(m: int, sub: int, n_cents: int) -> str:
    """Join formulation of the argmin-L2 assignment error: donors
    vec_id 1..n_cents ARE the codebook (their j-th subvectors are
    book j's entries — SQL-derivable, so the encode step sits under
    the hash gate); squared distances are explicit left-assoc 4-term
    chains matching Spark's sequential fold, mins are order-free,
    and the ladder quantization happens per (row, subspace) BEFORE
    any sum so every aggregate is an integer."""
    # left-assoc chain starting from 0.0, mirroring F.aggregate
    chain = "0.0"
    for i in range(1, sub + 1):
        t = (
            f"(e[{sub}*j+{i}] - c[{sub}*j+{i}])"
            f" * (e[{sub}*j+{i}] - c[{sub}*j+{i}])"
        )
        chain = f"({chain} + {t})"
    return f"""
WITH cents AS (SELECT embedding::DOUBLE[] AS c FROM embeddings
               WHERE vec_id BETWEEN 1 AND {n_cents}),
d AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
sub AS (
  SELECT d.vec_id, d.label, j, {chain} AS d2
  FROM d, cents, unnest(generate_series(0, {m - 1})) AS u(j)
),
mn AS (SELECT vec_id, label, j, MIN(d2) AS mind2 FROM sub GROUP BY 1, 2, 3),
lad AS (SELECT vec_id, label,
        CAST(SUM(CAST(FLOOR(mind2 * 1048576.0) AS BIGINT)) AS BIGINT) AS err
        FROM mn GROUP BY 1, 2)
SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(SUM(err) AS BIGINT) AS err_ladder,
       CAST(SUM(err) AS DOUBLE) / (COUNT(*) * 1048576.0) AS mean_err
FROM lad GROUP BY label ORDER BY label
"""


@register(
    "q_pq_reconstruction_error",
    oracle=_pq_err_oracle(_PQ_M, _PQ_SUB, _PQ_DONORS),
    doc="PQ assignment-quality monitoring under the EXACT gate (the "
    "first PQ-family member with a hash-matched oracle): per label, "
    "summed squared reconstruction error of the argmin-L2 code "
    "assignment against a SQL-derivable codebook (donor rows vec_id "
    "1..16 supply each subspace's 16 entries) — the drift number "
    "that triggers a quantizer refit/rebuild. Per-subspace mins are "
    "ladder-quantized (floor(min*2^20)) BEFORE any sum, so every "
    "aggregate is an order-free integer; one row-local codegen pass "
    "+ one map-side-combined groupBy "
    "(operators/similarity.py:pq_reconstruction_error)",
    tags=("pipeline", "similarity"),
)
def q_pq_reconstruction_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    # the SAME donor codebook the whole PQ/IVF-PQ family serves with
    # (shared helper — a drifted inline copy here would silently
    # monitor a different quantizer than the one deployed)
    books = _donor_pq_books(emb, _PQ_M, _PQ_SUB, _PQ_DONORS)
    return similarity.pq_reconstruction_error(
        emb, books, group_col="label"
    ).orderBy("label")


# --- deterministic split / data mixing (operators/sampling.py) ----------------


@register(
    "q_hash_split",
    oracle=f"""
SELECT source, split, COUNT(*) AS n_docs
FROM (
  SELECT source,
    CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
  FROM (SELECT source, {_POLY.format(s="text")} % 100 AS b FROM documents)
)
GROUP BY source, split
ORDER BY source, split
""",
    doc="Content-hash train/val/test split (80/10/10), counts by source — "
    "reproducible across engines/partitionings, no rand()",
    tags=("pipeline", "sampling"),
)
def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_engineering_project_spark.operators.sampling import with_split

    docs = spread(load_table(spark, sf_dir, "documents"))
    return (
        with_split(docs, "text", train_pct=80, val_pct=10)
        .groupBy("source", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("source", "split")
    )


_MIX_RATES = {"src0": 1.0, "src1": 0.5, "src2": 0.25}
_MIX_DEFAULT = 0.1


def _mix_case() -> str:
    # Integer thresholds — mirrors stratified_sample's clamped
    # round(rate·N) exactly (float rate*100 would admit an extra bucket
    # when the product rounds up in binary, e.g. 0.07*100 == 7.0000…01;
    # nonzero rates below one bucket clamp UP to 1, never to 0).
    def buckets(r: float) -> int:
        return max(1, int(round(r * 100))) if r > 0 else 0

    whens = " ".join(
        f"WHEN '{s}' THEN {buckets(r)}" for s, r in sorted(_MIX_RATES.items())
    )
    return f"CASE source {whens} ELSE {buckets(_MIX_DEFAULT)} END"


@register(
    "q_stratified_sample",
    oracle=f"""
SELECT source, COUNT(*) AS n_kept
FROM (
  SELECT source FROM (SELECT source, {_POLY.format(s="text")} % 100 AS b FROM documents)
  WHERE b < {_mix_case()}
)
GROUP BY source
ORDER BY source
""",
    doc="Deterministic per-source downsampling (data mixing): keep iff "
    "content-hash bucket < rate·100; nested/stable kept-sets",
    tags=("pipeline", "sampling"),
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_engineering_project_spark.operators.sampling import (
        stratified_sample,
    )

    docs = spread(load_table(spark, sf_dir, "documents"))
    kept = stratified_sample(docs, "text", "source", _MIX_RATES, _MIX_DEFAULT)
    return (
        kept.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_kept"))
        .orderBy("source")
    )


# --- temperature mixing weights -----------------------------------------------

_PACK_BUDGET = 2048


@register(
    "q_mixing_weights",
    oracle=f"""
WITH {_TOKS_CTE},
n AS (SELECT doc, len(t) AS n_toks FROM toks),
per AS (
  SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_toks) AS BIGINT) AS n_toks
  FROM documents d JOIN n ON n.doc = d.doc_id GROUP BY source
),
tot AS (SELECT CAST(SUM(n_toks) AS BIGINT) AS n_total FROM per),
sc AS (
  SELECT source, n_docs, n_toks,
         sqrt(n_toks / CAST(n_total AS DOUBLE)) AS scaled
  FROM per CROSS JOIN tot
),
z AS (SELECT SUM(CAST(scaled AS DECIMAL(18,12))) AS z FROM sc)
SELECT source, n_docs, n_toks, scaled / CAST(z AS DOUBLE) AS weight
FROM sc CROSS JOIN z ORDER BY source
""",
    doc="Temperature-scaled (α=0.5) data-mixing weights per source — "
    "sqrt not pow for cross-engine bit-reproducibility; decimal-"
    "stabilized normalizer",
    tags=("pipeline", "sampling"),
)
def q_mixing_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_engineering_project_spark.operators.sampling import (
        mixing_weights,
    )

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "n_toks_doc", F.size(dedup.tokens_col(F.col("text"))).cast("long")
    )
    return mixing_weights(docs, "source", "n_toks_doc").orderBy("source")


@register(
    "q_pack_sequences",
    oracle=f"""
WITH {_TOKS_CTE},
n AS (SELECT doc, len(t) AS n_toks FROM toks),
j AS (
  SELECT source, doc_id, n_toks
  FROM documents d JOIN n ON n.doc = d.doc_id WHERE n_toks > 0
),
c AS (
  SELECT source, doc_id, n_toks,
         SUM(n_toks) OVER (PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM j
)
SELECT source, doc_id, CAST(n_toks AS BIGINT) AS n_toks,
       CAST(floor((cum - n_toks) / {_PACK_BUDGET}) AS BIGINT) AS start_pack,
       CAST((cum - n_toks) % {_PACK_BUDGET} AS BIGINT) AS start_offset,
       CAST(floor((cum - 1) / {_PACK_BUDGET}) AS BIGINT) AS end_pack
FROM c ORDER BY source, doc_id
""",
    doc="Concat-and-chunk sequence packing (budget 2048) within source "
    "shards: per-doc (start_pack, start_offset, end_pack) via one "
    "per-shard window cumsum — parallel across shards, never a global "
    "single-partition running sum",
    tags=("pipeline", "sampling"),
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_engineering_project_spark.operators.sampling import (
        pack_assignments,
    )

    docs = (
        load_table(spark, sf_dir, "documents")
        .withColumn(
            "n_toks_doc", F.size(dedup.tokens_col(F.col("text"))).cast("long")
        )
        .filter(F.col("n_toks_doc") > 0)
    )
    return pack_assignments(
        docs, "doc_id", "n_toks_doc", _PACK_BUDGET, ("source",)
    ).orderBy("source", "doc_id")


# --- benchmark decontamination ------------------------------------------------

# Flag threshold: a train doc is contaminated when ≥ 20% of its own
# 3-gram shingles also appear in the eval split. Chosen on the fixture
# distribution (two cross-split near-dups sit at ~0.99; background
# vocabulary overlap tops out near 0.29) — discriminative, non-vacuous.
DECONTAM_TAU = 0.2


@register(
    "q_decontaminate_train",
    oracle=f"""
WITH {_TOKS_CTE},
{_HT_CTE},
{_HV_CTE},
sp AS (SELECT doc_id AS doc,
         CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
       FROM (SELECT doc_id, {_POLY.format(s="text")} % 100 AS b FROM documents)),
tr AS (SELECT hs.doc AS doc, len(hv) AS n_sh, unnest(hv) AS s
       FROM hs JOIN sp USING (doc) WHERE sp.split = 'train'),
ev AS (SELECT hs.doc AS eval_doc, unnest(hv) AS s
       FROM hs JOIN sp USING (doc) WHERE sp.split = 'test'),
rep AS (
  SELECT tr.doc AS doc,
         COUNT(DISTINCT tr.s) AS n_shared_shingles,
         COUNT(DISTINCT eval_doc) AS n_eval_docs,
         MIN(n_sh) AS n_sh
  FROM tr JOIN ev ON tr.s = ev.s
  GROUP BY tr.doc)
SELECT doc, n_shared_shingles, n_eval_docs,
       n_shared_shingles / CAST(n_sh AS DOUBLE) AS contaminated_frac
FROM rep
WHERE n_shared_shingles / CAST(n_sh AS DOUBLE) >= {DECONTAM_TAU}
ORDER BY doc
""",
    doc="Benchmark decontamination: train docs whose 3-gram shingles "
    "overlap the content-hash test split above tau — eval index "
    "broadcast, corpus never shuffled",
    headline=True,
    tags=("pipeline", "dedup", "sampling"),
)
def q_decontaminate_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Reuse the session-shared frames instead of re-shingling 90% of
    # the corpus from raw text: the hashed shingle table (warm after
    # any dedup query) joined with the persisted split assignment. The
    # doc-keyed join of two cached narrow frames is the in-session
    # stand-in for what production stores as one table (shingles +
    # split columns written together).
    docs = load_table(spark, sf_dir, "documents")
    joined = _shared_hashed(spark, sf_dir, NGRAM_N).join(
        _shared_splits(spark, sf_dir), "doc"
    )
    htrain = joined.filter(F.col("split") == "train").select("doc", "hv")
    heval = joined.filter(F.col("split") == "test").select("doc", "hv")
    return (
        dedup.contamination_report(
            docs, docs, "doc_id", "text", NGRAM_N,
            hashed_train=htrain, hashed_eval=heval,
        )
        .filter(F.col("contaminated_frac") >= DECONTAM_TAU)
        .orderBy("doc")
    )


# --- PII redaction (operators/redaction.py) -----------------------------------


def _pii_oracle() -> str:
    from big_data_engineering_project_spark.operators.redaction import PII_PATTERNS

    aug = (
        "aug AS (SELECT doc_id, text || ' contact user' || doc_id || "
        "'@mail.example.com call 555-123-4567 ip 10.0.0.' || (doc_id % 256) "
        "AS s0 FROM documents)"
    )
    ctes, prev = [aug], "aug"
    for i, (pattern, tag) in enumerate(PII_PATTERNS):
        carried = "".join(f"c{j}, " for j in range(i))
        ctes.append(
            f"r{i} AS (SELECT doc_id, {carried}"
            f"len(regexp_extract_all(s{i}, '{pattern}')) AS c{i}, "
            f"regexp_replace(s{i}, '{pattern}', '{tag}', 'g') AS s{i + 1} "
            f"FROM {prev})"
        )
        prev = f"r{i}"
    n = len(PII_PATTERNS)
    total = " + ".join(f"c{j}" for j in range(n))
    return (
        "WITH " + ",\n".join(ctes) + f"\nSELECT doc_id, s{n} AS redacted, "
        f"CAST({total} AS BIGINT) AS n_pii FROM {prev} "
        "ORDER BY doc_id"
    )


@register(
    "q_pii_redaction",
    oracle=_pii_oracle(),
    doc="PII scrub (email/phone/IPv4 → tags) + per-doc match count; "
    "JVM regexp only, patterns restricted to the Java∩RE2 regex subset",
    headline=True,
    tags=("pipeline", "text"),
)
def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_engineering_project_spark.operators.redaction import (
        pii_count_col,
        redact_col,
    )

    docs = spread(load_table(spark, sf_dir, "documents"))
    # Synthetic PII appended deterministically (fixture text is clean
    # word-soup): exercises every pattern on every row, hash-verified.
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com call 555-123-4567 ip 10.0.0."),
        (F.col("doc_id") % 256).cast("string"),
    )
    return docs.select(
        "doc_id",
        redact_col(raw).alias("redacted"),
        pii_count_col(raw).cast("long").alias("n_pii"),
    ).orderBy("doc_id")


# --- repetition quality signals (operators/text_analysis.py) ------------------


@register(
    "q_repetition_scores",
    oracle=f"""
WITH {_TOKS_CTE},
tok_counts AS (
  SELECT doc, tok, COUNT(*) AS c
  FROM (SELECT doc, unnest(t) AS tok FROM toks WHERE len(t) > 0)
  GROUP BY doc, tok
),
tok_stats AS (
  SELECT doc,
    SUM(CASE WHEN c > 1 THEN c ELSE 0 END) / CAST(SUM(c) AS DOUBLE)
      AS repeated_token_frac
  FROM tok_counts GROUP BY doc
),
gram_counts AS (
  SELECT doc, gram, COUNT(*) AS c
  FROM (
    SELECT doc, unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS gram
    FROM toks WHERE len(t) >= 2
  )
  GROUP BY doc, gram
),
gram_stats AS (
  SELECT doc, MAX(c) / CAST(SUM(c) AS DOUBLE) AS top_2gram_frac
  FROM gram_counts GROUP BY doc
)
SELECT t.doc AS doc_id, t.repeated_token_frac,
       COALESCE(g.top_2gram_frac, 0.0) AS top_2gram_frac
FROM tok_stats t LEFT JOIN gram_stats g ON t.doc = g.doc
ORDER BY doc_id
""",
    doc="Gopher-style repetition filters: repeated-token fraction + "
    "top-2-gram share (explode → map-side-combined keyed aggs)",
    tags=("pipeline", "text"),
)
def q_repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_engineering_project_spark.operators.text_analysis import (
        repetition_scores,
    )

    docs = load_table(spark, sf_dir, "documents")
    return repetition_scores(docs, "doc_id", "text").orderBy("doc_id")


# --- semantic clustering (ml.kmeans_assignments) ------------------------------


@register(
    "q_embedding_kmeans",
    oracle=None,  # iterative Lloyd's — not SQL-expressible → rows-only;
    # determinism + structure are pinned in tests/test_ml.py.
    doc="KMeans(k=4) semantic clusters over embeddings: cluster sizes "
    "(SemDeDup-style cluster-then-prune backbone)",
    tags=("pipeline", "similarity", "ml"),
    invariants=(
        "tests/test_pipeline_ops.py::test_kmeans_deterministic_and_covering",
        "tests/test_pipeline_ops.py::test_kmeans_beats_arbitrary_partition",
    ),
)
def q_embedding_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_engineering_project_spark.ml import kmeans_assignments

    emb = load_table(spark, sf_dir, "embeddings")
    return (
        kmeans_assignments(emb, k=4, seed=7)
        .groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n_vecs"))
        .orderBy("cluster")
    )


_LLOYD_K = 4
_LLOYD_ITER = 4
_LLOYD_LAD = 1 << 20


def _lloyd_d2fold(e: str, cl: str) -> str:
    return (
        f"list_reduce([CAST(0.0 AS DOUBLE)] + "
        f"list_transform(range(1, {_DIMS + 1}), "
        f"i -> ({e}[i] - {cl}[i]) * ({e}[i] - {cl}[i])), "
        "(acc, x) -> acc + x)"
    )


def _lloyd_cte_prefix() -> str:
    """Shared unrolled-iteration CTE chain of the Lloyd oracles,
    through the final assignment `af` (vec_id, cell, d2): per step,
    the assignment is a row_number argmin over left-assoc-fold
    squared-L2 (ties → lowest cluster ≡ Spark's array_position-
    first), the update is per-(cluster, dim) BIGINT ladder sums with
    the mean one fixed-shape double expression (CAST(s)/2^20/cnt —
    the identical operand order the Spark driver computes), empty
    clusters keep the previous center via LEFT JOIN. Center tables
    MATERIALIZED per step (the CTE-inlining blow-up guard)."""
    L = f"{float(_LLOYD_LAD)!r}"
    d2fold = _lloyd_d2fold

    parts = [
        f"""d AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
c0 AS MATERIALIZED (
  SELECT dn.cell, r.i, dn.e[r.i] AS val
  FROM (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) AS cell,
               embedding::DOUBLE[] AS e
        FROM embeddings WHERE vec_id BETWEEN 1 AND {_LLOYD_K}) dn,
       range(1, {_DIMS + 1}) r(i)
),
cl0 AS (SELECT cell, list(val ORDER BY i) AS cl FROM c0 GROUP BY cell)"""
    ]
    for t in range(_LLOYD_ITER):
        parts.append(
            f"""a{t} AS MATERIALIZED (
  SELECT vec_id, e, cell FROM (
    SELECT d.vec_id, d.e, c.cell,
           row_number() OVER (PARTITION BY d.vec_id
                              ORDER BY {d2fold('d.e', 'c.cl')} ASC,
                                       c.cell ASC) AS rn
    FROM d, cl{t} c) WHERE rn = 1
),
u{t} AS (
  SELECT a.cell, r.i,
         SUM(CAST(FLOOR(a.e[r.i] * {L}) AS BIGINT)) AS s,
         COUNT(*) AS cnt
  FROM a{t} a, range(1, {_DIMS + 1}) r(i)
  GROUP BY a.cell, r.i
),
c{t + 1} AS MATERIALIZED (
  SELECT c.cell, c.i,
         CASE WHEN u.cnt IS NOT NULL
              THEN CAST(u.s AS DOUBLE) / {L} / u.cnt
              ELSE c.val END AS val
  FROM c{t} c LEFT JOIN u{t} u ON u.cell = c.cell AND u.i = c.i
),
cl{t + 1} AS (SELECT cell, list(val ORDER BY i) AS cl
              FROM c{t + 1} GROUP BY cell)"""
        )
    parts.append(
        f"""af AS MATERIALIZED (
  SELECT vec_id, cell, d2 FROM (
    SELECT d.vec_id, c.cell, {d2fold('d.e', 'c.cl')} AS d2,
           row_number() OVER (PARTITION BY d.vec_id
                              ORDER BY {d2fold('d.e', 'c.cl')} ASC,
                                       c.cell ASC) AS rn
    FROM d, cl{_LLOYD_ITER} c) WHERE rn = 1
)"""
    )
    return "WITH " + ",\n".join(parts)


def _lloyd_oracle() -> str:
    L = f"{float(_LLOYD_LAD)!r}"
    return f"""{_lloyd_cte_prefix()}
SELECT CAST(cell AS INTEGER) AS cluster,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(SUM(CAST(FLOOR(d2 * {L}) AS BIGINT)) AS BIGINT) AS sse_lad
FROM af GROUP BY cell ORDER BY cluster"""


def _lloyd_init(emb: DataFrame) -> list[list[float]]:
    return [
        [float(x) for x in r["embedding"]]
        for r in emb.filter(
            (F.col("vec_id") >= 1) & (F.col("vec_id") <= _LLOYD_K)
        )
        .orderBy("vec_id")
        .collect()
    ]


@register(
    "q_embedding_kmeans_lloyd",
    oracle=_lloyd_oracle(),
    doc="Deterministic LADDERED Lloyd's k-means — ITERATIVE CLUSTERING "
    "under the exact cross-engine gate (the class that normally only "
    "gets rows-only; joins q_embedding_pca_power and the KLL sweep): "
    f"{_LLOYD_ITER} fixed assignment/update cycles from donor initial "
    "centers (vec_id 1..4), argmin fold-L2 assignment with "
    "array_position-first ties, per-(cluster, dim) BIGINT ladder-sum "
    "means, empty clusters keep their center; output per-cluster "
    "sizes + laddered within-cluster SSE. The MLlib path "
    "(q_embedding_kmeans — kmeans|| RNG init, engine-internal "
    "convergence) honestly stays rows-only; this row puts the Lloyd "
    "ITERATION itself under the hash gate "
    "(operators/similarity.py:lloyd_kmeans_ladder)",
    tags=("pipeline", "similarity", "ml"),
    invariants=(
        "tests/test_operators.py::test_lloyd_kmeans_ladder_monotone_sse",
    ),
)
def q_embedding_kmeans_lloyd(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.lloyd_kmeans_ladder(
        emb, _lloyd_init(emb), n_iter=_LLOYD_ITER, ladder=_LLOYD_LAD
    )


_SEMDEDUP_TAU = 0.35


def _semantic_lloyd_oracle() -> str:
    # Per-vector norms materialize ONCE and the fold-cosine is
    # computed once per pair in a subquery instead of twice
    # (SELECT + WHERE) with per-pair norm folds — 28 s → ~8 s at
    # sf0.1 (the full-sweep's slowest oracle, r13 "what's wrong" #2).
    # Bit-identical: sqrt(dot(e,e)) is the same IEEE value whether
    # computed per vector or per pair, and dot/(nrm_a·nrm_b) is the
    # same op sequence the Spark side folds.
    return f"""{_lloyd_cte_prefix()},
dn AS MATERIALIZED (
  SELECT vec_id, e, sqrt({_fold_dot('e', 'e')}) AS nrm FROM d
)
SELECT cluster, id_a, id_b, cosine FROM (
  SELECT CAST(a.cell AS INTEGER) AS cluster,
         a.vec_id AS id_a, b.vec_id AS id_b,
         {_fold_dot('da.e', 'db.e')} / (da.nrm * db.nrm) AS cosine
  FROM af a
  JOIN af b ON a.cell = b.cell AND a.vec_id < b.vec_id
  JOIN dn da ON da.vec_id = a.vec_id
  JOIN dn db ON db.vec_id = b.vec_id
)
WHERE cosine >= {_SEMDEDUP_TAU}
ORDER BY id_a, id_b"""


@register(
    "q_semantic_dedup_lloyd",
    oracle=_semantic_lloyd_oracle(),
    doc="SemDeDup with a fully REPLAYABLE clustering stage: the "
    "laddered-Lloyd partition bounds the pair space (quadratic only "
    "inside a cluster — at 100 TB k scales with the corpus), then "
    "exact fold-cosine ≥ τ inside each cluster. Unlike the "
    "MLlib-backed q_semantic_dedup_pairs (honestly rows-only: "
    "kmeans|| RNG init), EVERY stage here — the iterative clustering "
    "included — sits under the cross-engine hash gate "
    "(operators/similarity.py:semantic_neardup_pairs_lloyd)",
    tags=("pipeline", "similarity", "dedup", "ml"),
)
def q_semantic_dedup_lloyd(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.semantic_neardup_pairs_lloyd(
        emb,
        _lloyd_init(emb),
        tau=_SEMDEDUP_TAU,
        n_iter=_LLOYD_ITER,
        ladder=_LLOYD_LAD,
    )


# --- end-to-end curation pipeline ---------------------------------------------

_CURATION_MIN_QUALITY = 0.5


def _curation_oracle() -> str:
    lang_counts = ", ".join(
        f"len(list_filter(t, x -> list_contains({sql_array(m)}, x))) AS c_{lang}"
        for lang, m in LANG_MARKERS.items()
    )
    lang_case = """CASE
    WHEN c_en = 0 AND c_es = 0 AND c_de = 0 AND c_fr = 0 THEN 'unknown'
    WHEN c_en >= c_es AND c_en >= c_de AND c_en >= c_fr THEN 'en'
    WHEN c_es >= c_de AND c_es >= c_fr THEN 'es'
    WHEN c_de >= c_fr THEN 'de'
    ELSE 'fr'
  END"""
    quality = (
        "0.5 * LEAST(1.0, CAST(n AS DOUBLE) / 100.0) + 0.5 * (1.0 - swr)"
    )
    return f"""
WITH base AS (
  SELECT doc_id, source, text,
    list_filter(string_split_regex(lower(text), '\\s+'), x -> x != '') AS t
  FROM documents
),
feats AS (
  SELECT doc_id, source, text, len(t) AS n,
    len(list_filter(t, x -> list_contains({_SW_ARR}, x)))
      / CAST(GREATEST(len(t), 1) AS DOUBLE) AS swr,
    {lang_counts}
  FROM base
),
kept AS (
  SELECT doc_id, source, text, n
  FROM (SELECT *, {lang_case} AS lang FROM feats)
  WHERE ({quality}) >= {_CURATION_MIN_QUALITY} AND lang = 'en'
),
fp AS (
  SELECT doc_id, source, n, {_POLY.format(s="text")} AS f, text FROM kept
),
uniq AS (
  SELECT doc_id, source, n, text
  FROM (SELECT *, MIN(doc_id) OVER (PARTITION BY f) AS keeper FROM fp)
  WHERE doc_id = keeper
),
split AS (
  SELECT source, n,
    CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
  FROM (SELECT source, n, {_POLY.format(s="text")} % 100 AS b FROM uniq)
)
SELECT split, source, COUNT(*) AS n_docs, CAST(SUM(n) AS BIGINT) AS total_tokens
FROM split
GROUP BY split, source
ORDER BY split, source
"""


def curate_documents(docs: DataFrame, keep_text: bool = False) -> DataFrame:
    """The curation pass as a reusable frame transform: quality gate →
    lang-id filter (en) → deterministic hash split → exact dedup on the
    content fingerprint (min-id keeper). Returns one row per surviving
    document: (doc_id, source, split, n_tokens[, text]).

    Split stamping is content-hashed, so it commutes with dedup — it
    happens BEFORE the fingerprint shuffle, and unless `keep_text` the
    text body is dropped there too: the shuffle ships (ids, 8-byte
    fingerprint, split, counters), never document text. `keep_text` is
    for the corpus-write job, where the surviving text IS the output.
    """
    from pyspark.sql import Window

    from big_data_engineering_project_spark.operators.sampling import with_split
    from big_data_engineering_project_spark.operators.text_analysis import (
        fingerprint_col,
        text_profile_named,
    )

    # Single-pass token profile (one split + one fold per evaluation;
    # separate quality/lang/count expressions would re-tokenize ~10×
    # per row after projection collapse — see text_profile_col).
    prof = text_profile_named("text")
    kept = (
        docs.select("doc_id", "source", "text", prof.alias("_prof"))
        .filter(
            (F.col("_prof.quality") >= _CURATION_MIN_QUALITY)
            & (F.col("_prof.lang") == "en")
        )
        .select(
            "doc_id",
            "source",
            "text",
            F.col("_prof.n_tokens").alias("n_tokens"),
        )
    )
    carry = ["doc_id", "source", "split", "n_tokens"] + (
        ["text"] if keep_text else []
    )
    stamped = with_split(kept, "text").select(
        *carry, fingerprint_col(F.col("text")).alias("f")
    )
    # Min-id keeper as ONE min_by aggregation — partial-aggregable, so
    # a pathologically hot fingerprint (an empty/boilerplate doc
    # duplicated corpus-wide) collapses map-side before the exchange.
    # The previous Window.partitionBy(f) + min-over form put every
    # copy of a hot fingerprint in one unsplittable window partition
    # (the r7 hot-key audit; same class as the sliding-coverage fix).
    return (
        stamped.groupBy("f")
        .agg(F.min_by(F.struct(*carry), "doc_id").alias("__r"))
        .select(*[F.col(f"__r.{c}").alias(c) for c in carry])
    )


@register(
    "q_curation_pipeline",
    oracle=_curation_oracle(),
    doc="End-to-end training-data curation pass: quality gate → lang-id "
    "filter (en) → exact dedup on content fingerprint → deterministic "
    "hash split → corpus accounting by (split, source). One row-local "
    "projection chain + two keyed shuffles (fingerprint window, final "
    "agg) — the composition a 100 TB curation job runs nightly",
    headline=True,
    tags=("pipeline", "text", "dedup", "sampling"),
)
def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    return (
        curate_documents(docs)
        .groupBy("split", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
        .orderBy("split", "source")
    )


# --- end-to-end PRETRAINING data pipeline (r11 verdict task 5) ----------------
#
# The full production shape q_curation_pipeline only sketches: source
# gate → lang-ID → MinHash near-dup dedup (keep-best) → decontaminate
# against the eval split → token-budget mix → concat-and-chunk pack,
# with one accounting row PER STAGE so the interfaces between stages
# sit under a single exact oracle.

_PRETRAIN_MIX_PPM = {
    "src0": 300_000,
    "src1": 250_000,
    "src2": 250_000,
    "src3": 200_000,
}
_PRETRAIN_BUDGET = 4_000
_PRETRAIN_CHUNK = 512


def _pretrain_oracle() -> str:
    lang_counts = ", ".join(
        f"len(list_filter(t, x -> list_contains({sql_array(m)}, x))) AS c_{lang}"
        for lang, m in LANG_MARKERS.items()
    )
    lang_case = """CASE
    WHEN c_en = 0 AND c_es = 0 AND c_de = 0 AND c_fr = 0 THEN 'unknown'
    WHEN c_en >= c_es AND c_en >= c_de AND c_en >= c_fr THEN 'en'
    WHEN c_es >= c_de AND c_es >= c_fr THEN 'es'
    WHEN c_de >= c_fr THEN 'de'
    ELSE 'fr'
  END"""
    sig_items = ", ".join(
        f"list_min(list_transform(hv, h -> ({a} * h + {b}) % {P}))"
        for a, b in MINHASH_SEEDS
    )
    band_selects = "\n  UNION ALL ".join(
        f"SELECT doc, {band} AS band, ("
        + " + ".join(
            f"sig[{band * LSH_ROWS + r + 1}] * {B ** r}"
            for r in range(LSH_ROWS)
        )
        + f") % {P} AS bucket FROM sig"
        for band in range(LSH_BANDS)
    )
    ppm_case = (
        "CASE source "
        + " ".join(
            f"WHEN '{k}' THEN {v}"
            for k, v in sorted(_PRETRAIN_MIX_PPM.items())
        )
        + " ELSE 0 END"
    )
    jac = (
        "len(list_intersect(ha.hv, hb.hv)) / CAST(len(ha.hv) + len(hb.hv)"
        " - len(list_intersect(ha.hv, hb.hv)) AS DOUBLE)"
    )
    return f"""
WITH {_TOKS_CTE},
{_HT_CTE},
{_HV_CTE},
feats AS (SELECT doc, len(t) AS n_toks, {lang_counts} FROM toks),
ann AS (SELECT d.doc_id AS doc, d.source, f.n_toks, {lang_case} AS lang
        FROM documents d JOIN feats f ON f.doc = d.doc_id),
gpd AS (SELECT source,
  CAST(FLOOR((0.5 * LEAST(1.0, CAST(len(t) AS DOUBLE) / 100.0)
    + 0.5 * (1.0 - len(list_filter(t, x -> list_contains({_SW_ARR}, x)))
      / CAST(GREATEST(len(t), 1) AS DOUBLE))) * 1048576.0) AS BIGINT) AS q,
  COALESCE({_POLY.format(s="text")}, -1) AS fp
  FROM (SELECT source, text,
        list_filter(string_split_regex(lower(text), '\\s+'), x -> x != '') AS t
        FROM documents)),
gfc AS (SELECT fp, COUNT(*) AS nfp FROM gpd GROUP BY 1),
gag AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(q) AS BIGINT) AS sq,
        CAST(SUM(CASE WHEN nfp > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
        FROM gpd JOIN gfc USING (fp) GROUP BY 1),
passed AS (SELECT source FROM gag
  WHERE n_docs >= {_GATE_MIN_DOCS}
    AND CAST(sq AS DOUBLE) / (CAST(n_docs AS DOUBLE) * 1048576.0)
        >= {_GATE_MIN_Q}
    AND CAST(n_dup AS DOUBLE) / CAST(n_docs AS DOUBLE) <= {_GATE_MAX_DUP}),
kept1 AS (SELECT ann.* FROM ann JOIN passed USING (source)),
kept2 AS (SELECT * FROM kept1 WHERE lang = 'en'),
hs2 AS (SELECT hs.doc, hv FROM hs JOIN kept2 USING (doc)),
sig AS (SELECT doc, [{sig_items}] AS sig FROM hs2),
buckets AS (
  {band_selects}
),
cands AS (
  SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
  FROM buckets a JOIN buckets b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc < b.doc
),
pairs AS (
  SELECT doc_a, doc_b FROM cands
  JOIN hs2 ha ON doc_a = ha.doc
  JOIN hs2 hb ON doc_b = hb.doc
  WHERE {jac} >= {JACCARD_THRESHOLD}
),
losers AS (
  SELECT DISTINCT CASE WHEN (na.n_toks > nb.n_toks)
         OR (na.n_toks = nb.n_toks AND doc_a < doc_b)
         THEN doc_b ELSE doc_a END AS doc
  FROM pairs
  JOIN kept2 na ON na.doc = doc_a
  JOIN kept2 nb ON nb.doc = doc_b
),
kept3 AS (SELECT * FROM kept2 ANTI JOIN losers USING (doc)),
sp AS (SELECT doc_id AS doc, {_POLY.format(s="text")} % 100 AS b
       FROM documents),
ev AS (SELECT DISTINCT s FROM (
  SELECT unnest(hv) AS s FROM hs JOIN sp USING (doc) WHERE b >= 90)),
tr AS (SELECT hs.doc, len(hv) AS n_sh, unnest(hv) AS s
       FROM hs JOIN kept3 USING (doc)),
contam AS (
  SELECT tr.doc FROM tr JOIN ev USING (s)
  GROUP BY tr.doc, tr.n_sh
  HAVING COUNT(DISTINCT tr.s) / CAST(tr.n_sh AS DOUBLE) >= {DECONTAM_TAU}
),
kept4 AS (SELECT * FROM kept3 ANTI JOIN contam USING (doc)),
mw AS (
  SELECT doc, source, n_toks,
    CAST(COALESCE(SUM(n_toks) OVER (PARTITION BY source ORDER BY doc
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      AS tok_before,
    CAST((CAST({_PRETRAIN_BUDGET} AS BIGINT) * ({ppm_case}))
         // 1000000 AS BIGINT) AS sbudget
  FROM kept4
),
kept5 AS (SELECT * FROM mw WHERE tok_before < sbudget),
pk AS (SELECT k.doc, len(string_split(d.text, ' ')) AS np
       FROM kept5 k JOIN documents d ON d.doc_id = k.doc)
SELECT * FROM (
  SELECT CAST(0 AS BIGINT) AS stage_idx, 'raw' AS stage,
    (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS n_docs,
    (SELECT CAST(COALESCE(SUM(n_toks), 0) AS BIGINT) FROM ann) AS n_tokens,
    (SELECT CAST(COUNT(DISTINCT source) AS BIGINT) FROM documents) AS detail
  UNION ALL SELECT 1, 'source_gate',
    (SELECT CAST(COUNT(*) AS BIGINT) FROM kept1),
    (SELECT CAST(COALESCE(SUM(n_toks), 0) AS BIGINT) FROM kept1),
    (SELECT CAST(COUNT(*) AS BIGINT) FROM passed)
  UNION ALL SELECT 2, 'lang_id',
    (SELECT CAST(COUNT(*) AS BIGINT) FROM kept2),
    (SELECT CAST(COALESCE(SUM(n_toks), 0) AS BIGINT) FROM kept2),
    (SELECT CAST(COUNT(DISTINCT source) AS BIGINT) FROM kept2)
  UNION ALL SELECT 3, 'minhash_dedup',
    (SELECT CAST(COUNT(*) AS BIGINT) FROM kept3),
    (SELECT CAST(COALESCE(SUM(n_toks), 0) AS BIGINT) FROM kept3),
    (SELECT CAST(COUNT(*) AS BIGINT) FROM losers)
  UNION ALL SELECT 4, 'decontam',
    (SELECT CAST(COUNT(*) AS BIGINT) FROM kept4),
    (SELECT CAST(COALESCE(SUM(n_toks), 0) AS BIGINT) FROM kept4),
    (SELECT CAST(COUNT(*) AS BIGINT) FROM contam)
  UNION ALL SELECT 5, 'mix',
    (SELECT CAST(COUNT(*) AS BIGINT) FROM kept5),
    (SELECT CAST(COALESCE(SUM(n_toks), 0) AS BIGINT) FROM kept5),
    (SELECT CAST(COUNT(DISTINCT source) AS BIGINT) FROM kept5)
  UNION ALL SELECT 6, 'pack',
    (SELECT CAST(COUNT(*) AS BIGINT) FROM pk),
    (SELECT CAST(COALESCE(SUM(np), 0) AS BIGINT) FROM pk),
    (SELECT CAST(CASE WHEN COUNT(*) = 0 THEN 0
            ELSE (SUM(np) - 1) // {_PRETRAIN_CHUNK} + 1 END AS BIGINT)
     FROM pk)
) ORDER BY stage_idx
"""


@register(
    "q_pretrain_pipeline",
    oracle=_pretrain_oracle(),
    doc="END-TO-END pretraining-data pipeline — the full production "
    "composition (r11 verdict task 5), one exact-oracle accounting "
    "row per stage (stage_idx, stage, n_docs, n_tokens, detail): "
    "raw → SOURCE GATE (whole sources dropped by the "
    "min-docs/quality/dup thresholds; detail = sources passed) → "
    "LANG-ID (keep en; detail = sources remaining) → MINHASH "
    "NEAR-DUP DEDUP, keep-best (a doc drops when any verified "
    "Jaccard-≥0.5 neighbor has more tokens, ties to the lower id — "
    "the greedy production filter, deliberately not CC-transitive; "
    "detail = docs dropped) → DECONTAMINATE vs the content-hash test "
    "split's shingle index (≥20% own-shingle overlap drops a doc — "
    "eval-split members self-match and drop too; detail = docs "
    "dropped) → TOKEN-BUDGET MIX by source (greedy id-order fill of "
    "ppm·budget; detail = strata selected) → PACK into 512-token "
    "chunks (detail = chunk count). Scale shape: every stage ships "
    "ids/counters/hashed longs only — gate rows are (source, q_int, "
    "fp), dedup rides the shared hashed-shingle index, the mix "
    "window is per-source, and the pack join BROADCASTS the "
    "budget-bounded manifest so corpus text never shuffles "
    "(plan-audited). Survivor frames persist across the seven stage "
    "aggregates (operators/governance.py + dedup.py + sampling.py + "
    "text_analysis.py composed)",
    headline=True,
    tags=("pipeline", "governance", "dedup", "sampling", "text"),
)
def q_pretrain_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_engineering_project_spark.operators.governance import (
        source_gate_finish,
    )
    from big_data_engineering_project_spark.operators.sampling import (
        budget_mix_select,
    )
    from big_data_engineering_project_spark.operators.text_analysis import (
        fingerprint_col,
        pack_concat_chunks,
        text_profile_named,
    )

    docs = spread(load_table(spark, sf_dir, "documents"))
    # ONE corpus tokenization pass for everything per-doc the stages
    # need (n_tokens + lang + the gate's quality ladder + fingerprint):
    # the fused text_profile_col fold — measured 40 s → ~8 s at sf0.1,
    # because the naive form re-tokenized the corpus in every one of
    # the ~14 stage-accounting jobs. The frame is narrow (ids, counts,
    # an 8-byte fp — never text) and persists for the stage aggs.
    prof = text_profile_named("text")
    base = pin(
        docs.select(
            F.col("doc_id").alias("doc"),
            "source",
            prof.alias("_p"),
            F.coalesce(
                fingerprint_col(F.col("text")), F.lit(-1).cast("long")
            ).alias("fp"),
        ).select(
            "doc",
            "source",
            F.col("_p.n_tokens").cast("long").alias("n_toks"),
            F.col("_p.lang").alias("lang"),
            F.floor(F.col("_p.quality") * F.lit(1048576.0))
            .cast("long")
            .alias("q_int"),
            "fp",
        )
    )
    # gate verdicts from the SAME per-doc frame (source_gate_state's
    # arithmetic over the fused profile — identical expression tree,
    # see text_profile_col), finished by the shared batch/stream
    # finisher.
    state = base.groupBy("source", F.col("fp").alias("__fp")).agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.sum("q_int").cast("long").alias("__sq"),
    )
    # The survivor frames are id-sized; eager localCheckpoint both
    # materializes them ONCE and TRUNCATES lineage, so none of the 7
    # stage-accounting jobs (nor any broadcast-build job) can re-run
    # the gate/minhash/decontam sub-plans — measured 40 s → ~11 s at
    # sf0.1 (the graph family's auto-checkpoint discipline).
    passed = (
        source_gate_finish(
            state, _GATE_MIN_DOCS, _GATE_MIN_Q, _GATE_MAX_DUP
        )
        .filter(F.col("passed"))
        .select("source")
        .localCheckpoint(eager=True)
    )
    ann = base.select("doc", "source", "n_toks", "lang")
    kept1 = ann.join(F.broadcast(passed), "source")
    kept2 = kept1.filter(F.col("lang") == "en").localCheckpoint(
        eager=True
    )
    hashed2 = _shared_hashed(spark, sf_dir, NGRAM_N).join(
        kept2.select("doc"), "doc", "left_semi"
    )
    pairs = dedup.minhash_lsh_pairs(
        docs, "doc_id", "text",
        threshold=JACCARD_THRESHOLD, n=NGRAM_N, hashed=hashed2,
    )
    na = kept2.select(F.col("doc").alias("doc_a"), F.col("n_toks").alias("na"))
    nb = kept2.select(F.col("doc").alias("doc_b"), F.col("n_toks").alias("nb"))
    losers = (
        pairs.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            F.when(
                (F.col("na") > F.col("nb"))
                | ((F.col("na") == F.col("nb"))
                   & (F.col("doc_a") < F.col("doc_b"))),
                F.col("doc_b"),
            )
            .otherwise(F.col("doc_a"))
            .alias("doc")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    # kept3/kept4 stay LAZY: both are single anti-joins of frames that
    # are already checkpointed (kept2/losers/contam), so re-evaluating
    # them per consumer costs two cheap cached-input joins — while an
    # eager localCheckpoint costs a whole driver job roundtrip each.
    # Measured r14 (interleaved A/B, identical results): eager 12.9 s →
    # lazy 11.7 s median at sf0.1 in the same host window.
    kept3 = kept2.join(losers, "doc", "left_anti")
    heval = _shared_hashed(spark, sf_dir, NGRAM_N).join(
        _shared_splits(spark, sf_dir).filter(F.col("split") == "test"),
        "doc",
        "left_semi",
    ).select("doc", "hv")
    htrain = _shared_hashed(spark, sf_dir, NGRAM_N).join(
        kept3.select("doc"), "doc", "left_semi"
    ).select("doc", "hv")
    contam = (
        dedup.contamination_report(
            docs, docs, "doc_id", "text", NGRAM_N,
            hashed_train=htrain, hashed_eval=heval,
        )
        .filter(F.col("contaminated_frac") >= DECONTAM_TAU)
        .select("doc")
        .localCheckpoint(eager=True)
    )
    kept4 = kept3.join(contam, "doc", "left_anti")
    kept5 = (
        budget_mix_select(
            kept4, "source", "doc", "n_toks",
            _PRETRAIN_MIX_PPM, _PRETRAIN_BUDGET,
        )
        .withColumnRenamed("stratum", "source")
        .localCheckpoint(eager=True)
    )
    # pack joins the budget-BOUNDED manifest back to text by broadcast:
    # the corpus side stays a row-local scan, text never shuffles.
    # unspread scan for the pack join: spread()'s round-robin exchange
    # would ship the WHOLE corpus text before the broadcast probe
    # (measured +3 s at sf0.1); the plain scan keeps the broadcast
    # hash join right above the parquet read.
    sel_docs = load_table(spark, sf_dir, "documents").join(
        F.broadcast(kept5.select(F.col("id").alias("doc_id"))), "doc_id"
    )
    packed = pack_concat_chunks(sel_docs, _PRETRAIN_CHUNK, "doc_id", "text")

    def stamp(idx: int, name: str, agg_df: DataFrame) -> DataFrame:
        return agg_df.select(
            F.lit(idx).cast("long").alias("stage_idx"),
            F.lit(name).alias("stage"),
            "n_docs",
            "n_tokens",
            F.col("detail").cast("long").alias("detail"),
        )

    def counts_with(frame: DataFrame, detail_expr, tok_col: str = "n_toks"):
        # ONE job per stage: doc count + token sum + the stage's
        # detail metric in a single aggregate over the (persisted)
        # survivor frame.
        return frame.agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.coalesce(F.sum(tok_col), F.lit(0)).cast("long").alias(
                "n_tokens"
            ),
            detail_expr.alias("detail"),
        )

    def counts_x(frame: DataFrame, detail_df: DataFrame, tok_col="n_toks"):
        # detail lives on a DIFFERENT (tiny, persisted) frame: one agg
        # each, one-row crossJoin.
        agg = frame.agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.coalesce(F.sum(tok_col), F.lit(0)).cast("long").alias(
                "n_tokens"
            ),
        )
        return agg.crossJoin(detail_df)

    def one(df_: DataFrame, expr) -> DataFrame:
        return df_.agg(expr.cast("long").alias("detail"))

    rows = [
        stamp(0, "raw", counts_with(ann, F.countDistinct("source"))),
        stamp(1, "source_gate",
              counts_x(kept1, one(passed, F.count(F.lit(1))))),
        stamp(2, "lang_id",
              counts_with(kept2, F.countDistinct("source"))),
        stamp(3, "minhash_dedup",
              counts_x(kept3, one(losers, F.count(F.lit(1))))),
        stamp(4, "decontam",
              counts_x(kept4, one(contam, F.count(F.lit(1))))),
        stamp(5, "mix",
              counts_with(kept5, F.countDistinct("source"), "n_tokens")),
        stamp(6, "pack",
              counts_with(
                  packed,
                  F.coalesce(F.max("chunk_last") + 1, F.lit(0)),
                  "n_tokens",
              )),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("stage_idx")


# --- SemDeDup-style semantic dedup --------------------------------------------


@register(
    "q_semantic_dedup_pairs",
    oracle=None,  # KMeans clustering is iterative (not SQL-expressible)
    # → rows-only; pair correctness is pinned in tests/test_operators.py
    # (every returned pair is a true τ-pair, cosines exact vs the fold).
    doc="SemDeDup backbone: KMeans(k=4) clusters over embeddings, then "
    "embedding near-dup pairs INSIDE each cluster (cosine ≥ τ) — "
    "cluster-then-prune bounds the quadratic term per cluster without "
    "any ground-truth blocking label; at corpus scale the cluster "
    "assignment is a written partition column and pruning reads one "
    "cluster at a time",
    tags=("pipeline", "similarity", "dedup", "ml"),
    invariants=(
        "tests/test_operators.py::test_semantic_dedup_pairs_are_true_tau_pairs",
    ),
)
def q_semantic_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_engineering_project_spark.ml import kmeans_assignments

    emb = load_table(spark, sf_dir, "embeddings")
    assign = kmeans_assignments(emb, k=4, seed=7)
    clustered = emb.join(assign, "vec_id")
    return (
        similarity.blocked_neardup_pairs(clustered, "cluster", _NEARDUP_TAU)
        .select("id_a", "id_b", "cosine")  # cluster ids are an init-order
        # artifact — expose only the stable pair structure
        .orderBy("id_a", "id_b")
    )


# --- TF-IDF top terms per document -------------------------------------------


@register(
    "q_tfidf_top_terms",
    oracle="""
WITH toks AS (
  SELECT doc_id AS doc,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x != '') AS t
  FROM documents
),
ex AS (SELECT doc, unnest(t) AS term FROM toks),
tf AS (SELECT doc, term, COUNT(*) AS tf FROM ex GROUP BY 1, 2),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
n AS (SELECT COUNT(*) AS n FROM documents),
scored AS (
  SELECT doc, term, tf, df, CAST(tf AS DOUBLE) * n / df AS score
  FROM tf JOIN df USING (term) CROSS JOIN n
)
SELECT doc, term, tf, df, score
FROM (
  SELECT *, row_number() OVER (PARTITION BY doc ORDER BY score DESC, term) AS rn
  FROM scored
)
WHERE rn <= 5
ORDER BY doc, score DESC, term
""",
    doc="TF-IDF (linear inverse-frequency) top-5 terms per document: "
    "explode → tf/df aggs → broadcast-N join → per-doc top-k window",
    headline=True,
    tags=("pipeline", "text"),
)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_engineering_project_spark.operators.text_analysis import (
        tfidf_top_terms,
    )

    docs = load_table(spark, sf_dir, "documents")
    return tfidf_top_terms(docs, "doc_id", "text", k=5).orderBy(
        "doc", F.desc("score"), "term"
    )


# --- unigram-LM quality proxy -------------------------------------------------


@register(
    "q_mean_token_freq",
    oracle=f"""
WITH {_TOKS_CTE},
ex AS (SELECT doc, unnest(t) AS term FROM toks),
tf AS (SELECT doc, term, COUNT(*) AS tf FROM ex GROUP BY 1, 2),
tot AS (SELECT term, CAST(SUM(tf) AS BIGINT) AS cnt FROM tf GROUP BY 1),
n AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_total FROM tot),
agg AS (
  SELECT doc, CAST(SUM(tf) AS BIGINT) AS n_toks,
         CAST(SUM(tf * cnt) AS BIGINT) AS sum_freq
  FROM tf JOIN tot USING (term) GROUP BY doc
)
SELECT doc, n_toks, sum_freq,
       CAST(sum_freq AS DOUBLE)
         / (CAST(n_toks AS DOUBLE) * CAST(n_total AS DOUBLE)) AS mean_token_freq
FROM agg CROSS JOIN n
ORDER BY doc
""",
    doc="Unigram-LM quality proxy: per-doc mean corpus frequency of its "
    "tokens — integer-exact arithmetic, one double division (no ln)",
    tags=("pipeline", "text"),
)
def q_mean_token_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_engineering_project_spark.operators.text_analysis import (
        mean_token_freq,
    )

    docs = load_table(spark, sf_dir, "documents")
    return mean_token_freq(docs, "doc_id", "text").orderBy("doc")


# --- collocation mining (PMI-by-lift) ------------------------------------------

_COLLOC_MIN_COUNT = 5
_COLLOC_K = 20


@register(
    "q_collocations",
    oracle=f"""
WITH {_TOKS_CTE},
ex AS (SELECT unnest(t) AS term FROM toks),
uni AS (SELECT term, COUNT(*) AS cnt FROM ex GROUP BY 1),
big AS (
  SELECT t[i] AS term_a, t[i + 1] AS term_b, COUNT(*) AS n_ab
  FROM toks, UNNEST(range(1, len(t))) AS u(i)
  WHERE len(t) >= 2
  GROUP BY 1, 2
  HAVING COUNT(*) >= {_COLLOC_MIN_COUNT}
),
w AS (SELECT CAST(SUM(cnt) AS BIGINT) AS w FROM uni),
b AS (SELECT CAST(SUM(GREATEST(len(t) - 1, 0)) AS BIGINT) AS b FROM toks)
SELECT term_a, term_b, n_ab, c_a, c_b,
       CAST(n_ab AS DOUBLE) / b * w / c_a * w / c_b AS lift
FROM (
  SELECT big.*, ua.cnt AS c_a, ub.cnt AS c_b
  FROM big
  JOIN uni ua ON big.term_a = ua.term
  JOIN uni ub ON big.term_b = ub.term
) CROSS JOIN w CROSS JOIN b
ORDER BY lift DESC, term_a, term_b
LIMIT {_COLLOC_K}
""",
    doc="Collocation mining: top-20 adjacent bigrams by lift (the "
    "monotone core of PMI — no cross-engine ln), min-count floor "
    "against the hapax-pair pathology",
    headline=True,
    tags=("pipeline", "text"),
)
def q_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_engineering_project_spark.operators.text_analysis import (
        collocations,
    )

    docs = load_table(spark, sf_dir, "documents")
    # The operator's orderBy+limit already selects the total-ordered
    # top-k; re-sort is a no-op for the driver's sorted compare.
    return collocations(docs, "text", _COLLOC_MIN_COUNT, _COLLOC_K)


_VOCAB_NS = (10, 100, 1000)


@register(
    "q_vocab_coverage",
    oracle=f"""
WITH {_TOKS_CTE},
cnt AS (SELECT term, COUNT(*) AS c FROM (SELECT unnest(t) AS term FROM toks) GROUP BY 1),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS total FROM cnt),
ranked AS (
  SELECT c, row_number() OVER (ORDER BY c DESC, term) AS rn FROM cnt
)
SELECT n, CAST(SUM(c) AS BIGINT) AS covered_occurrences,
       total AS total_occurrences,
       CAST(SUM(c) AS DOUBLE) / total AS coverage
FROM ranked CROSS JOIN tot, unnest({list(_VOCAB_NS)}) AS u(n)
WHERE rn <= n
GROUP BY n, total ORDER BY n
""",
    doc="Vocabulary coverage curve: share of all token occurrences "
    "covered by the top-N most frequent terms (N = 10/100/1000) — the "
    "Zipf/tokenizer-planning diagnostic. Scale-correct selection: the "
    "top-1000 terms come from TakeOrdered (distributed top-k, total "
    "order c DESC/term ASC), never a global rank window over the "
    "vocabulary; the cumulative sums run on the 1000-row result. "
    "Headline-benched (r6): the only text-family two-phase "
    "top-k-then-bounded-rank shape in the timed set",
    headline=True,
    tags=("pipeline", "text"),
)
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    cnt = (
        docs.select(F.explode(dedup.tokens_col(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    from big_data_engineering_project_spark.operators.text_analysis import (
        vocab_coverage_from_counts,
    )

    return vocab_coverage_from_counts(cnt, list(_VOCAB_NS))


@register(
    "q_compression_ratio",
    oracle=None,  # zlib is a real external codec no SQL engine mirrors
    # → rows-only; determinism + repetitive<prose ordering pinned in
    # tests/test_pipeline_ops.py
    doc="DEFLATE compression ratio per doc (Gopher/MassiveText "
    "redundancy filter): Arrow-batched pandas UDF over the text "
    "column, pure map (no shuffle). Catches long-range/structural "
    "redundancy that token-level repetition heuristics miss",
    tags=("pipeline", "text"),
    invariants=(
        "tests/test_pipeline_ops.py::test_compression_ratio_orders_redundancy",
    ),
)
def q_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_engineering_project_spark.operators.text_analysis import (
        compression_ratio,
    )

    docs = spread(load_table(spark, sf_dir, "documents"))
    return compression_ratio(docs, "doc_id", "text").orderBy("doc")


# --- sliding-window exact-substring dedup signal --------------------------------

_SLIDE_K = 8


@register(
    "q_sliding_dup_coverage",
    oracle=f"""
WITH {_TOKS_CTE},
{_HT_CTE},
tk AS (SELECT doc, ht, len(ht) AS n FROM ht WHERE len(ht) >= {_SLIDE_K}),
g AS (
  SELECT doc, n, i - 1 AS s,
         list_reduce([0::BIGINT] + ht[i : i + {_SLIDE_K - 1}],
                     (acc, x) -> (acc * {B} + x) % {P}) AS g
  FROM tk, unnest(generate_series(1, n - {_SLIDE_K} + 1)) AS u(i)
),
occ AS (SELECT doc, s, COUNT(*) OVER (PARTITION BY g) AS n_occ FROM g),
rep AS (SELECT doc, s FROM occ WHERE n_occ > 1),
cov AS (
  SELECT doc, s,
         (s + {_SLIDE_K}) - GREATEST(s,
           COALESCE(MAX(s + {_SLIDE_K}) OVER (PARTITION BY doc ORDER BY s
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), s)) AS covered
  FROM rep
),
agg AS (
  SELECT doc, CAST(COUNT(*) AS BIGINT) AS n_dup_grams,
         CAST(SUM(covered) AS BIGINT) AS n_covered
  FROM cov GROUP BY doc
)
SELECT tk.doc AS doc, CAST(n AS BIGINT) AS n_toks,
       COALESCE(agg.n_dup_grams, 0) AS n_dup_grams,
       COALESCE(agg.n_covered, 0) AS n_covered,
       CAST(COALESCE(agg.n_covered, 0) AS DOUBLE) / n AS dup_coverage
FROM tk LEFT JOIN agg ON tk.doc = agg.doc ORDER BY tk.doc
""",
    doc=f"Exact-substring dedup signal (Lee et al. style): fraction of "
    f"token positions covered by a corpus-repeated {_SLIDE_K}-gram — "
    "SLIDING grams catch duplicated passages at any offset, unlike "
    "fixed segments. Interval-union coverage via integer window "
    "arithmetic (no double accumulation); one scan, hash-only shuffles",
    headline=True,  # r5: the heaviest new operator gets timed
    tags=("pipeline", "dedup"),
)
def q_sliding_dup_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.sliding_dup_coverage(
        docs, "doc_id", "text", _SLIDE_K
    ).orderBy("doc")


@register(
    "q_dup_span_excision",
    oracle=f"""
WITH {_TOKS_CTE},
{_HT_CTE},
tk AS (SELECT doc, ht, len(ht) AS n FROM ht WHERE len(ht) >= {_SLIDE_K}),
g AS (
  SELECT doc, i - 1 AS s,
         list_reduce([0::BIGINT] + ht[i : i + {_SLIDE_K - 1}],
                     (acc, x) -> (acc * {B} + x) % {P}) AS g
  FROM tk, unnest(generate_series(1, n - {_SLIDE_K} + 1)) AS u(i)
),
occ AS (SELECT doc, s, COUNT(*) OVER (PARTITION BY g) AS n_occ FROM g),
rep AS (SELECT doc, s FROM occ WHERE n_occ > 1),
cov AS (
  SELECT DISTINCT doc, s + j AS p
  FROM rep, unnest(generate_series(0, {_SLIDE_K - 1})) AS v(j)
),
pos AS (
  SELECT doc, i - 1 AS p, t[i] AS tok
  FROM toks, unnest(generate_series(1, len(t))) AS u(i)
),
kept AS (
  SELECT pos.doc, pos.p, pos.tok
  FROM pos LEFT JOIN cov ON pos.doc = cov.doc AND pos.p = cov.p
  WHERE cov.p IS NULL
),
ka AS (
  SELECT doc, CAST(COUNT(*) AS BIGINT) AS n_kept,
         string_agg(tok, ' ' ORDER BY p) AS cleaned
  FROM kept GROUP BY doc
)
SELECT toks.doc AS doc,
       CAST(COALESCE(len(toks.t), 0) AS BIGINT) AS n_toks,
       COALESCE(ka.n_kept, 0) AS n_kept,
       COALESCE(ka.cleaned, '') AS cleaned_text
FROM toks LEFT JOIN ka ON toks.doc = ka.doc ORDER BY doc
""",
    doc=f"Exact-substring dedup, the EXCISION half (ExactSubstr, Lee "
    f"et al.): REMOVE every token span covered by a corpus-repeated "
    f"{_SLIDE_K}-gram and emit the cleaned text — the form a training "
    "pipeline feeds downstream (cut the duplicated substring, keep "
    "the unique remainder). Islands merged with integer window "
    "arithmetic; text rebuilt by slicing the gaps between islands — "
    "tokens never explode, the one corpus shuffle is the doc-id join "
    "(operators/dedup.py:dup_span_excision)",
    headline=True,  # r11: the round's flagship dedup extension, timed
    tags=("pipeline", "dedup"),
)
def q_dup_span_excision(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.dup_span_excision(
        docs, "doc_id", "text", _SLIDE_K
    ).orderBy("doc")


# --- RAG chunking ---------------------------------------------------------------

_CHUNK_TOKENS = 64
_CHUNK_OVERLAP = 16
_CHUNK_STRIDE = _CHUNK_TOKENS - _CHUNK_OVERLAP


@register(
    "q_chunk_documents",
    oracle=f"""
WITH {_TOKS_CTE},
t2 AS (SELECT doc, t FROM toks WHERE len(t) > 0)
SELECT doc, i AS chunk_idx, i * {_CHUNK_STRIDE} AS start_tok,
       CAST(len(t[i * {_CHUNK_STRIDE} + 1 :
                  i * {_CHUNK_STRIDE} + {_CHUNK_TOKENS}]) AS BIGINT)
         AS n_toks_chunk,
       array_to_string(t[i * {_CHUNK_STRIDE} + 1 :
                         i * {_CHUNK_STRIDE} + {_CHUNK_TOKENS}], ' ')
         AS chunk_text
FROM t2, unnest(generate_series(0, (len(t) - 1) // {_CHUNK_STRIDE})) AS s(i)
ORDER BY doc, chunk_idx
""",
    doc=f"RAG chunking: overlapping {_CHUNK_TOKENS}-token windows "
    f"(stride {_CHUNK_STRIDE}) per document with exact offsets — fully "
    "row-local (transform + slice + one explode, zero shuffle); the "
    "preprocessing step every embed-and-index / long-context pipeline "
    "runs before its embedding UDF",
    tags=("pipeline", "text"),
)
def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_engineering_project_spark.operators.text_analysis import (
        chunk_documents,
    )

    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(
        docs, "doc_id", "text", _CHUNK_TOKENS, _CHUNK_OVERLAP
    ).orderBy("doc", "chunk_idx")


# --- bigram-LM weakest link + importance weights -------------------------------


@register(
    "q_bigram_min_prob",
    oracle=f"""
WITH {_TOKS_CTE},
t2 AS (SELECT doc, t FROM toks WHERE len(t) >= 2),
bg AS (
  SELECT doc, t[i] AS term_a, t[i + 1] AS term_b
  FROM t2, unnest(generate_series(1, len(t) - 1)) AS s(i)
),
cnt AS (SELECT term_a, term_b, COUNT(*) AS c_ab FROM bg GROUP BY 1, 2),
fst AS (SELECT term_a, SUM(c_ab) AS c_first FROM cnt GROUP BY 1),
db AS (SELECT DISTINCT doc, term_a, term_b FROM bg),
p AS (
  SELECT doc, CAST(c_ab AS DOUBLE) / c_first AS p
  FROM db JOIN cnt USING (term_a, term_b) JOIN fst USING (term_a)
)
SELECT doc, COUNT(*) AS n_distinct_bigrams, MIN(p) AS min_bigram_p
FROM p GROUP BY doc ORDER BY doc
""",
    doc="Weakest-link bigram score: per doc, MIN over adjacent pairs of "
    "the corpus conditional probability P(w2|w1) — the bigram-LM "
    "gibberish detector (one bad transition sinks the score). Exact "
    "integer ratios + order-independent MIN: no transcendental, no "
    "double accumulation",
    tags=("pipeline", "text"),
)
def q_bigram_min_prob(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_engineering_project_spark.operators.text_analysis import (
        bigram_min_prob,
    )

    docs = load_table(spark, sf_dir, "documents")
    return bigram_min_prob(docs, "doc_id", "text").orderBy("doc")


@register(
    "q_importance_weights",
    oracle=f"""
WITH {_TOKS_CTE},
tgt AS (SELECT doc_id AS doc, (lang = 'en') AS is_t FROM documents),
exf AS (
  SELECT toks.doc, unnest(t) AS term, is_t
  FROM toks JOIN tgt ON toks.doc = tgt.doc
),
counts AS (
  SELECT term, COUNT(*) AS c_all,
         SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS c_tgt
  FROM exf GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(c_all) AS BIGINT) AS n_all,
         CAST(SUM(c_tgt) AS BIGINT) AS n_tgt
  FROM counts
),
tf AS (SELECT doc, term, COUNT(*) AS tf FROM exf GROUP BY 1, 2),
agg AS (
  SELECT doc, CAST(SUM(tf) AS BIGINT) AS n_toks,
         CAST(SUM(tf * c_tgt) AS BIGINT) AS dot_target,
         CAST(SUM(tf * c_all) AS BIGINT) AS dot_all
  FROM tf JOIN counts USING (term) GROUP BY doc
)
SELECT doc, n_toks, dot_target, dot_all,
       CASE WHEN n_tgt > 0 THEN
         (CAST(dot_target AS DOUBLE) / CAST(n_tgt AS DOUBLE))
           / (CAST(dot_all AS DOUBLE) / CAST(n_all AS DOUBLE))
       ELSE NULL END AS weight
FROM agg CROSS JOIN tot ORDER BY doc
""",
    doc="DSIR-flavored data-selection weights (linear variant): rank "
    "every doc by target-likeness — (doc·target freq / N_target) / "
    "(doc·corpus freq / N_all) with lang='en' as the target subcorpus. "
    "All inner products are exact integer sums; the weight is two "
    "divisions in pinned operand order (the ln-based LLR form is not "
    "cross-engine bit-stable; this monotone linear form is)",
    tags=("pipeline", "sampling"),
)
def q_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_engineering_project_spark.operators.text_analysis import (
        importance_weights,
    )

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "is_target", F.col("lang") == "en"
    )
    return importance_weights(docs, "doc_id", "text", "is_target").orderBy(
        "doc"
    )


# --- KMV distinct-count sketch -------------------------------------------------

_KMV_K = 64

# KMV requires UNIFORM hashes, and the raw char-poly hash is NOT
# uniform for structured keys: sequential user-id strings share a long
# prefix, so their hashes land in a band a few thousand wide out of
# P ≈ 1e9 (measured: 150 fixture users → h values within 0.0009 % of
# each other → estimate 3.65e7, off by 5 orders of magnitude, and the
# self-consistent oracle could not see it). The fix is an affine
# scramble h' = (A·h + B) mod P: it maps the clustered band onto a
# low-discrepancy spread of [0, P) (equidistribution of {k·α}), is
# int64-safe (h·A < 8e17), and stays bit-identical cross-engine.
# tests/test_operators.py pins the estimator within ±40 % on seeded
# sequential populations — the failure mode that exposed this.
_KMV_A = 736_338_717
_KMV_B = 384_829_501


def _kmv_mix(h: F.Column) -> F.Column:
    return (h * _KMV_A + _KMV_B) % P


_KMV_MIX_SQL = f"(({{h}}) * {_KMV_A} + {_KMV_B}) % {P}"


# HLL needs uniformity in the LOW BITS specifically (register index =
# h & 4095), and an affine scramble cannot provide it for structured
# keys: affine maps send arithmetic progressions to arithmetic
# progressions mod P, so sequential user ids still cluster registers
# (measured at sf0.1: 1041 occupied vs 1256 expected → estimate 20 %
# low). The QUADRATIC mix (h² + A·h + B) mod P breaks the progression
# (Weyl equidistribution of quadratic sequences), is int64-safe
# (h < 2^30 → h² < 2^60, + A·h < 1.8e18 total), and replays
# bit-identically in any engine. Collisions: h1 ≠ h2 collide only when
# h1 + h2 ≡ -A (mod P) — one pair in ~P, same order as the poly hash
# itself. Measured occupancy after the fix: 1277 vs 1256 expected,
# estimate within 2 %.
def _hll_mix(h: F.Column) -> F.Column:
    return (h * h + h * _KMV_A + _KMV_B) % P


_HLL_MIX_SQL = f"(({{h}}) * ({{h}}) + ({{h}}) * {_KMV_A} + {_KMV_B}) % {P}"


def _kmv_oracle() -> str:
    poly_user = _KMV_MIX_SQL.format(h=_POLY.format(s="CAST(user_id AS VARCHAR)"))
    return f"""
WITH h AS (
  SELECT DISTINCT event_type, {poly_user} AS h FROM events
),
ranked AS (
  SELECT event_type, h,
         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
  FROM h
),
kth AS (SELECT event_type, h AS hk FROM ranked WHERE rn = {_KMV_K}),
exact AS (SELECT event_type, COUNT(*) AS exact_distinct FROM h GROUP BY 1)
SELECT e.event_type, e.exact_distinct,
       COALESCE(CAST({_KMV_K - 1} AS DOUBLE) * {P} / k.hk,
                CAST(e.exact_distinct AS DOUBLE)) AS kmv_estimate
FROM exact e LEFT JOIN kth k ON e.event_type = k.event_type
ORDER BY e.event_type
"""


@register(
    "q_kmv_distinct_users",
    oracle=_kmv_oracle(),
    doc=f"KMV (k-minimum-values, k={_KMV_K}) distinct-user sketch per "
    "event type, next to the exact count: estimate = (k-1)·P / h_(k) "
    "over the affine-scrambled deterministic poly-hash (see _KMV_A — "
    "the raw poly hash clusters on sequential keys and wrecked the "
    "estimate), so unlike HLL the sketch has an EXACT cross-engine "
    "oracle. The plan IS the sketch algebra (operators/sketches.py): "
    "two bounded hash aggregations (per-shard k-smallest, then merge "
    "= k smallest of the union), no window, no per-key global sort — "
    "partial-aggregatable across partitions/days like any counter "
    "(the r5 rank-window form sorted every distinct hash of a type in "
    "one task; plan-shape-tested gone)",
    tags=("pipeline", "sketch"),
)
def q_kmv_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_engineering_project_spark.operators.dedup import _char_poly_hash
    from big_data_engineering_project_spark.operators.sketches import (
        kmv_estimate_expr,
        kmv_sketch_agg,
    )

    ev = load_table(spark, sf_dir, "events")
    h = ev.select(
        "event_type",
        _kmv_mix(_char_poly_hash(F.col("user_id").cast("string"))).alias("h"),
    )
    sk = kmv_sketch_agg(h, ["event_type"], "h", k=_KMV_K)
    # exact count: two-phase distinct aggregation (partial dedup
    # map-side), NOT a pre-distinct()ed frame — one exchange fewer.
    exact = h.groupBy("event_type").agg(
        F.count_distinct("h").alias("exact_distinct")
    )
    return (
        exact.join(sk, "event_type")
        .select(
            "event_type",
            "exact_distinct",
            kmv_estimate_expr(F.col("kmv_sketch"), k=_KMV_K, prime=P).alias(
                "kmv_estimate"
            ),
        )
        .orderBy("event_type")
    )


def _kmv_setops_oracle() -> str:
    poly_user = _KMV_MIX_SQL.format(h=_POLY.format(s="CAST(user_id AS VARCHAR)"))
    return f"""
WITH h AS (
  SELECT DISTINCT event_type, {poly_user} AS h
  FROM events WHERE event_type IN ('click', 'purchase')
),
sk AS (
  SELECT event_type, h FROM (
    SELECT event_type, h,
           row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
    FROM h
  ) WHERE rn <= {_KMV_K}
),
m AS (SELECT DISTINCT h FROM sk ORDER BY h LIMIT {_KMV_K}),
flags AS (
  SELECT h,
         MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS in_a,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS in_b
  FROM sk GROUP BY 1
),
st AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS m_size,
         CAST(SUM(in_a * in_b) AS BIGINT) AS n_both,
         MAX(m.h) AS hk
  FROM m JOIN flags USING (h)
),
ex AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS union_exact,
         CAST(SUM(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS inter_exact
  FROM (
    SELECT user_id,
           MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS a,
           MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS b
    FROM events WHERE event_type IN ('click', 'purchase') GROUP BY 1
  )
)
SELECT union_exact, inter_exact, m_size, n_both,
       CASE WHEN m_size < {_KMV_K} THEN CAST(m_size AS DOUBLE)
            ELSE CAST({_KMV_K - 1} AS DOUBLE) * {P} / hk END AS kmv_union_est,
       (CAST(n_both AS DOUBLE) / m_size)
         * CASE WHEN m_size < {_KMV_K} THEN CAST(m_size AS DOUBLE)
                ELSE CAST({_KMV_K - 1} AS DOUBLE) * {P} / hk END
         AS kmv_inter_est
FROM st CROSS JOIN ex
"""


@register(
    "q_kmv_set_ops",
    oracle=_kmv_setops_oracle(),
    doc=f"KMV sketch ALGEBRA (k={_KMV_K}): distinct-user estimates for "
    "the UNION and INTERSECTION of the click and purchase populations "
    "from the two per-type sketches alone — merge = k smallest of the "
    "hash union, intersection via the ratio |M ∩ A ∩ B| / |M| "
    "(Beyer et al.). Exact counts sit beside the estimates. This is "
    "why KMV over a deterministic hash beats HLL here: set-operation "
    "results stay EXACTLY reproducible cross-engine, so even the "
    "estimator has a value-hash oracle. The per-type sketches come "
    "from the bounded two-level kmv_sketch_agg (no window, no per-key "
    "global sort) and the union sketch is kmv_merge_expr — the merge "
    "the docstrings promise is literally the registered plan; only 2k "
    "hashes feed the set algebra",
    tags=("pipeline", "sketch"),
)
def q_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_engineering_project_spark.operators.dedup import _char_poly_hash
    from big_data_engineering_project_spark.operators.sketches import (
        kmv_merge_expr,
        kmv_sketch_agg,
    )

    a_type, b_type = "click", "purchase"
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin(a_type, b_type)
    )
    h = ev.select(
        "event_type",
        _kmv_mix(_char_poly_hash(F.col("user_id").cast("string"))).alias("h"),
    )
    # Per-type sketches via the bounded two-level aggregation; all set
    # algebra below runs over the ≤ 2k exploded sketch values.
    sk_arr = kmv_sketch_agg(h, ["event_type"], "h", k=_KMV_K)
    sk = sk_arr.select("event_type", F.explode("kmv_sketch").alias("h"))
    # m = the merged sketch: k smallest of the union of the two
    # sketches — kmv_merge_expr IS the sketch-algebra merge.
    m = sk_arr.agg(
        kmv_merge_expr(F.collect_list("kmv_sketch"), k=_KMV_K).alias("__m")
    ).select(F.explode("__m").alias("h"))
    flags = sk.groupBy("h").agg(
        F.max(F.when(F.col("event_type") == a_type, 1).otherwise(0)).alias(
            "in_a"
        ),
        F.max(F.when(F.col("event_type") == b_type, 1).otherwise(0)).alias(
            "in_b"
        ),
    )
    st = (
        m.join(flags, "h")
        .agg(
            F.count(F.lit(1)).alias("m_size"),
            F.sum(F.col("in_a") * F.col("in_b")).alias("n_both"),
            F.max("h").alias("hk"),
        )
    )
    ex = (
        ev.groupBy("user_id")
        .agg(
            F.max(F.when(F.col("event_type") == a_type, 1).otherwise(0)).alias("a"),
            F.max(F.when(F.col("event_type") == b_type, 1).otherwise(0)).alias("b"),
        )
        .agg(
            F.count(F.lit(1)).alias("union_exact"),
            F.sum(
                F.when((F.col("a") == 1) & (F.col("b") == 1), 1).otherwise(0)
            ).alias("inter_exact"),
        )
    )
    union_est = F.when(
        F.col("m_size") < _KMV_K, F.col("m_size").cast("double")
    ).otherwise(F.lit(float(_KMV_K - 1)) * F.lit(P) / F.col("hk"))
    return st.crossJoin(F.broadcast(ex)).select(
        "union_exact",
        "inter_exact",
        "m_size",
        "n_both",
        union_est.alias("kmv_union_est"),
        ((F.col("n_both").cast("double") / F.col("m_size")) * union_est).alias(
            "kmv_inter_est"
        ),
    )


def _kmv_daily_merge_oracle() -> str:
    poly_user = _KMV_MIX_SQL.format(h=_POLY.format(s="CAST(user_id AS VARCHAR)"))
    return f"""
WITH h AS (
  SELECT DISTINCT event_type, {poly_user} AS h FROM events
),
ranked AS (
  SELECT event_type, h,
         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
  FROM h
),
kth AS (SELECT event_type, h AS hk FROM ranked WHERE rn = {_KMV_K}),
exact AS (SELECT event_type, COUNT(*) AS exact_distinct FROM h GROUP BY 1),
days AS (
  SELECT event_type, COUNT(DISTINCT CAST(ts AS DATE)) AS n_days
  FROM events GROUP BY 1
)
SELECT e.event_type, d.n_days, e.exact_distinct,
       COALESCE(CAST({_KMV_K - 1} AS DOUBLE) * {P} / k.hk,
                CAST(e.exact_distinct AS DOUBLE)) AS kmv_estimate
FROM exact e
JOIN days d ON e.event_type = d.event_type
LEFT JOIN kth k ON e.event_type = k.event_type
ORDER BY e.event_type
"""


@register(
    "q_kmv_daily_merge",
    oracle=_kmv_daily_merge_oracle(),
    doc=f"KMV sketch ROLLUP (k={_KMV_K}): per-(event_type, day) "
    "sketches re-aggregated to a whole-range distinct-user estimate "
    "per type with kmv_merge_expr — the day→range merge the sketch "
    "table of a real deployment performs (store daily sketches, "
    "answer arbitrary-range distinct queries without rescanning "
    "events). KMV's merge is EXACT algebra — the k smallest of the "
    "union of per-day k-smallest IS the k smallest of the union — so "
    "the oracle simply computes the direct whole-range sketch: the "
    "gate proves merged ≡ direct every round. Scale: the daily sketch "
    "table is tiny (≤ k longs per (type, day)); the merge shuffles "
    "only sketch arrays, never user hashes",
    tags=("pipeline", "sketch"),
)
def q_kmv_daily_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_engineering_project_spark.operators.dedup import _char_poly_hash
    from big_data_engineering_project_spark.operators.sketches import (
        kmv_estimate_expr,
        kmv_merge_expr,
        kmv_sketch_agg,
    )

    ev = load_table(spark, sf_dir, "events")
    h = ev.select(
        "event_type",
        F.to_date("ts").alias("day"),
        _kmv_mix(_char_poly_hash(F.col("user_id").cast("string"))).alias("h"),
    )
    daily = kmv_sketch_agg(h, ["event_type", "day"], "h", k=_KMV_K)
    merged = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        kmv_merge_expr(F.collect_list("kmv_sketch"), k=_KMV_K).alias("__sk"),
    )
    exact = h.groupBy("event_type").agg(
        F.count_distinct("h").alias("exact_distinct")
    )
    return (
        exact.join(merged, "event_type")
        .select(
            "event_type",
            F.col("n_days").cast("long").alias("n_days"),
            "exact_distinct",
            kmv_estimate_expr(F.col("__sk"), k=_KMV_K, prime=P).alias(
                "kmv_estimate"
            ),
        )
        .orderBy("event_type")
    )


def _hll_oracle() -> str:
    from big_data_engineering_project_spark.operators.sketches import (
        HLL_M,
        hll_estimate_sql,
        hll_rank_sql,
    )

    poly_user = _POLY.format(s="CAST(user_id AS VARCHAR)")
    return f"""
WITH h0 AS (SELECT event_type, {poly_user} AS h0 FROM events),
h AS (SELECT event_type, {_HLL_MIX_SQL.format(h='h0')} AS h FROM h0),
regs AS (SELECT event_type, h & {HLL_M - 1} AS j, MAX({hll_rank_sql('h')}) AS r
         FROM h GROUP BY 1, 2),
est AS ({hll_estimate_sql('regs', ['event_type'])}),
exact AS (SELECT event_type, COUNT(DISTINCT h) AS exact_distinct
          FROM h GROUP BY 1)
SELECT e.event_type, e.exact_distinct, est.hll_estimate
FROM exact e JOIN est USING (event_type)
ORDER BY event_type
"""


@register(
    "q_hll_distinct_users",
    oracle=_hll_oracle(),
    doc="HyperLogLog distinct-user estimate per event type beside the "
    "exact count — CONVERTED to the exact cross-engine gate in r14 by "
    "replacing the engine-internal register bytes (approx_count_"
    "distinct / DataSketches, whose layout no oracle can replay; that "
    "surface remains pytest-pinned in the streaming twin) with OPEN "
    "registers over the replayable scrambled poly-hash: register = "
    "low 12 bits, rank = integer CASE-ladder leading-zero count, "
    "estimate = alpha bias-corrected harmonic mean as a SCALED-INTEGER "
    "sum (one exactly-rounded IEEE division) with the linear-counting "
    "branch proven gate-safe by EXHAUSTIVE enumeration of its finite "
    "input domain (all 4096 possible zero-register counts; "
    "operators/sketches.py section comment). Same mergeable algebra "
    "as DataSketches at lgK=12, same plan shape as a word count: one "
    "register groupBy + one per-key fold — no set state, ~4096 rows "
    "per key regardless of cardinality",
    tags=("pipeline", "sketch"),
    invariants=(
        "tests/test_pipeline_ops.py::test_hll_estimate_within_error_bound",
        "tests/test_operators.py::test_hll_linear_counting_rounding_exhaustive",
    ),
)
def q_hll_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_engineering_project_spark.operators.dedup import _char_poly_hash
    from big_data_engineering_project_spark.operators.sketches import (
        hll_estimate_agg,
        hll_registers_agg,
    )

    ev = load_table(spark, sf_dir, "events")
    h = ev.select(
        "event_type",
        _hll_mix(_char_poly_hash(F.col("user_id").cast("string"))).alias("h"),
    )
    est = hll_estimate_agg(hll_registers_agg(h, ["event_type"], "h"), ["event_type"])
    exact = h.groupBy("event_type").agg(
        F.count_distinct("h").alias("exact_distinct")
    )
    return (
        exact.join(est, "event_type")
        .select("event_type", "exact_distinct", "hll_estimate")
        .orderBy("event_type")
    )


# --- duplicate clusters (pairs → connected components) -------------------------


def _cc_ctes() -> str:
    """Shared oracle prefix: n-gram-Jaccard pair graph → exact
    connected components via recursive-CTE reachability (`walk`)."""
    return f"""
WITH RECURSIVE {_TOKS_CTE},
{_HT_CTE},
{_HV_CTE},
sizes AS (SELECT doc, len(hv) AS n_sh FROM hs),
inv0 AS (SELECT doc, unnest(hv) AS s FROM hs),
hot AS (SELECT s FROM inv0 GROUP BY s
        HAVING COUNT(*) > GREATEST({MIN_SHINGLE_DF_CUT},
          CAST(FLOOR(CAST({MAX_SHINGLE_DF_FRAC} AS DOUBLE) * (SELECT COUNT(*) FROM hs)) AS BIGINT))),
inv AS (SELECT doc, s FROM inv0 ANTI JOIN hot USING (s)),
cand AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS inter
  FROM inv a JOIN inv b ON a.s = b.s AND a.doc < b.doc
  GROUP BY 1, 2
),
pairs AS (
  SELECT doc_a, doc_b
  FROM cand
  JOIN sizes sa ON doc_a = sa.doc
  JOIN sizes sb ON doc_b = sb.doc
  WHERE inter / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE) >= {JACCARD_THRESHOLD}
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
),
nodes AS (SELECT DISTINCT src AS doc FROM edges),
walk AS (
  SELECT doc, doc AS label FROM nodes
  UNION
  SELECT e.dst AS doc, w.label FROM walk w JOIN edges e ON e.src = w.doc
)"""


def _clusters_oracle() -> str:
    return (
        _cc_ctes()
        + "\nSELECT doc, MIN(label) AS keeper FROM walk GROUP BY doc ORDER BY doc"
    )


def _keep_best_oracle() -> str:
    return (
        _cc_ctes()
        + """,
comp AS (SELECT doc, MIN(label) AS cl FROM walk GROUP BY doc),
full_docs AS (
  SELECT d.doc_id, COALESCE(c.cl, d.doc_id) AS cluster, d.n_chars
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc
),
best AS (
  SELECT cluster, doc_id AS canonical_id FROM (
    SELECT cluster, doc_id,
           row_number() OVER (PARTITION BY cluster
                              ORDER BY n_chars DESC, doc_id ASC) AS rn
    FROM full_docs) WHERE rn = 1
)
SELECT f.doc_id, f.cluster, b.canonical_id,
       f.doc_id = b.canonical_id AS kept
FROM full_docs f JOIN best b USING (cluster)
ORDER BY f.doc_id
"""
    )


@register(
    "q_dedup_clusters",
    oracle=_clusters_oracle(),
    doc="Near-dup pairs → duplicate CLUSTERS: connected components of "
    "the n-gram-Jaccard pair graph, min-id keeper per component "
    "(Pregel-style min-label propagation over the edge list — the "
    "pairs→keeper step every production dedup runs after candidate "
    "verification; oracle is an exact recursive-CTE reachability)",
    tags=("pipeline", "dedup"),
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(
        docs,
        "doc_id",
        "text",
        threshold=JACCARD_THRESHOLD,
        n=NGRAM_N,
        max_bucket_size=MIN_SHINGLE_DF_CUT,
        max_bucket_frac=MAX_SHINGLE_DF_FRAC,
        hashed=_shared_hashed(spark, sf_dir, NGRAM_N),
    )
    return dedup.duplicate_clusters(pairs).orderBy("doc")


@register(
    "q_dedup_keep_best",
    oracle=_keep_best_oracle(),
    doc="Survivor selection — the keep LIST a dedup pass actually "
    "ships: near-dup clusters (connected components of the Jaccard "
    "pair graph) resolved to one quality-chosen canonical per cluster "
    "(max n_chars, ties to the smallest id — a total order, so the "
    "pick is partition-invariant), every corpus doc verdicted "
    "keep/drop. Generalizes the reference's order-based "
    "drop_duplicates keep='first' (NB:1889-1900) to quality-aware "
    "retention; the canonical pick is a partial-aggregable max_by per "
    "cluster — no per-cluster window, text never enters the shuffle "
    "(operators/dedup.py:keep_best)",
    tags=("pipeline", "dedup"),
)
def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(
        docs,
        "doc_id",
        "text",
        threshold=JACCARD_THRESHOLD,
        n=NGRAM_N,
        max_bucket_size=MIN_SHINGLE_DF_CUT,
        max_bucket_frac=MAX_SHINGLE_DF_FRAC,
        hashed=_shared_hashed(spark, sf_dir, NGRAM_N),
    )
    clusters = dedup.duplicate_clusters(pairs)
    return dedup.keep_best(docs, clusters, "doc_id", "n_chars").orderBy(
        "doc_id"
    )


# --- Count-min sketch: heavy-hitter frequency estimates ------------------------

_CM_T = 70  # heavy-hitter cutoff (exact count)


def _cm_oracle() -> str:
    from big_data_engineering_project_spark.operators.sketches import (
        CM_ROWS,
        CM_WIDTH,
    )

    seeds = ", ".join(f"({i}, {a}, {b})" for i, (a, b) in enumerate(CM_ROWS))
    poly_user = _POLY.format(s="CAST(user_id AS VARCHAR)")
    return f"""
WITH seeds(seed, a, b) AS (VALUES {seeds}),
hp AS (SELECT {poly_user} AS h FROM events),
counters AS (
  SELECT seed, ((h * a + b) % {P}) % {CM_WIDTH} AS bucket,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM hp CROSS JOIN seeds
  GROUP BY 1, 2
),
heavy AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_cnt,
         {poly_user} AS h
  FROM events
  GROUP BY user_id
  HAVING COUNT(*) >= {_CM_T}
)
SELECT e.user_id, e.exact_cnt, MIN(c.cnt) AS cm_estimate
FROM heavy e
CROSS JOIN seeds s
JOIN counters c
  ON c.seed = s.seed AND c.bucket = ((e.h * s.a + s.b) % {P}) % {CM_WIDTH}
GROUP BY e.user_id, e.exact_cnt
ORDER BY e.user_id
"""


@register(
    "q_cm_heavy_hitters",
    headline=True,
    oracle=_cm_oracle(),
    doc="Count-min sketch (depth 3 × width 64, deliberately narrow so "
    "collisions are EXERCISED, not dodged) frequency estimates for "
    f"heavy users (exact count ≥ {_CM_T}), next to the exact counts. "
    "Counters are integer sums over the portable affine-scrambled "
    "poly-hash, so unlike HLL the estimates are bit-identical "
    "cross-engine and the gate proves the whole estimator. Plan = the "
    "sketch algebra (operators/sketches.cm_counters): rows explode ×3 "
    "but map-side combine caps the exchange at depth·width groups per "
    "partition; the 192-row counter table broadcasts back for the "
    "point queries. pytest pins the one-sided error (estimate ≥ exact "
    "always; bounded overestimate)",
    tags=("pipeline", "sketch"),
)
def q_cm_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_engineering_project_spark.operators.dedup import _char_poly_hash
    from big_data_engineering_project_spark.operators.sketches import (
        cm_counters,
        cm_estimate,
    )

    # CM is a LINEAR sketch, so the counters built from per-user
    # (count) rows with weight=count are bit-identical to counters
    # built from the raw stream — and the per-user collapse is the
    # aggregation this query needs anyway for the exact column. The
    # expensive char-poly hash therefore runs once per DISTINCT user
    # (150 at sf0.01), not once per event row per branch.
    per_user = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .withColumn("h", _char_poly_hash(F.col("user_id").cast("string")))
    )
    counters = cm_counters(per_user, "h", weight_col="exact_cnt")
    heavy = per_user.filter(F.col("exact_cnt") >= _CM_T)
    return (
        cm_estimate(counters, heavy, "h")
        .select("user_id", "exact_cnt", "cm_estimate")
        .orderBy("user_id")
    )


# --- Weighted (πps) sampling + Horvitz-Thompson estimation --------------------

_WS_K = 1_000_000  # inclusion prob = min(1, n_chars·K / P) ≈ n_chars/1000


def _weighted_sample_oracle() -> str:
    from big_data_engineering_project_spark.operators.sampling import (
        HASH_P,
        SAMPLE_A,
        SAMPLE_B,
    )

    u = f"(({_POLY.format(s='text')}) * {SAMPLE_A} + {SAMPLE_B}) % {HASH_P}"
    thr = f"LEAST(n_chars * {_WS_K}, {HASH_P})"
    return f"""
WITH exact AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS exact_docs,
         CAST(SUM(n_chars) AS BIGINT) AS exact_chars
  FROM documents GROUP BY lang
),
samp AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_sampled,
         CAST(SUM((CAST({HASH_P} AS BIGINT) * 1000000) // {thr}) AS BIGINT) AS ht_docs_micro,
         CAST(SUM((n_chars * CAST({HASH_P} AS BIGINT) * 100) // {thr}) AS BIGINT)
           AS ht_chars_centi
  FROM documents
  WHERE {u} < {thr}
  GROUP BY lang
)
SELECT e.lang, e.exact_docs, e.exact_chars,
       COALESCE(s.n_sampled, 0) AS n_sampled,
       COALESCE(s.ht_docs_micro, 0) AS ht_docs_micro,
       COALESCE(s.ht_chars_centi, 0) AS ht_chars_centi
FROM exact e LEFT JOIN samp s ON e.lang = s.lang
ORDER BY e.lang
"""


@register(
    "q_weighted_sample_ht",
    oracle=_weighted_sample_oracle(),
    doc="Length-weighted πps Bernoulli sample of the corpus (include "
    "iff scrambled content-hash < n_chars·K — all-integer, so the "
    "selected SET is bit-reproducible cross-engine and across "
    "repartitions) with per-language Horvitz-Thompson estimates of "
    "document and char totals beside the exact values. The HT terms "
    "are integer micro/centi-units ((P·1e6) DIV threshold), so even "
    "the ESTIMATOR is combine-order-free — no float enters the plan. "
    "One narrow filter + one aggregation; the exact side is a second "
    "aggregation of the same scan. pytest pins HT unbiasedness "
    "(estimates within sampling error of the exact totals)",
    tags=("pipeline", "sampling"),
)
def q_weighted_sample_ht(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_engineering_project_spark.operators.sampling import (
        HASH_P,
        weighted_sample,
    )

    docs = spread(load_table(spark, sf_dir, "documents"))
    thr = F.least(
        F.col("n_chars").cast("long") * F.lit(_WS_K), F.lit(HASH_P)
    )
    sampled = weighted_sample(docs, "text", "n_chars", _WS_K).withColumn(
        "__thr", thr
    )
    samp = sampled.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.sum(F.expr(f"(CAST({HASH_P} AS BIGINT) * 1000000) DIV __thr")).alias(
            "ht_docs_micro"
        ),
        F.sum(F.expr(f"(n_chars * CAST({HASH_P} AS BIGINT) * 100) DIV __thr")).alias(
            "ht_chars_centi"
        ),
    )
    exact = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("exact_docs"),
        F.sum("n_chars").alias("exact_chars"),
    )
    return (
        exact.join(samp, "lang", "left")
        .select(
            "lang",
            "exact_docs",
            "exact_chars",
            F.coalesce("n_sampled", F.lit(0)).alias("n_sampled"),
            F.coalesce("ht_docs_micro", F.lit(0)).alias("ht_docs_micro"),
            F.coalesce("ht_chars_centi", F.lit(0)).alias("ht_chars_centi"),
        )
        .orderBy("lang")
    )


# --- Mergeable histogram quantile sketch (merged ≡ direct under the gate) ------


@register(
    "q_histogram_quantile_merge",
    headline=True,
    oracle="""
WITH hist AS (
  SELECT event_type, CAST(FLOOR("value" / 1.0) AS BIGINT) AS bucket,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2
),
cum AS (
  SELECT event_type, bucket,
         SUM(cnt) OVER (PARTITION BY event_type ORDER BY bucket
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c,
         SUM(cnt) OVER (PARTITION BY event_type) AS n
  FROM hist
)
SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
  MIN(CASE WHEN c >= (50 * n + 99) // 100 THEN bucket END) * 1.0 + 0.5 AS p50,
  MIN(CASE WHEN c >= (95 * n + 99) // 100 THEN bucket END) * 1.0 + 0.5 AS p95
FROM cum GROUP BY event_type ORDER BY event_type
""",
    doc="Mergeable quantile sketch: per-(type, day) fixed-width value "
    "histograms re-aggregated by counter ADDITION to whole-range "
    "sketches, then p50/p95 read off at all-integer target ranks "
    "(ceil(q·n) as (q·n + den−1) DIV den). The oracle computes the "
    "DIRECT histogram, so the gate proves merged ≡ direct — the "
    "quantile sibling of q_kmv_daily_merge, and the exact-oracle "
    "alternative to engine-internal t-digest (percentile_approx). "
    "Bucket counts bound both exchanges at n_buckets groups; the "
    "cumulative window runs over ≤ n_buckets rows per key, never "
    "value cardinality (operators/sketches.histogram_sketch)",
    tags=("pipeline", "sketch"),
)
def q_histogram_quantile_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_engineering_project_spark.operators.sketches import (
        histogram_quantile,
        histogram_sketch,
    )

    ev = load_table(spark, sf_dir, "events").withColumn(
        "__day", F.to_date("ts")
    )
    per_day = histogram_sketch(ev, ["event_type", "__day"], "value", width=1.0)
    merged = per_day.groupBy("event_type", "bucket").agg(
        F.sum("cnt").alias("cnt")
    )
    return histogram_quantile(
        merged,
        ["event_type"],
        [(50, 100, "p50"), (95, 100, "p95")],
        width=1.0,
    ).orderBy("event_type")


# --- HDR log-bucket rank sketch (relative-error twin of the above) ------------


def _hdr_oracle() -> str:
    from big_data_engineering_project_spark.operators.sketches import (
        hdr_bucket_sql,
        hdr_lower_bound_sql,
    )

    bucket = hdr_bucket_sql("v", div="//")
    return f"""
WITH vals AS (
  SELECT event_type, CAST(FLOOR("value" * 1000) AS BIGINT) AS v FROM events
),
sk AS (
  SELECT event_type, {bucket} AS idx, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM vals GROUP BY 1, 2
),
cum AS (
  SELECT event_type, idx,
         SUM(cnt) OVER (PARTITION BY event_type ORDER BY idx
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c,
         SUM(cnt) OVER (PARTITION BY event_type) AS n
  FROM sk
),
picked AS (
  SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
    MIN(CASE WHEN c >= (50 * n + 99) // 100 THEN idx END) AS i50,
    MIN(CASE WHEN c >= (95 * n + 99) // 100 THEN idx END) AS i95,
    MIN(CASE WHEN c >= (99 * n + 99) // 100 THEN idx END) AS i99
  FROM cum GROUP BY event_type
)
SELECT event_type, n,
  CAST({hdr_lower_bound_sql('i50', div='//')} AS BIGINT) AS p50_micro,
  CAST({hdr_lower_bound_sql('i95', div='//')} AS BIGINT) AS p95_micro,
  CAST({hdr_lower_bound_sql('i99', div='//')} AS BIGINT) AS p99_micro
FROM picked
ORDER BY event_type
"""


@register(
    "q_hdr_quantile_merge",
    oracle=_hdr_oracle(),
    doc="HDR-style log-bucket rank sketch (hdrhistogram.org; DDSketch "
    "family, Masson et al. VLDB 2019): per-(type, day) sketches of "
    "integer micro-unit values bucketed by MAGNITUDE — exponent = "
    "bit-length−1 via length(bin(v)), identical strings in both "
    "engines, plus 5 mantissa bits — merged by counter addition, "
    "p50/p95/p99 read off as exact integer bucket lower bounds. The "
    "relative-error twin of q_histogram_quantile_merge: fixed-width "
    "buckets need the value range known up front, log buckets give "
    "≤ 2^-5 ≈ 3.1% relative error over the whole 63-bit range with "
    "≤ 63·32 buckets and no range knowledge — the sketch you deploy "
    "at 100 TB when the domain is unknown. All-integer end to end "
    "(no float log), so the ITERATIVE-free merge path holds an exact "
    "oracle where engine-internal t-digest cannot "
    "(operators/sketches.py:hdr_sketch)",
    tags=("pipeline", "sketch"),
)
def q_hdr_quantile_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_engineering_project_spark.operators.sketches import (
        hdr_quantile,
        hdr_sketch,
    )

    ev = (
        load_table(spark, sf_dir, "events")
        .withColumn("__day", F.to_date("ts"))
        .withColumn("v", F.expr('CAST(FLOOR(value * 1000) AS BIGINT)'))
    )
    per_day = hdr_sketch(ev, ["event_type", "__day"], "v")
    merged = per_day.groupBy("event_type", "idx").agg(
        F.sum("cnt").alias("cnt")
    )
    return hdr_quantile(
        merged,
        ["event_type"],
        [(50, 100, "p50_micro"), (95, 100, "p95_micro"), (99, 100, "p99_micro")],
    ).orderBy("event_type")


def _hll_merge_oracle() -> str:
    from big_data_engineering_project_spark.operators.sketches import (
        HLL_M,
        hll_estimate_sql,
        hll_rank_sql,
    )

    poly_user = _POLY.format(s="CAST(user_id AS VARCHAR)")
    return f"""
WITH h0 AS (SELECT event_type, CAST(ts AS DATE) AS day, {poly_user} AS h0
            FROM events),
h AS (SELECT event_type, day, {_HLL_MIX_SQL.format(h='h0')} AS h FROM h0),
daily AS (SELECT event_type, day, h & {HLL_M - 1} AS j,
                 MAX({hll_rank_sql('h')}) AS r
          FROM h GROUP BY 1, 2, 3),
mregs AS (SELECT event_type, j, MAX(r) AS r FROM daily GROUP BY 1, 2),
dregs AS (SELECT event_type, h & {HLL_M - 1} AS j, MAX({hll_rank_sql('h')}) AS r
          FROM h GROUP BY 1, 2),
em AS ({hll_estimate_sql('mregs', ['event_type'], out_col='est_merged')}),
ed AS ({hll_estimate_sql('dregs', ['event_type'], out_col='est_direct')}),
exact AS (SELECT event_type, COUNT(DISTINCT h) AS exact FROM h GROUP BY 1)
SELECT event_type, est_merged, est_direct, exact
FROM em JOIN ed USING (event_type) JOIN exact USING (event_type)
ORDER BY event_type
"""


@register(
    "q_hll_daily_merge",
    oracle=_hll_merge_oracle(),
    doc="Mergeable HLL rollup — per-(type, day) OPEN register tables "
    "re-aggregated to a whole-range distinct estimate with a plain "
    "MAX per register (register-space union, lossless exactly like "
    "same-lgK DataSketches union), beside the direct whole-range "
    "sketch and the exact count: the continuous-aggregate pattern at "
    "100 TB — daily sketches persist as ≤4096 (j, r) rows per (type, "
    "day), arbitrary-range distinct queries re-aggregate WITHOUT "
    "rescanning events. CONVERTED to the exact gate in r14 (was "
    "DataSketches hll_union_agg, rows-only by register opacity; the "
    "native surface stays pytest-pinned in streaming/scd2.run_hll_"
    "stream): merged ≡ direct is now PROVEN by the cross-engine hash "
    "every round, not just asserted in-session",
    tags=("pipeline", "sketch"),
    invariants=(
        "tests/test_operators.py::test_hll_daily_merge_equals_direct",
    ),
)
def q_hll_daily_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_engineering_project_spark.operators.dedup import _char_poly_hash
    from big_data_engineering_project_spark.operators.sketches import (
        hll_estimate_agg,
        hll_registers_agg,
    )

    ev = load_table(spark, sf_dir, "events")
    h = ev.select(
        "event_type",
        F.to_date("ts").alias("day"),
        _hll_mix(_char_poly_hash(F.col("user_id").cast("string"))).alias("h"),
    )
    daily = hll_registers_agg(h, ["event_type", "day"], "h")
    mregs = daily.groupBy("event_type", "j").agg(F.max("r").alias("r"))
    est_m = hll_estimate_agg(mregs, ["event_type"], out_col="est_merged")
    est_d = hll_estimate_agg(
        hll_registers_agg(h, ["event_type"], "h"),
        ["event_type"],
        out_col="est_direct",
    )
    exact = h.groupBy("event_type").agg(F.count_distinct("h").alias("exact"))
    return (
        est_m.join(est_d, "event_type")
        .join(exact, "event_type")
        .select("event_type", "est_merged", "est_direct", "exact")
        .orderBy("event_type")
    )


@register(
    "q_dedup_incremental_rs",
    oracle=f"""
WITH {_TOKS_CTE},
{_HT_CTE},
{_HV_CTE},
hn AS (SELECT * FROM hs WHERE doc % 10 = 0),
hc AS (SELECT * FROM hs WHERE doc % 10 <> 0),
invc0 AS (SELECT doc, unnest(hv) AS s FROM hc),
hot AS (SELECT s FROM invc0 GROUP BY s
        HAVING COUNT(*) > GREATEST({MIN_SHINGLE_DF_CUT},
          CAST(FLOOR(CAST({MAX_SHINGLE_DF_FRAC} AS DOUBLE) * (SELECT COUNT(*) FROM hc)) AS BIGINT),
          1)),
invc AS (SELECT doc, s FROM invc0 ANTI JOIN hot USING (s)),
invn AS (SELECT doc, s FROM (SELECT doc, unnest(hv) AS s FROM hn)
         ANTI JOIN hot USING (s)),
pairs AS (
  SELECT a.doc AS new_id, b.doc AS corpus_id, COUNT(*) AS inter
  FROM invn a JOIN invc b ON a.s = b.s
  GROUP BY 1, 2
)
SELECT new_id, corpus_id,
       inter / CAST(sn.n_sh + sc.n_sh - inter AS DOUBLE) AS jaccard
FROM pairs
JOIN (SELECT doc, len(hv) AS n_sh FROM hn) sn ON new_id = sn.doc
JOIN (SELECT doc, len(hv) AS n_sh FROM hc) sc ON corpus_id = sc.doc
WHERE inter / CAST(sn.n_sh + sc.n_sh - inter AS DOUBLE)
      >= {JACCARD_THRESHOLD}
ORDER BY new_id, corpus_id
""",
    doc="INCREMENTAL near-dup (R-S set-similarity join): the new batch "
    "(doc_id % 10 = 0) matched against the existing corpus (the rest) "
    "by n-gram Jaccard — the daily-ingest dedup step, O(new × "
    "corpus-bucket) instead of re-pairing the whole corpus "
    "(q_dedup_ngram_jaccard is the O(corpus²) self-join twin). "
    "Stop-shingle cut from CORPUS statistics applied to both sides; "
    "PPJoin size filter inside the join; shares the session-persisted "
    "shingle table with the other dedup queries "
    "(operators/dedup.py:ngram_jaccard_rs)",
    headline=True,
    tags=("pipeline", "dedup", "join"),
)
def q_dedup_incremental_rs(spark: SparkSession, sf_dir: str) -> DataFrame:
    shared = _shared_hashed(spark, sf_dir, NGRAM_N)
    return dedup.ngram_jaccard_rs(
        None,
        None,
        "doc_id",
        "text",
        threshold=JACCARD_THRESHOLD,
        n=NGRAM_N,
        max_bucket_size=MIN_SHINGLE_DF_CUT,
        max_bucket_frac=MAX_SHINGLE_DF_FRAC,
        hashed_new=shared.filter(F.col("doc") % 10 == 0),
        hashed_corpus=shared.filter(F.col("doc") % 10 != 0),
    ).orderBy("new_id", "corpus_id")


_LEAK_T = 0.35


@register(
    "q_split_neardup_leakage",
    oracle=f"""
WITH {_TOKS_CTE},
{_HT_CTE},
{_HV_CTE},
hn AS (SELECT * FROM hs
       WHERE {_POLY.format(s="CAST(doc AS VARCHAR)")} % 100 >= 90),
hc AS (SELECT * FROM hs
       WHERE {_POLY.format(s="CAST(doc AS VARCHAR)")} % 100 < 80),
invc0 AS (SELECT doc, unnest(hv) AS s FROM hc),
hot AS (SELECT s FROM invc0 GROUP BY s
        HAVING COUNT(*) > GREATEST({MIN_SHINGLE_DF_CUT},
          CAST(FLOOR(CAST({MAX_SHINGLE_DF_FRAC} AS DOUBLE) * (SELECT COUNT(*) FROM hc)) AS BIGINT),
          1)),
invc AS (SELECT doc, s FROM invc0 ANTI JOIN hot USING (s)),
invn AS (SELECT doc, s FROM (SELECT doc, unnest(hv) AS s FROM hn)
         ANTI JOIN hot USING (s)),
pairs AS (
  SELECT a.doc AS new_id, b.doc AS corpus_id, COUNT(*) AS inter
  FROM invn a JOIN invc b ON a.s = b.s
  GROUP BY 1, 2
),
jp AS (
  SELECT new_id, corpus_id,
         inter / CAST(sn.n_sh + sc.n_sh - inter AS DOUBLE) AS jaccard
  FROM pairs
  JOIN (SELECT doc, len(hv) AS n_sh FROM hn) sn ON new_id = sn.doc
  JOIN (SELECT doc, len(hv) AS n_sh FROM hc) sc ON corpus_id = sc.doc
  WHERE inter / CAST(sn.n_sh + sc.n_sh - inter AS DOUBLE) >= {_LEAK_T}
)
SELECT new_id AS test_id, CAST(COUNT(*) AS BIGINT) AS n_train_neardups,
       MAX(jaccard) AS max_jaccard
FROM jp GROUP BY 1 ORDER BY 1
""",
    doc="Cross-split NEAR-dup leakage report: every TEST-split doc "
    "with an n-gram-Jaccard near-duplicate in the TRAIN split — the "
    "eval-integrity audit exact fingerprints miss "
    "(q_split_contamination catches verbatim copies; a lightly-edited "
    "copy still leaks the answer). R-S set-similarity join, test × "
    "train only (never within-split pairs): corpus-side stop-shingle "
    "cut, PPJoin size filter in the join, shares the session-"
    "persisted shingle table; per-test-doc rollup (match count + max "
    "jaccard) (operators/dedup.py:ngram_jaccard_rs)",
    tags=("pipeline", "dedup", "sampling"),
)
def q_split_neardup_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_engineering_project_spark.operators.sampling import (
        hash_bucket_col,
    )

    shared = _shared_hashed(spark, sf_dir, NGRAM_N)
    bucket = hash_bucket_col(F.col("doc").cast("string"))
    pairs = dedup.ngram_jaccard_rs(
        None,
        None,
        "doc_id",
        "text",
        threshold=_LEAK_T,
        n=NGRAM_N,
        max_bucket_size=MIN_SHINGLE_DF_CUT,
        max_bucket_frac=MAX_SHINGLE_DF_FRAC,
        hashed_new=shared.filter(bucket >= 90),
        hashed_corpus=shared.filter(bucket < 80),
    )
    return (
        pairs.groupBy(F.col("new_id").alias("test_id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_train_neardups"),
            F.max("jaccard").alias("max_jaccard"),
        )
        .orderBy("test_id")
    )


# --- Mergeable reservoir sample (merged ≡ direct under the gate) --------------

_RSVR_K = 20


def _reservoir_oracle() -> str:
    from big_data_engineering_project_spark.operators.sampling import (
        HASH_P,
        RSVR_A,
        RSVR_B,
    )

    return f"""
WITH scored AS (
  SELECT event_type, event_id,
         (event_id * {RSVR_A} + {RSVR_B}) % {HASH_P} AS s
  FROM events
),
r AS (
  SELECT event_type, event_id, s,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY s, event_id) AS rk
  FROM scored
)
SELECT event_type, CAST(rk AS INTEGER) AS sample_rank,
       event_id, CAST(s AS BIGINT) AS score
FROM r WHERE rk <= {_RSVR_K}
ORDER BY event_type, sample_rank
"""


@register(
    "q_reservoir_sample_merge",
    oracle=_reservoir_oracle(),
    doc="Mergeable uniform size-k sample per event type: per-(type, "
    "day) bottom-k reservoirs (scrambled-hash scored, two bounded "
    "aggregations — the KMV shape carrying sampled IDS) re-merged to "
    "per-type samples by the k-smallest-of-union algebra. The oracle "
    "computes the DIRECT bottom-k over the whole table, so the gate "
    "proves merged ≡ direct — the sample-of-rows sibling of "
    "q_kmv_daily_merge, and the deterministic exact-oracle "
    "alternative to rand() reservoirs (content-addressed scores are "
    "bit-reproducible across engines, runs, and repartitionings; "
    "day-level sample tables roll up without rescanning). No window, "
    "no global sort; a hot key's candidate state spreads over "
    "n_shards bounded groups (operators/sampling.py:"
    "reservoir_sample_agg)",
    headline=True,
    tags=("pipeline", "sampling", "sketch"),
)
def q_reservoir_sample_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_engineering_project_spark.operators.sampling import (
        reservoir_merge_expr,
        reservoir_sample_agg,
    )

    ev = load_table(spark, sf_dir, "events").withColumn(
        "__day", F.to_date("ts")
    )
    per_day = reservoir_sample_agg(
        ev, ["event_type", "__day"], "event_id", k=_RSVR_K
    )
    merged = per_day.groupBy("event_type").agg(
        reservoir_merge_expr(F.collect_list("reservoir"), _RSVR_K).alias(
            "reservoir"
        )
    )
    return (
        merged.select(
            "event_type",
            F.posexplode("reservoir").alias("__pos", "__it"),
        )
        .select(
            "event_type",
            (F.col("__pos") + 1).cast("int").alias("sample_rank"),
            F.col("__it.id").alias("event_id"),
            F.col("__it.s").alias("score"),
        )
        .orderBy("event_type", "sample_rank")
    )


# --- Mergeable weighted priority sample (DLT 2007, exact oracle) --------------

_PSAMP_K = 15


def _priority_sample_oracle() -> str:
    from big_data_engineering_project_spark.operators.sampling import (
        HASH_P,
        RSVR_W_A,
        RSVR_W_B,
    )

    return f"""
WITH src AS (
  SELECT l_returnflag AS grp,
         l_orderkey * 8 + l_linenumber AS id,
         CAST(l_quantity AS BIGINT) AS w
  FROM lineitem WHERE l_quantity > 0
),
pri AS (
  SELECT grp, id, w,
         CAST(1 + (id * {RSVR_W_A} + {RSVR_W_B}) % {HASH_P - 1} AS DOUBLE)
           / CAST(w * {HASH_P} AS DOUBLE) AS p
  FROM src
),
r AS (
  SELECT grp, id, w, p,
         row_number() OVER (PARTITION BY grp ORDER BY p, id) AS rk
  FROM pri
),
tau AS (
  SELECT grp, MAX(CASE WHEN rk = {_PSAMP_K + 1} THEN p END) AS t
  FROM r GROUP BY 1
)
SELECT r.grp AS l_returnflag, r.id, r.w, r.p AS priority,
       CASE WHEN tau.t IS NULL THEN CAST(r.w AS DOUBLE)
            ELSE GREATEST(CAST(r.w AS DOUBLE), 1.0 / tau.t) END AS w_est
FROM r JOIN tau ON r.grp = tau.grp
WHERE r.rk <= {_PSAMP_K}
ORDER BY r.grp, r.p, r.id
"""


@register(
    "q_priority_sample_weighted",
    oracle=_priority_sample_oracle(),
    doc=f"Weighted priority sample (Duffield-Lund-Thorup, JACM 2007) "
    f"of k={_PSAMP_K} lineitems per return flag, weight = quantity: "
    "priority u/w from a scrambled content hash — ONE IEEE division "
    "of exact integers, so the selected set AND the threshold "
    "estimator are bit-identical cross-engine (the oracle replicates "
    "the same arithmetic; classic rand()-based weighted reservoirs "
    "cannot be oracle-checked at all). w_est = max(w, 1/τ) with τ "
    "the (k+1)-th smallest priority makes Σ w_est an unbiased "
    "subset-sum estimator (pytest pins it within sampling error). "
    "Mergeable by the same k+1-smallest-of-union algebra as the "
    "uniform reservoir — day-level weighted samples roll up without "
    "rescanning; two bounded aggregations, no window "
    "(operators/sampling.py:priority_sample_agg)",
    headline=True,
    tags=("pipeline", "sampling", "sketch"),
)
def q_priority_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_engineering_project_spark.operators.sampling import (
        priority_sample_agg,
        priority_sample_estimates,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag"),
        (F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("__id"),
        F.col("l_quantity").cast("long").alias("__w"),
    )
    sampled = priority_sample_agg(
        li, ["l_returnflag"], "__id", "__w", k=_PSAMP_K
    )
    return priority_sample_estimates(sampled, k=_PSAMP_K).orderBy(
        "l_returnflag", "priority", "id"
    )


# --- Sorted-neighborhood entity resolution -----------------------------------
#
# Merge/purge blocking (Hernandez-Stolfo): candidates are pairs within
# w positions of the (normalized-prefix, doc_id) sort order, verified
# with levenshtein <= d. Catches prefix-sharing near-misses the
# hash/shingle blockers can miss, and exercises the scale-correct
# global row_number (range-partitioned two-phase rank — never a bare
# Window.orderBy over the corpus; see operators/linkage.py).


@register(
    "q_sorted_neighborhood_dups",
    oracle="""
WITH k AS (
  SELECT doc_id, substr(lower(text), 1, 60) AS key FROM documents
),
r AS (
  SELECT doc_id, key, ROW_NUMBER() OVER (ORDER BY key, doc_id) AS rn FROM k
),
cand AS (
  SELECT LEAST(a.doc_id, b.doc_id) AS id_a,
         GREATEST(a.doc_id, b.doc_id) AS id_b,
         b.rn - a.rn AS gap,
         levenshtein(a.key, b.key) AS dist
  FROM r a JOIN r b ON b.rn - a.rn BETWEEN 1 AND 4
)
SELECT id_a, id_b, gap, dist FROM cand
WHERE dist <= 5
ORDER BY id_a, id_b
""",
    doc=(
        "Sorted-neighborhood ER: pairs within w=4 positions of the "
        "normalized-prefix sort order, levenshtein-verified; global rank "
        "via the two-phase range-partitioned row_number"
    ),
    tags=("pipeline", "dedup", "linkage"),
)
def q_sorted_neighborhood_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_engineering_project_spark.operators.linkage import (
        sorted_neighborhood_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    key = F.substring(F.lower(F.col("text")), 1, 60)
    pairs = sorted_neighborhood_pairs(docs, key, "doc_id", 4)
    return (
        pairs.withColumn("dist", F.levenshtein("key_a", "key_b"))
        .filter(F.col("dist") <= 5)
        .select("id_a", "id_b", "gap", F.col("dist").cast("long").alias("dist"))
        .orderBy("id_a", "id_b")
    )


# --- Lexical TF-cosine near-dup ----------------------------------------------
#
# The sparse lexical member of the dedup family (Jaccard = shingle
# sets; MinHash/SimHash = hashed sets; embedding paths = dense):
# cosine over raw term-frequency vectors, candidates from an inverted
# index restricted to discriminative terms (df in [2, 10% of corpus] —
# the word-level analog of the shingle stop cut), verified with the
# exact integer tau^2 test. tau = 3/5 -> 141 pairs at sf0.01.


@register(
    "q_tf_cosine_neardups",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w FROM documents
),
tf AS MATERIALIZED (
  SELECT doc_id, w, COUNT(*) AS tf FROM toks WHERE w != '' GROUP BY doc_id, w
),
norms AS MATERIALIZED (
  SELECT doc_id, CAST(SUM(tf * tf) AS BIGINT) AS nrm FROM tf GROUP BY doc_id
),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
rare AS (
  SELECT w FROM (SELECT w, COUNT(*) AS df FROM tf GROUP BY w), n
  WHERE df >= 2 AND df <= FLOOR(CAST(0.1 AS DOUBLE) * n_docs)
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM tf a JOIN rare r ON r.w = a.w
  JOIN tf b ON b.w = a.w AND a.doc_id < b.doc_id
),
dots AS (
  SELECT c.id_a, c.id_b, CAST(SUM(ta.tf * tb.tf) AS BIGINT) AS dot_tf
  FROM cand c
  JOIN tf ta ON ta.doc_id = c.id_a
  JOIN tf tb ON tb.doc_id = c.id_b AND tb.w = ta.w
  GROUP BY c.id_a, c.id_b
)
SELECT d.id_a, d.id_b, d.dot_tf,
  CAST(d.dot_tf AS DOUBLE)
    / sqrt(CAST(na.nrm AS DOUBLE) * CAST(nb.nrm AS DOUBLE)) AS cosine
FROM dots d
JOIN norms na ON na.doc_id = d.id_a
JOIN norms nb ON nb.doc_id = d.id_b
WHERE 25 * CAST(d.dot_tf AS HUGEINT) * d.dot_tf
      >= 9 * CAST(na.nrm AS HUGEINT) * nb.nrm
ORDER BY id_a, id_b
""",
    doc=(
        "Sparse lexical TF-cosine near-dups: inverted index over "
        "discriminative terms (df-banded), exact integer tau^2 verify "
        "over full tf vectors"
    ),
    headline=True,
    tags=("pipeline", "dedup"),
)
def q_tf_cosine_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.tf_cosine_pairs(
        docs, "doc_id", "text", 3, 5, max_df_frac=0.1
    ).orderBy("id_a", "id_b")


# --- Trigram-index substring search ------------------------------------------
#
# The oracle is the FULL-SCAN contains() filter, so the gate proves
# the trigram-index path (probe-gram IN-list pushed into the index
# scan, exact locate verify on candidates only) loses nothing — the
# same proof shape as bloom-semi ≡ EXISTS. A doc can contain the
# pattern only if it holds every n-gram of it: no false negatives.


@register(
    "q_substring_index_search",
    oracle="""
SELECT doc_id, source, n_chars FROM documents
WHERE contains(lower(text), 'vector line hash')
ORDER BY doc_id
""",
    doc=(
        "Trigram-index substring search (grep over the corpus): probe "
        "grams prune the index, locate verifies candidates; gate proves "
        "index-pruned ≡ full scan"
    ),
    tags=("pipeline", "text", "search"),
)
def q_substring_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_engineering_project_spark.operators.text_analysis import (
        substring_index_search,
    )

    docs = load_table(spark, sf_dir, "documents")
    return (
        substring_index_search(docs, "doc_id", "text", "vector line hash")
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")
    )


# --- BPE merge training (rows-only: iterative + driver argmax) ----------------


def _bpe_merges_oracle(n_merges: int = 8, min_freq: int = 2) -> str:
    """Unrolled replay of bpe_train_merges — the KLL/Lloyd fixed-
    iteration recipe applied to the last rows-only family with a
    convertible core: per step, a pair-frequency CTE over the evolving
    vocab, a 1-row argmax CTE (freq DESC, l ASC, r ASC — the exact
    Spark tie-break), and the merge applied POSITIONALLY with scalar
    subqueries (the data-dependent analog of the literal-merge encode
    oracle: emit l||r at a hit start, drop the consumed right
    neighbour). The positional scan equals the greedy left-to-right
    fold whenever left ≠ right (two adjacent hits would need one
    symbol to be both right and left); an equal-pair argmax raises a
    loud DuckDB error() instead of replaying silently wrong — the
    gate then ERRs rather than passes. Early stop (max freq <
    min_freq) replays naturally: the argmax CTE is empty, the vocab
    passes through unchanged, and every later step stays empty."""
    parts = [
        "w0 AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM ("
        "SELECT unnest(string_split(lower(text), ' ')) AS w "
        "FROM documents) WHERE w != '' GROUP BY w)",
        "v0 AS (SELECT w, cnt, string_split(w, '') AS syms FROM w0)",
    ]
    for i in range(n_merges):
        parts.append(
            f"""p{i} AS (
  SELECT syms[j] AS l, syms[j + 1] AS r, SUM(cnt) AS freq
  FROM v{i}, unnest(generate_series(1, len(syms) - 1)) AS s(j)
  WHERE len(syms) >= 2 GROUP BY 1, 2)"""
        )
        parts.append(
            f"""m{i} AS (
  SELECT CASE WHEN l = r THEN error(
           'equal-pair BPE merge: positional replay invalid — '
           'bring back a working greedy fold') ELSE l END AS l,
         r, freq
  FROM (SELECT l, r, freq FROM p{i} WHERE freq >= {min_freq}
        ORDER BY freq DESC, l ASC, r ASC LIMIT 1))"""
        )
        parts.append(
            # the 1-row (or empty) argmax LEFT JOINs ON TRUE so the
            # merge pair rides as plain columns — DuckDB forbids
            # subqueries inside lambda bodies
            f"""v{i + 1} AS (
  SELECT w, cnt,
    CASE WHEN m.l IS NULL THEN syms
    ELSE list_filter(
      list_transform(range(1, len(syms) + 1), j -> CASE
        WHEN syms[j] = m.l AND syms[j + 1] = m.r THEN m.l || m.r
        WHEN j > 1 AND syms[j - 1] = m.l AND syms[j] = m.r THEN NULL
        ELSE syms[j] END),
      x -> x IS NOT NULL)
    END AS syms
  FROM v{i} LEFT JOIN m{i} m ON TRUE)"""
        )
    rows = "\nUNION ALL ".join(
        f"SELECT CAST({i} AS INTEGER) AS step, l AS \"left\", "
        f"r AS \"right\", CAST(freq AS BIGINT) AS freq FROM m{i}"
        for i in range(n_merges)
    )
    return (
        "WITH " + ",\n".join(parts) + f"\nSELECT * FROM ({rows}) ORDER BY step"
    )


@register(
    "q_bpe_merges",
    oracle=_bpe_merges_oracle(),
    doc=(
        "BPE merge-table training (8 merges, Sennrich et al. 2016) over "
        "the documents corpus: iterates the WORD-FREQUENCY table (vocab-"
        "sized, never the corpus), one collected argmax row per merge, "
        "merge application as a pure Catalyst fold with exact greedy "
        "left-to-right semantics (operators/text_analysis.py:"
        "bpe_train_merges). CONVERTED to the exact gate in r14 — the "
        "fixed-iteration unroll recipe (KLL r13, Lloyd r13) applied to "
        "the trainer: per-step argmax CTEs with the exact (freq DESC, "
        "l, r) tie-break, positional merge replay valid for left ≠ "
        "right with a loud error() guard on the equal-pair case, "
        "natural early-stop replay (see _bpe_merges_oracle); the "
        "pure-Python reference pytest stays as the second independent "
        "check"
    ),
    tags=("pipeline", "text", "iterative"),
    invariants=(
        "tests/test_pipeline_ops.py::test_bpe_merges_match_reference_implementation",
    ),
)
def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_engineering_project_spark.operators.text_analysis import (
        bpe_train_merges,
    )

    docs = load_table(spark, sf_dir, "documents")
    return bpe_train_merges(docs, "text", n_merges=8).orderBy("step")


@register(
    "q_doc_lm_cost_worst",
    oracle=f"""
WITH {_TOKS_CTE},
t2 AS (SELECT doc, t FROM toks WHERE len(t) >= 2),
bg AS (
  SELECT doc, t[i] AS term_a, t[i + 1] AS term_b
  FROM t2, unnest(generate_series(1, len(t) - 1)) AS s(i)
),
cnt AS (SELECT term_a, term_b, COUNT(*) AS c_ab FROM bg GROUP BY 1, 2),
fst AS (SELECT term_a, SUM(c_ab) AS c_first FROM cnt GROUP BY 1),
per_doc AS (
  SELECT doc, term_a, term_b, COUNT(*) AS mult FROM bg GROUP BY 1, 2, 3
),
costed AS (
  SELECT doc, mult, (c_first * 1000000) // c_ab AS cost
  FROM per_doc JOIN cnt USING (term_a, term_b) JOIN fst USING (term_a)
),
scored AS (
  SELECT doc, CAST(SUM(mult) AS BIGINT) AS n_bigrams,
         CAST(SUM(cost * mult) // SUM(mult) AS BIGINT) AS avg_cost_units
  FROM costed GROUP BY doc
)
SELECT doc, n_bigrams, avg_cost_units
FROM scored ORDER BY avg_cost_units DESC, doc ASC LIMIT 20
""",
    doc="CCNet-style LM quality filter: the 20 most-improbable docs "
    "by mean bigram cost, where cost(w1 w2) = (c(w1)*1e6) div "
    "c(w1 w2) is the integer -log-likelihood proxy and the per-doc "
    "mean is one more integer division — perplexity filtering "
    "re-expressed on corpus statistics so scores and the top-k set "
    "are exact cross-engine. Array-local bigrams, multiplicities "
    "collapsed before the count-table joins, total-order top-k "
    "(operators/text_analysis.py:doc_lm_cost)",
    headline=True,
    tags=("pipeline", "text", "quality"),
)
def q_doc_lm_cost_worst(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_engineering_project_spark.operators.text_analysis import (
        doc_lm_cost,
    )

    docs = load_table(spark, sf_dir, "documents")
    return (
        doc_lm_cost(docs, "doc_id", "text")
        .orderBy(F.col("avg_cost_units").desc(), F.col("doc").asc())
        .limit(20)
    )


def _int_dot_sql(a: str, b: str) -> str:
    """DuckDB exact integer dot (mirror of similarity._int_dot)."""
    return (
        f"list_reduce([CAST(0 AS BIGINT)] + "
        f"list_transform(range(1, {_DIMS + 1}), i -> {a}[i] * {b}[i]), "
        "(acc, x) -> acc + x)"
    )


_QZ = (
    "list_transform(e, x -> CAST(round(x / (list_reduce("
    "list_transform(e, y -> abs(y)), (a, b) -> greatest(a, b)) / 127.0)) "
    "AS BIGINT))"
)


@register(
    "q_embedding_int8_topk",
    oracle=f"""
WITH base AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
  WHERE list_reduce(list_transform(embedding::DOUBLE[], y -> abs(y)),
                    (a, b) -> greatest(a, b)) > 0
),
qz AS (SELECT vec_id, {_QZ} AS q FROM base),
qv AS (SELECT q AS qq FROM qz WHERE vec_id = 0),
d AS (SELECT vec_id, q FROM qz WHERE vec_id != 0)
SELECT vec_id,
  CAST({_int_dot_sql('q', 'qq')} AS DOUBLE)
    / (sqrt(CAST({_int_dot_sql('q', 'q')} AS DOUBLE))
       * sqrt(CAST({_int_dot_sql('qq', 'qq')} AS DOUBLE))) AS qcosine
FROM d, qv
ORDER BY qcosine DESC, vec_id ASC
LIMIT 10
""",
    doc="Int8 scalar-quantized ANN top-k (FAISS SQ8-class storage "
    "path): per-vector max|x|/127 scale, integer components, ranking "
    "by INTEGER dot / integer norms — so unlike the float-fold "
    "cosine, the quantized score is combine-order-free and the gate "
    "hash-matches an ANN operator exactly; recall vs the exact "
    "ranking is pinned by pytest "
    "(operators/similarity.py:int8_quantize/int8_topk)",
    headline=True,
    tags=("pipeline", "similarity"),
)
def q_embedding_int8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0).select("embedding")
    return similarity.int8_topk(
        emb.filter(F.col("vec_id") != 0), query, k=10
    )


@register(
    "q_vocab_growth",
    oracle=f"""
WITH {_TOKS_CTE},
first_seen AS (
  SELECT term, MIN(doc) AS fs
  FROM (SELECT doc, unnest(t) AS term FROM toks)
  GROUP BY 1
),
nd AS (SELECT MAX(doc_id) + 1 AS n FROM documents),
bucketed AS (
  SELECT LEAST(CAST((fs * 10) / n AS BIGINT) + 1, 10) AS decile,
         CAST(COUNT(*) AS BIGINT) AS new_words
  FROM first_seen CROSS JOIN nd
  GROUP BY 1
),
deciles AS (SELECT unnest(range(1, 11)) AS decile)
SELECT d.decile,
       COALESCE(b.new_words, 0) AS new_words,
       CAST(SUM(COALESCE(b.new_words, 0)) OVER (
         ORDER BY d.decile ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS vocab_size
FROM deciles d LEFT JOIN bucketed b USING (decile)
ORDER BY d.decile
""",
    doc="Vocabulary growth curve (Heaps'-law diagnostic): distinct "
    "words first seen in each tenth of the corpus (by doc id) and the "
    "cumulative vocabulary — 'is the vocabulary saturating, or does "
    "every new shard keep paying tokenizer-vocab cost?'. All integer: "
    "per-word MIN(doc_id) is one map-side-combinable agg over the "
    "exploded tokens (8-byte rows through the shuffle), the decile "
    "bucketing is integer arithmetic against a broadcast 1-row count, "
    "and the cumulative runs over exactly 10 rows — no log-log fit, "
    "no doubles anywhere",
    tags=("pipeline", "text"),
)
def q_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    first_seen = (
        docs.select(
            F.col("doc_id").alias("doc"),
            F.explode(dedup.tokens_col(F.col("text"))).alias("term"),
        )
        .groupBy("term")
        .agg(F.min("doc").alias("fs"))
    )
    nd = docs.agg((F.max("doc_id") + 1).alias("n"))
    bucketed = (
        first_seen.crossJoin(F.broadcast(nd))
        .groupBy(
            F.least(
                ((F.col("fs") * 10) / F.col("n")).cast("long") + 1,
                F.lit(10).cast("long"),
            ).alias("decile")
        )
        .agg(F.count(F.lit(1)).alias("new_words"))
    )
    deciles = docs.sparkSession.range(1, 11).select(
        F.col("id").alias("decile")
    )
    from pyspark.sql import Window

    w = (
        Window.orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        deciles.join(F.broadcast(bucketed), "decile", "left")
        .select(
            "decile",
            F.coalesce(F.col("new_words"), F.lit(0).cast("long")).alias(
                "new_words"
            ),
        )
        .withColumn("vocab_size", F.sum("new_words").over(w).cast("long"))
        .orderBy("decile")
    )


@register(
    "q_split_contamination",
    oracle=f"""
WITH assigned AS (
  SELECT {_POLY.format(s="text")} AS fp,
         CASE WHEN b < 80 THEN 'train'
              WHEN b < 90 THEN 'val' ELSE 'test' END AS split
  FROM (SELECT text,
               {_POLY.format(s="CAST(doc_id AS VARCHAR)")} % 100 AS b
        FROM documents)
),
t AS (SELECT fp, CAST(COUNT(DISTINCT split) AS BIGINT) AS n_splits
      FROM assigned GROUP BY 1)
SELECT n_splits, CAST(COUNT(*) AS BIGINT) AS n_texts
FROM t GROUP BY 1 ORDER BY 1
""",
    doc="Cross-split contamination audit: for every distinct TEXT, "
    "how many splits it lands in when the split key is doc_id — the "
    "leakage a content-hash split (q_hash_split's with_split on "
    "text) prevents by construction and an id-keyed split does not; "
    "n_splits > 1 rows are eval contamination, run this before "
    "trusting any id-split benchmark. Texts reduce to 8-byte "
    "fingerprints BEFORE any shuffle (text bytes never leave the "
    "scan); two partial-aggregable groupBys, no join",
    headline=False,
    tags=("pipeline", "sampling", "dedup"),
)
def q_split_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_engineering_project_spark.operators.sampling import (
        with_split,
    )
    from big_data_engineering_project_spark.operators.text_analysis import (
        fingerprint_col,
    )

    docs = spread(load_table(spark, sf_dir, "documents"))
    assigned = with_split(
        docs.withColumn("__k", F.col("doc_id").cast("string")), "__k"
    ).select(fingerprint_col(F.col("text")).alias("fp"), "split")
    t = assigned.groupBy("fp").agg(
        F.countDistinct("split").alias("n_splits")
    )
    return (
        t.groupBy("n_splits")
        .agg(F.count(F.lit(1)).alias("n_texts"))
        .orderBy("n_splits")
    )


_CONTAINMENT_T = 0.8


@register(
    "q_dedup_containment",
    oracle=f"""
WITH {_TOKS_CTE},
{_HT_CTE},
{_HV_CTE},
sizes AS (SELECT doc, len(hv) AS n_sh FROM hs),
inv0 AS (SELECT doc, unnest(hv) AS s FROM hs),
hot AS (SELECT s FROM inv0 GROUP BY s
        HAVING COUNT(*) > GREATEST({MIN_SHINGLE_DF_CUT},
          CAST(FLOOR(CAST({MAX_SHINGLE_DF_FRAC} AS DOUBLE) * (SELECT COUNT(*) FROM hs)) AS BIGINT))),
inv AS (SELECT doc, s FROM inv0 ANTI JOIN hot USING (s)),
cand AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b, CAST(COUNT(*) AS BIGINT) AS inter
  FROM inv a JOIN inv b ON a.s = b.s AND a.doc < b.doc
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       inter / CAST(LEAST(sa.n_sh, sb.n_sh) AS DOUBLE) AS containment
FROM cand
JOIN sizes sa ON doc_a = sa.doc
JOIN sizes sb ON doc_b = sb.doc
WHERE inter * 5 >= 4 * LEAST(sa.n_sh, sb.n_sh)
ORDER BY doc_a, doc_b
""",
    doc="Near-superset dedup: shingle containment |A∩B| / min(|A|,|B|) "
    f"≥ {_CONTAINMENT_T} — the asymmetric complement of the Jaccard "
    "pass (a short doc quoted inside a long one scores C ≈ 1 with "
    "Jaccard ≈ |A|/|B| ≈ 0): quote/boilerplate/eval-embedding "
    "detection. Same inverted-index + corpus-scaled stop-shingle "
    "machinery, deliberately WITHOUT the PPJoin length filter — the "
    "asymmetric pair is the signal, the DF cut alone is the "
    "quadratic guard (operators/dedup.py:shingle_containment_pairs)",
    headline=True,
    tags=("pipeline", "dedup"),
)
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.shingle_containment_pairs(
        docs,
        "doc_id",
        "text",
        threshold=_CONTAINMENT_T,
        n=NGRAM_N,
        max_bucket_size=MIN_SHINGLE_DF_CUT,
        max_bucket_frac=MAX_SHINGLE_DF_FRAC,
        hashed=_shared_hashed(spark, sf_dir, NGRAM_N),
        tau_num=4,
        tau_den=5,
    ).orderBy("doc_a", "doc_b")


# --- Misra-Gries mergeable heavy hitters --------------------------------------

_MG_K = 8
_MG_B = 16


def _mg_oracle() -> str:
    from big_data_engineering_project_spark.operators.sketches import (
        mg_bucket_sql,
    )

    bucket = mg_bucket_sql("l_partkey", _MG_B)
    r = _MG_K + 1
    return f"""
WITH base AS (
  SELECT {bucket} AS bucket, l_partkey AS item, l_orderkey % 2 AS half
  FROM lineitem
),
counts AS (
  SELECT half, bucket, item, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM base GROUP BY 1, 2, 3
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY half, bucket ORDER BY cnt DESC, item ASC) AS rn
  FROM counts
),
offs AS (
  SELECT half, bucket,
         COALESCE(MAX(CASE WHEN rn = {r} THEN cnt END), 0) AS err
  FROM ranked GROUP BY 1, 2
),
counters AS (
  SELECT r.half, r.bucket, r.item, r.cnt - o.err AS adj_cnt
  FROM ranked r JOIN offs o ON r.half = o.half AND r.bucket = o.bucket
  WHERE r.cnt > o.err
),
carry AS (
  SELECT bucket,
         COALESCE(MAX(CASE WHEN half = 0 THEN err END), 0)
       + COALESCE(MAX(CASE WHEN half = 1 THEN err END), 0) AS err0
  FROM offs GROUP BY 1
),
merged AS (
  SELECT bucket, item, CAST(SUM(adj_cnt) AS BIGINT) AS cnt
  FROM counters GROUP BY 1, 2
),
mranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY bucket ORDER BY cnt DESC, item ASC) AS rn
  FROM merged
),
moffs AS (
  SELECT bucket, COALESCE(MAX(CASE WHEN rn = {r} THEN cnt END), 0) AS off_new
  FROM mranked GROUP BY 1
)
SELECT m.bucket AS bucket, m.item, CAST(m.cnt - o.off_new AS BIGINT) AS adj_cnt,
       CAST(o.off_new + c.err0 AS BIGINT) AS err_bound
FROM mranked m
JOIN moffs o ON m.bucket = o.bucket
JOIN carry c ON m.bucket = c.bucket
WHERE m.cnt > o.off_new
ORDER BY bucket, item
"""


@register(
    "q_mg_heavy_hitters",
    oracle=_mg_oracle(),
    doc="Misra-Gries mergeable heavy-hitter summary (Agarwal et al. "
    f"PODS'12 merge rule), k={_MG_K} counters × {_MG_B} buckets over "
    "lineitem part keys: the DETERMINISTIC counterpart of the "
    "count-min estimates — built per half (l_orderkey % 2 as two "
    "'days'), then MERGED by adjusted-count addition + re-prune, "
    "errors adding. Every value is an exact integer over a portable "
    "affine bucket hash, so the gate proves the summary AND the merge "
    "algebra bit-for-bit. Plan: one map-side-combined groupBy(bucket, "
    "item) per half; the (k+1)-th-largest prune is the row_number ≤ "
    "k+1 filter Spark rewrites to WindowGroupLimit (map tasks keep "
    "k+1 rows per bucket — no task ever sorts a bucket's full "
    "distinct-item list; plan-asserted). Retained output ≤ k·buckets "
    "rows regardless of vocabulary size — the 100-TB story; pytest "
    "pins the [adj, adj+err] containment guarantee against exact "
    "counts (operators/sketches.py:mg_summary)",
    headline=True,
    tags=("pipeline", "sketch"),
)
def q_mg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_engineering_project_spark.operators.sketches import (
        mg_merge,
        mg_summary,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", (F.col("l_orderkey") % 2).alias("half")
    )
    c0, e0 = mg_summary(
        li.filter(F.col("half") == 0), "l_partkey", k=_MG_K,
        n_buckets=_MG_B,
    )
    c1, e1 = mg_summary(
        li.filter(F.col("half") == 1), "l_partkey", k=_MG_K,
        n_buckets=_MG_B,
    )
    counters, offsets = mg_merge(c0, e0, c1, e1, k=_MG_K)
    return (
        counters.join(offsets, "bucket")
        .select("bucket", "item", "adj_cnt", F.col("err").alias("err_bound"))
        .orderBy("bucket", "item")
    )


# --- Out-of-fold target encoding ----------------------------------------------

_TE_FOLDS = 4
_TE_M = 100


def _te_oracle() -> str:
    from big_data_engineering_project_spark.operators.sketches import (
        mg_bucket_sql,
    )

    fold = mg_bucket_sql("user_id", _TE_FOLDS)
    return f"""
WITH st AS (
  SELECT event_type AS category, {fold} AS fold,
         CAST(COUNT(*) AS BIGINT) AS n_f,
         SUM(CAST(value AS DECIMAL(18,6))) AS s_f
  FROM events GROUP BY 1, 2
),
tot AS (
  SELECT category, CAST(SUM(n_f) AS BIGINT) AS n_t, SUM(s_f) AS s_t
  FROM st GROUP BY 1
),
gl AS (
  SELECT fold, CAST(SUM(n_f) AS BIGINT) AS n_gf, SUM(s_f) AS s_gf
  FROM st GROUP BY 1
),
g AS (
  SELECT CAST(SUM(n_f) AS BIGINT) AS n_all, SUM(s_f) AS s_all FROM st
)
SELECT st.category AS category, st.fold AS fold,
       CAST(t.n_t - st.n_f AS BIGINT) AS oof_cnt,
       CAST(t.s_t - st.s_f AS DOUBLE) / (t.n_t - st.n_f) AS enc,
       (CAST(t.s_t - st.s_f AS DOUBLE)
          + {_TE_M} * (CAST(g.s_all - gl.s_gf AS DOUBLE)
                       / (g.n_all - gl.n_gf)))
         / ((t.n_t - st.n_f) + {_TE_M}) AS enc_smoothed
FROM st
JOIN tot t ON st.category = t.category
JOIN gl ON st.fold = gl.fold
CROSS JOIN g
WHERE t.n_t - st.n_f > 0
ORDER BY st.category, st.fold
"""


@register(
    "q_target_encoding_oof",
    oracle=_te_oracle(),
    doc="K-fold out-of-fold target encoding of event_type by mean "
    f"event value ({_TE_FOLDS} folds keyed on a portable user_id "
    "hash — group-aware: one entity never straddles folds), with "
    f"empirical-Bayes smoothing (m={_TE_M}) against the fold's own "
    "leakage-free global prior (Micci-Barreca 2001). The whole K-fold "
    "family costs ONE map-side-combined groupBy(category, fold) scan; "
    "every OOF mean is inclusion-exclusion over the bounded stats "
    "frame (total minus own fold), never a second pass. Target sums "
    "are exact decimals; each output is one double division, so the "
    "gate hash-proves the encoder (operators/features.py)",
    tags=("pipeline", "ml", "agg"),
)
def q_target_encoding_oof(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_engineering_project_spark.operators.features import (
        target_encode_oof,
    )

    ev = load_table(spark, sf_dir, "events")
    return target_encode_oof(
        ev, "event_type", "value", "user_id",
        n_folds=_TE_FOLDS, m=_TE_M,
    ).orderBy("category", "fold")


# --- AMS F2 / self-join size --------------------------------------------------


def _ams_oracle() -> str:
    from big_data_engineering_project_spark.operators.sketches import (
        AMS_ROWS,
        ams_sign_sql,
    )

    def rel(table: str, key: str, label: str) -> str:
        signs = ",\n         ".join(
            f"CAST(SUM({ams_sign_sql(key, a, b)}) AS BIGINT) AS z{j}"
            for j, (a, b) in enumerate(AMS_ROWS)
        )
        sq = " + ".join(f"z{j} * z{j}" for j in range(len(AMS_ROWS)))
        return f"""
SELECT '{label}' AS relation,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM {table}) AS n_rows,
       (SELECT CAST(SUM(c * c) AS BIGINT) FROM (
          SELECT CAST(COUNT(*) AS BIGINT) AS c FROM {table} GROUP BY {key}
        )) AS exact_f2,
       CAST(({sq}) // {len(AMS_ROWS)} AS BIGINT) AS ams_f2_est
FROM (
  SELECT {signs}
  FROM {table}
)"""

    return (
        rel("events", "user_id", "events.user_id")
        + "\nUNION ALL"
        + rel("lineitem", "l_partkey", "lineitem.l_partkey")
        + "\nORDER BY relation"
    )


@register(
    "q_selfjoin_size_f2",
    oracle=_ams_oracle(),
    doc="Second frequency moment F2 = Σ count(key)² (the self-join "
    "size — the pre-flight number for self-join/skew planning, the "
    "single-relation complement of q_join_size_forecast) next to its "
    "AMS tug-of-war estimate (Alon-Matias-Szegedy 1996): 8 frozen "
    "portable ±1 sign hashes, est = mean of squared sign sums. The "
    "sketch column is ONE map-side-combined global aggregate — 8 "
    "running longs per partition, no per-key state, no groupBy(key) "
    "exchange: at a 1e9-key column the exact F2 shuffles every "
    "distinct key, the sketch ships 8 longs. All-integer arithmetic "
    "so the gate proves the estimator bit-for-bit "
    "(operators/sketches.py:ams_f2)",
    tags=("pipeline", "sketch", "profiling"),
)
def q_selfjoin_size_f2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_engineering_project_spark.operators.sketches import ams_f2

    ev = ams_f2(
        load_table(spark, sf_dir, "events"), "user_id", "events.user_id"
    )
    li = ams_f2(
        load_table(spark, sf_dir, "lineitem"),
        "l_partkey",
        "lineitem.l_partkey",
    )
    return ev.unionByName(li).orderBy("relation")


@register(
    "q_dedup_clusters_star",
    oracle=_clusters_oracle(),
    doc="The same near-dup pairs → clusters question as "
    "q_dedup_clusters, computed by alternating large-star/small-star "
    "contraction (Kiveris et al. SoCC'14) instead of min-label "
    "propagation: O(log n) rounds vs rounds = component DIAMETER — "
    "the scale path for chain-shaped components (quote chains, "
    "version histories) where a 1e6-long chain costs min-label 1e6 "
    "shuffle rounds and this ~20. Per round: two map-side-combined "
    "groupBy-min passes + AQE-splittable equi-joins, each round "
    "ending in an eager localCheckpoint (the iteration-lineage "
    "truncation the LPA analysis pinned). Identical fixpoint, "
    "identical exact recursive-CTE oracle — the gate proves the two "
    "algorithms agree (operators/graph.py:connected_components_star)",
    tags=("pipeline", "dedup", "graph"),
)
def q_dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_engineering_project_spark.operators.graph import (
        connected_components_star,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(
        docs,
        "doc_id",
        "text",
        threshold=JACCARD_THRESHOLD,
        n=NGRAM_N,
        max_bucket_size=MIN_SHINGLE_DF_CUT,
        max_bucket_frac=MAX_SHINGLE_DF_FRAC,
        hashed=_shared_hashed(spark, sf_dir, NGRAM_N),
    )
    return connected_components_star(pairs).orderBy("doc")


# --- Fellegi-Sunter record-linkage scoring ------------------------------------

_FS_FIELDS_SQL = (
    "(CASE WHEN a.bal_band IS NOT DISTINCT FROM b.bal_band "
    "THEN 18 ELSE -7 END) + "
    "(CASE WHEN a.bal_pos IS NOT DISTINCT FROM b.bal_pos "
    "THEN 2 ELSE -12 END) + "
    "(CASE WHEN a.name_par IS NOT DISTINCT FROM b.name_par "
    "THEN 5 ELSE -5 END)"
)

_FS_ORACLE = f"""
WITH base AS (
  SELECT c_custkey AS id, c_nationkey AS nk, c_mktsegment AS seg,
         CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS bal_band,
         c_acctbal >= 0 AS bal_pos,
         CAST(RIGHT(c_name, 1) AS INTEGER) % 2 AS name_par
  FROM customer
),
blocks AS (
  SELECT nk, seg FROM base GROUP BY nk, seg HAVING COUNT(*) <= 500
),
b2 AS (SELECT base.* FROM base JOIN blocks USING (nk, seg)),
pairs AS (
  SELECT a.id AS id_a, b.id AS id_b,
         CAST({_FS_FIELDS_SQL} AS BIGINT) AS score
  FROM b2 a JOIN b2 b ON a.nk = b.nk AND a.seg = b.seg AND a.id < b.id
)
SELECT score,
       CASE WHEN score >= 20 THEN 'link'
            WHEN score >= 0 THEN 'possible'
            ELSE 'non-link' END AS verdict,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM pairs GROUP BY 1, 2 ORDER BY score
"""


@register(
    "q_fs_linkage_scores",
    oracle=_FS_ORACLE,
    doc="Fellegi-Sunter probabilistic record-linkage scoring over "
    "(nation, segment)-blocked customer pairs: per-field agreement "
    "weights as FROZEN integer log-odds (balance band +18/−7, "
    "balance sign +2/−12, name-digit parity +5/−5), match score = "
    "their sum, classified link/possible/non-link at 20/0 — the "
    "SCORING layer of the ER family (sorted-neighborhood and hash "
    "blocking bound the candidate space; this ranks it). Degenerate "
    "blocks are cut at 500 rows before the self-join (the "
    "stop-shingle discipline's ER twin), compare columns are derived "
    "bands so the pair join carries no raw payload, and the output "
    "aggregates to the score histogram — bounded rows out "
    "(operators/linkage.py:fellegi_sunter_pairs)",
    tags=("pipeline", "linkage", "join"),
)
def q_fs_linkage_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_engineering_project_spark.operators.linkage import (
        fellegi_sunter_pairs,
    )

    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        F.col("c_nationkey").alias("nk"),
        F.col("c_mktsegment").alias("seg"),
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("bal_band"),
        (F.col("c_acctbal") >= 0).alias("bal_pos"),
        (F.expr("CAST(right(c_name, 1) AS INT)") % 2).alias("name_par"),
    )
    pairs = fellegi_sunter_pairs(
        cust,
        "id",
        ["nk", "seg"],
        [("bal_band", 18, -7), ("bal_pos", 2, -12), ("name_par", 5, -5)],
        max_block_size=500,
    )
    return (
        pairs.groupBy("score")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .select(
            "score",
            F.when(F.col("score") >= 20, "link")
            .when(F.col("score") >= 0, "possible")
            .otherwise("non-link")
            .alias("verdict"),
            "n_pairs",
        )
        .orderBy("score")
    )


# --- Positional phrase search ---------------------------------------------------

_PHRASE = ["value", "table"]
_PHRASE_S = " ".join(_PHRASE)


@register(
    "q_phrase_search",
    oracle=f"""
SELECT doc_id,
       CAST((len(lower(text)) - len(replace(lower(text), '{_PHRASE_S}', '')))
            // len('{_PHRASE_S}') AS BIGINT) AS n_hits
FROM documents
WHERE contains(lower(text), '{_PHRASE_S}')
ORDER BY doc_id
""",
    doc=f"Positional phrase search for '{_PHRASE_S}': docs where the "
    "phrase occurs as CONSECUTIVE tokens, with exact occurrence "
    "counts — ordered adjacency over positional posting lists, the "
    "query class a bag-of-grams index cannot answer. Plan: one "
    "posexplode postings build filtered to the phrase terms before "
    "anything materializes, per-term lists aligned to the phrase "
    "start and intersected by (doc, start) equi-joins, map-side "
    "count. The string-substring oracle is exact on this corpus "
    "(single-space tokenized, whole-word vocabulary — no token "
    "contains another as a substring); the operator itself is "
    "position-based and general "
    "(operators/text_analysis.py:phrase_search)",
    tags=("pipeline", "text", "search"),
)
def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_engineering_project_spark.operators.text_analysis import (
        phrase_search,
    )

    docs = load_table(spark, sf_dir, "documents")
    return phrase_search(docs, "doc_id", "text", _PHRASE).orderBy("doc_id")


_PACK_CHUNK_TOKENS = 512


@register(
    "q_pack_chunks",
    oracle=f"""
WITH t AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, n_tokens,
         COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           0) AS tok_offset
  FROM t
)
SELECT doc_id, n_tokens, CAST(tok_offset AS BIGINT) AS tok_offset,
       CAST(tok_offset // {_PACK_CHUNK_TOKENS} AS BIGINT) AS chunk_first,
       CAST((tok_offset + n_tokens - 1) // {_PACK_CHUNK_TOKENS} AS BIGINT)
         AS chunk_last,
       CAST((tok_offset + n_tokens - 1) // {_PACK_CHUNK_TOKENS}
            - tok_offset // {_PACK_CHUNK_TOKENS} + 1 AS BIGINT)
         AS chunks_spanned
FROM c ORDER BY doc_id
""",
    doc=f"GPT-style concat-and-chunk sequence packing plan "
    f"({_PACK_CHUNK_TOKENS}-token chunks): every document's offset "
    "in the concatenated token stream and the fixed windows its "
    "tokens land in — the LLM-pretraining sequence-assembly step (no "
    "padding, docs straddle boundaries; group by chunk id downstream "
    "to materialize sequences, aggregate chunks_spanned for the "
    "boundary-split audit). The corpus-wide exclusive running sum is "
    "TWO-LEVEL (within id DIV 4096 buckets + rolling offsets over "
    "the bounded bucket table — the concurrency_profile discipline), "
    "so no corpus-sized sort task exists; the naive single window IS "
    "the oracle (operators/text_analysis.py:pack_concat_chunks)",
    tags=("pipeline", "text", "window"),
)
def q_pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_engineering_project_spark.operators.text_analysis import (
        pack_concat_chunks,
    )

    docs = load_table(spark, sf_dir, "documents")
    return pack_concat_chunks(
        docs, _PACK_CHUNK_TOKENS, "doc_id", "text"
    ).orderBy("doc_id")


_BM25_TERMS = ("join", "scan", "merge")


def _bm25_oracle() -> str:
    """DuckDB replay of the ladder-idf BM25: the one transcendental
    (per-term idf ln) is FLOOR-frozen onto the 2^20 integer ladder —
    floor(ln(·)·2^20) as BIGINT, then idf_int/2^20 (an exact
    power-of-two division) — so both engines agree bit-for-bit
    everywhere except the negligible floor-boundary ulp every ladder
    in the engine accepts. k1 = 6/5 must be CAST(6/5 AS DOUBLE)
    arithmetic, not a 1.2 decimal literal (registry rule); 0.75/0.25
    are exactly representable and safe. The per-doc sum is
    decimal-stabilized like the Spark side."""
    terms = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    k1 = "(CAST(6 AS DOUBLE) / CAST(5 AS DOUBLE))"
    return f"""
WITH toks AS (
  SELECT doc_id AS doc, unnest(string_split(lower(text), ' ')) AS tok
  FROM documents
),
dl AS (SELECT doc, CAST(COUNT(*) AS BIGINT) AS dl FROM toks GROUP BY doc),
tf AS (SELECT doc, tok, CAST(COUNT(*) AS BIGINT) AS tf
       FROM toks WHERE tok IN ({terms}) GROUP BY doc, tok),
st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(dl) AS BIGINT) AS tot
       FROM dl),
dfq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tok),
term AS (
  SELECT tf.doc,
    CAST(FLOOR(ln(1.0 + (CAST(st.n - dfq.df AS DOUBLE) + 0.5)
                        / (CAST(dfq.df AS DOUBLE) + 0.5))
               * 1048576.0) AS BIGINT) AS idf_lad,
    tf.tf, dl.dl, st.n, st.tot
  FROM tf JOIN dfq USING (tok) JOIN dl USING (doc) CROSS JOIN st
)
SELECT doc AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
  CAST(SUM(CAST(
    (CAST(idf_lad AS DOUBLE) / 1048576.0)
    * (CAST(tf AS DOUBLE) * ({k1} + 1.0)
       / (CAST(tf AS DOUBLE)
          + {k1} * (0.25 + 0.75 * CAST(dl AS DOUBLE) * CAST(n AS DOUBLE)
                           / CAST(tot AS DOUBLE))))
    AS DECIMAL(28, 14))) AS DOUBLE) AS score
FROM term GROUP BY doc
ORDER BY score DESC, doc_id ASC
LIMIT 20
"""


@register(
    "q_bm25_search",
    oracle=_bm25_oracle(),
    doc=f"Okapi BM25 ranking for the query {_BM25_TERMS} — the "
    "production lexical signal for hybrid retrieval (the raw tf in "
    "q_hybrid_search_rrf is its idf-free degenerate form): per-term "
    "idf·tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)) with k1=6/5, b=3/4 "
    "exact rationals, decimal-stabilized per-doc sum. UNDER THE EXACT "
    "GATE since r12: the per-term idf ln — the one transcendental, "
    "previously the reason this row was rows-only — is frozen onto "
    "the 2^20 integer ladder (floor(ln·2^20) → BIGINT, used as "
    "idf_int/2^20), the q_value_ndcg log2-ladder trick; ranking "
    "pinned equal to the textbook ln form by pytest. Plan: literal "
    "term isin filters the exploded token scan BEFORE any shuffle "
    "(posting scan — corpus text never shuffles), doc lengths one "
    "groupBy, N/avgdl a 1-row broadcast stamp, df a ≤|terms|-row "
    "broadcast; top-20 TakeOrderedAndProject "
    "(operators/text_analysis.py:bm25_scores)",
    tags=("pipeline", "text", "search"),
    invariants=(
        "tests/test_operators.py::test_bm25_reference_parity_and_ranking",
        "tests/test_operators.py::test_bm25_ladder_idf_ranking_equals_ln_form",
    ),
)
def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_engineering_project_spark.operators.text_analysis import (
        bm25_scores,
    )

    docs = load_table(spark, sf_dir, "documents")
    return (
        bm25_scores(
            docs, list(_BM25_TERMS), "doc_id", "text", idf_ladder=1 << 20
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(20)
    )


# --- deterministic KLL quantile summary (operators/sketches.py) ----------------
#
# EXACT-ORACLE since r13 (r12 verdict task 1). Two observations make
# the "iterative/imperative" compactor SQL-replayable after all:
#
# 1. The registered pipeline only ever reaches _kll_merge_levels via
#    _kll_build_weighted (binary weight decomposition, zero insert
#    error) and kll_merge_all — and in _kll_merge_levels each level
#    compacts AT MOST ONCE (a compaction EMPTIES the level and the
#    sweep never revisits it), so the n_compactions parity is always
#    0 at compaction time: the whole stage is ONE bottom-up sweep
#    promoting the even-indexed items (rn 1,3,5… of the sorted
#    buffer) of any level holding > k items. Verified exhaustively
#    against the Python implementation on 600 random weighted
#    multisets before the conversion (sweep ≡ _kll_merge_levels,
#    levels and err_bound both).
# 2. A bottom-up sweep with a STATICALLY BOUNDED top level unrolls
#    into chained MATERIALIZED CTEs, the same discipline that exact-
#    gated the PCA power iteration: step i rewrites only level i,
#    every other row passes through. Unrolling to _KLL_ORACLE_H
#    levels is EXACT (not approximate) as long as no level ≥ H ever
#    holds > k items — level h overfull needs > k·2^h mass in one
#    partition, so H=18, k=256 is exact below 256·2^18 ≈ 6.7e7 rows
#    per key (the sweeps run at sf ≤ 0.1 = 1e5 events rows: ~670×
#    headroom; the registry rule would re-raise H before any bigger
#    oracle SF).
#
# The one genuinely non-replayable piece was the xxhash64 shard
# assignment (no DuckDB twin) — the registered queries now pass
# shard_expr = the affine scramble ((id % P)·A + B) % P % 32 (the
# _KMV_A/_KMV_B constants), which both engines compute bit-equal in
# int64 ((P−1)·A ≈ 7.4e17 < 2^63). Production callers keep the
# xxhash64 default; the summary semantics are shard-invariant (any
# deterministic shard gives a valid certified summary — the bound
# telescopes per shard regardless of assignment).

_KLL_ORACLE_H = 18
_KLL_ORACLE_NSH = 32
_KLL_SHARD_SQL = (
    f"((event_id % {P}) * {_KMV_A} + {_KMV_B}) % {P} % {_KLL_ORACLE_NSH}"
)
_KLL_V_SQL = "CAST(FLOOR(value * 1000) AS BIGINT)"


def _kll_shard_expr() -> F.Column:
    return F.pmod(
        F.pmod(F.pmod(F.col("event_id"), F.lit(P)) * _KMV_A + _KMV_B, F.lit(P)),
        F.lit(_KLL_ORACLE_NSH),
    )


def _kll_oracle(
    key_sql_cols: list[tuple[str, str]],
    qs: list[tuple[int, int, str]],
    k: int = 256,
    h_max: int = _KLL_ORACLE_H,
) -> str:
    """Unrolled-sweep DuckDB replay of kll_summary(shard_expr=affine)
    → kll_merge_all → kll_quantiles (or the by-key twins): stage A
    sweeps per (keys…, shard), stage B concatenates shard levels and
    sweeps per (keys…), read-off walks the (v, lvl)-ordered summary
    to the first cumulative weight ≥ ceil(q·n). err_bound = Σ 2^h
    over every (partition, level-h) compaction in both stages —
    counted per shard in stage A (GROUP BY keys, shard), per key in
    stage B — exactly the Python accumulation order-free."""
    keys = [a for a, _ in key_sql_cols]
    key_sel = "".join(f"{e} AS {a}, " for a, e in key_sql_cols)
    kcols = "".join(f"{a}, " for a in keys)
    kpart_shard = ", ".join(keys + ["shard"])
    bpart = (", ".join(keys) + ", ") if keys else ""
    parts = [
        f"""src AS (
  SELECT {key_sel}{_KLL_SHARD_SQL} AS shard, {_KLL_V_SQL} AS v
  FROM events
  WHERE {_KLL_V_SQL} IS NOT NULL
),
ntab AS (SELECT {kcols}COUNT(*) AS n FROM src GROUP BY ALL),
w AS (SELECT {kcols}shard, v, COUNT(*) AS w FROM src GROUP BY ALL),
a0 AS MATERIALIZED (
  SELECT {kcols}shard, bits.h AS lvl, v
  FROM w CROSS JOIN range(0, 41) bits(h)
  WHERE (w >> bits.h) & 1 = 1
)"""
    ]
    for i in range(h_max):
        parts.append(
            f"""a{i + 1} AS MATERIALIZED (
  SELECT {kcols}shard,
         CASE WHEN lvl = {i} AND m > {k} THEN lvl + 1 ELSE lvl END AS lvl, v
  FROM (SELECT {kcols}shard, lvl, v,
               COUNT(*) OVER (PARTITION BY {kpart_shard}, lvl) AS m,
               row_number() OVER (PARTITION BY {kpart_shard}, lvl ORDER BY v) AS rn
        FROM a{i})
  WHERE lvl <> {i} OR m <= {k} OR rn % 2 = 1
)"""
        )
    erra_branches = "\n  UNION ALL ".join(
        f"SELECT {kcols}shard, CAST({1 << i} AS BIGINT) AS e FROM a{i} "
        f"WHERE lvl = {i} GROUP BY ALL HAVING COUNT(*) > {k}"
        for i in range(h_max)
    )
    parts.append(f"b0 AS MATERIALIZED (SELECT {kcols}lvl, v FROM a{h_max})")
    for i in range(h_max):
        parts.append(
            f"""b{i + 1} AS MATERIALIZED (
  SELECT {kcols}CASE WHEN lvl = {i} AND m > {k} THEN lvl + 1 ELSE lvl END AS lvl, v
  FROM (SELECT {kcols}lvl, v,
               COUNT(*) OVER (PARTITION BY {bpart}lvl) AS m,
               row_number() OVER (PARTITION BY {bpart}lvl ORDER BY v) AS rn
        FROM b{i})
  WHERE lvl <> {i} OR m <= {k} OR rn % 2 = 1
)"""
        )
    errb_branches = "\n  UNION ALL ".join(
        f"SELECT {kcols}CAST({1 << i} AS BIGINT) AS e FROM b{i} "
        f"WHERE lvl = {i} GROUP BY ALL HAVING COUNT(*) > {k}"
        for i in range(h_max)
    )
    qvals = ", ".join(f"({n}, {d}, '{lab}')" for n, d, lab in qs)
    ntkeys = "".join(f"nt.{a}, " for a in keys)
    tkeys = "".join(f"t.{a}, " for a in keys)
    hkeys = "".join(f"h.{a}, " for a in keys)
    hit_on = " AND ".join(
        ["o.cum >= t.target"] + [f"t.{a} = o.{a}" for a in keys]
    )
    okeys_on = " AND ".join([f"h.{a} = o.{a}" for a in keys] + ["h.rn = o.rn"])
    last_on = " AND ".join([f"l.{a} = h.{a}" for a in keys]) or "TRUE"
    err_on_a = " AND ".join([f"ea.{a} = h.{a}" for a in keys]) or "TRUE"
    err_on_b = " AND ".join([f"eb.{a} = h.{a}" for a in keys]) or "TRUE"
    order_out = ", ".join([f"h.{a}" for a in keys] + ["h.q_label"])
    parts.append(
        f"""erra AS (
  SELECT {kcols}SUM(e) AS err FROM (
  {erra_branches}
  ) GROUP BY ALL
),
errb AS (
  SELECT {kcols}SUM(e) AS err FROM (
  {errb_branches}
  ) GROUP BY ALL
),
ordered AS (
  SELECT {kcols}v, lvl,
         SUM(CAST(1 AS BIGINT) << lvl) OVER (
           PARTITION BY {bpart}1 ORDER BY v, lvl
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         row_number() OVER (PARTITION BY {bpart}1 ORDER BY v, lvl) AS rn
  FROM b{h_max}
),
qs(qnum, qden, q_label) AS (VALUES {qvals}),
tgt AS (
  SELECT {ntkeys}t.q_label, (t.qnum * nt.n + t.qden - 1) // t.qden AS target, nt.n
  FROM ntab nt CROSS JOIN qs t
),
hit AS (
  SELECT {tkeys}t.q_label, t.n, MIN(o.rn) AS rn
  FROM tgt t
  LEFT JOIN ordered o ON {hit_on}
  GROUP BY ALL
),
lastv AS (
  SELECT {kcols}v FROM (
    SELECT {kcols}v,
           row_number() OVER (PARTITION BY {bpart}1 ORDER BY rn DESC) AS rr
    FROM ordered) WHERE rr = 1
)
SELECT {hkeys}h.q_label,
       COALESCE(o.v, l.v) AS value,
       h.n AS n,
       CAST(COALESCE(ea.err, 0) + COALESCE(eb.err, 0) AS BIGINT) AS err_bound
FROM hit h
LEFT JOIN ordered o ON {okeys_on}
LEFT JOIN lastv l ON {last_on}
LEFT JOIN erra ea ON {err_on_a}
LEFT JOIN errb eb ON {err_on_b}
ORDER BY {order_out}"""
    )
    return "WITH " + ",\n".join(parts)


@register(
    "q_kll_value_quantiles",
    oracle=_kll_oracle(
        [],
        [
            (1, 100, "p01"),
            (1, 4, "p25"),
            (1, 2, "p50"),
            (3, 4, "p75"),
            (99, 100, "p99"),
        ],
    ),
    doc="Deterministic self-certifying KLL quantile summary over event "
    "values in integer micro-units: per-shard compactor hierarchies "
    "(applyInPandas over affine-scrambled id shards — layout-"
    "invariant), one bounded merge, p01/p25/p50/p75/p99 read-offs "
    "each carrying the summary's certified err_bound — "
    "|true_rank(value) − ceil(q·n)| ≤ err_bound holds "
    "deterministically, not w.h.p. EXACT-ORACLE since r13: the "
    "DuckDB side replays the compactor as unrolled single-sweep "
    "MATERIALIZED CTEs (see _kll_oracle — each level compacts at "
    "most once per merge, so the sweep is statically unrollable). "
    "The distribution-independent member of the quantile-sketch "
    "family (histogram needs a width, HDR a log resolution) "
    "(operators/sketches.py:kll_summary)",
    tags=("pipeline", "sketch"),
    invariants=(
        "tests/test_properties.py::test_kll_certified_rank_bound_on_any_multiset",
        "tests/test_properties.py::test_kll_deterministic_and_weight_exact_total",
        "tests/test_operators.py::test_kll_spark_pipeline_bound_and_determinism",
    ),
)
def q_kll_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_engineering_project_spark.operators.sketches import (
        kll_merge_all,
        kll_quantiles,
        kll_summary,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", F.expr("CAST(FLOOR(value * 1000) AS BIGINT)").alias("v")
    )
    s = kll_summary(
        ev, "v", k=256, n_shards=32, shard_expr=_kll_shard_expr()
    )
    return kll_quantiles(
        kll_merge_all(s, k=256),
        [
            (1, 100, "p01"),
            (1, 4, "p25"),
            (1, 2, "p50"),
            (3, 4, "p75"),
            (99, 100, "p99"),
        ],
    ).orderBy("q_label")


# --- MinHash estimator calibration ----------------------------------------------


def _minhash_calibration_oracle() -> str:
    sig_items = ", ".join(
        f"list_min(list_transform(hv, h -> ({a} * h + {b}) % {P}))"
        for a, b in MINHASH_SEEDS
    )
    band_selects = []
    for band in range(LSH_BANDS):
        combine = " + ".join(
            f"sig[{band * LSH_ROWS + r + 1}] * {B ** r}" for r in range(LSH_ROWS)
        )
        band_selects.append(
            f"SELECT doc, {band} AS band, ({combine}) % {P} AS bucket FROM sig"
        )
    buckets = "\n  UNION ALL ".join(band_selects)
    k = len(MINHASH_SEEDS)
    match_terms = " + ".join(
        f"CASE WHEN sa.sig[{i + 1}] = sb.sig[{i + 1}] THEN 1 ELSE 0 END"
        for i in range(k)
    )
    return f"""
WITH {_TOKS_CTE},
{_HT_CTE},
{_HV_CTE},
sig AS (SELECT doc, [{sig_items}] AS sig FROM hs),
buckets AS (
  {buckets}
),
cands AS (
  SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
  FROM buckets a JOIN buckets b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc < b.doc
)
SELECT doc_a, doc_b,
  CAST(({match_terms}) AS BIGINT) AS sig_matches,
  CAST(len(list_intersect(ha.hv, hb.hv)) AS BIGINT) AS inter,
  CAST(len(ha.hv) + len(hb.hv) - len(list_intersect(ha.hv, hb.hv))
       AS BIGINT) AS uni,
  ({match_terms}) / CAST({k} AS DOUBLE) AS est_jaccard,
  len(list_intersect(ha.hv, hb.hv))
    / CAST(len(ha.hv) + len(hb.hv) - len(list_intersect(ha.hv, hb.hv))
           AS DOUBLE) AS jaccard
FROM cands
JOIN sig sa ON doc_a = sa.doc
JOIN sig sb ON doc_b = sb.doc
JOIN hs ha ON doc_a = ha.doc
JOIN hs hb ON doc_b = hb.doc
ORDER BY doc_a, doc_b
"""


@register(
    "q_minhash_calibration",
    oracle=_minhash_calibration_oracle(),
    doc="MinHash estimator calibration: every LSH candidate pair "
    "(UNVERIFIED — the set banding actually emits) with its "
    "signature agreement count beside the exact Jaccard — "
    "P[minhash_i(A)=minhash_i(B)] = J, so sig_matches/MINHASH_K "
    "(= len(MINHASH_SEEDS) = 16 today; the oracle literal is "
    "generated from the same constant) is the unbiased estimate and "
    "this table is the operating evidence for the band/row choice "
    "(estimator error on real candidates + the sub-threshold "
    "passthrough the verify stage must absorb). est_jaccard divides "
    "by a power of two (exactly representable); all ranking columns "
    "integer (operators/dedup.py:minhash_calibration_pairs)",
    tags=("pipeline", "dedup", "sketch"),
)
def q_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.minhash_calibration_pairs(
        docs,
        "doc_id",
        "text",
        n=NGRAM_N,
        hashed=_shared_hashed(spark, sf_dir, NGRAM_N),
    ).orderBy("doc_a", "doc_b")


@register(
    "q_kll_quantiles_by_type",
    oracle=_kll_oracle(
        [("event_type", "event_type")],
        [(1, 2, "p50"), (9, 10, "p90")],
    ),
    doc="Per-event-type certified-bound KLL quantiles — the "
    "production shape: per-(key, shard) builds, then per-KEY merges "
    "(each key folds its own ≤ n_shards bounded rows; parallel "
    "across keys, no global single-task fold anywhere). p50/p90 per "
    "type with the summary's certified rank-error bound; exact-"
    "oracle via the unrolled-sweep replay keyed on event_type "
    "(operators/sketches.py:kll_summary_by_key)",
    tags=("pipeline", "sketch"),
    invariants=(
        "tests/test_operators.py::test_kll_by_key_bound_per_key_and_matches_global_path",
        "tests/test_properties.py::test_kll_certified_rank_bound_on_any_multiset",
    ),
)
def q_kll_quantiles_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_engineering_project_spark.operators.sketches import (
        kll_quantiles_by_key,
        kll_summary_by_key,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.expr("CAST(FLOOR(value * 1000) AS BIGINT)").alias("v"),
    )
    s = kll_summary_by_key(
        ev,
        ["event_type"],
        "v",
        k=256,
        n_shards=32,
        shard_expr=_kll_shard_expr(),
    )
    return kll_quantiles_by_key(
        s, ["event_type"], [(1, 2, "p50"), (9, 10, "p90")]
    ).orderBy("event_type", "q_label")


@register(
    "q_kll_quantiles_by_user",
    oracle=_kll_oracle(
        [("user_cohort", "user_id % 8")],
        [(1, 2, "p50"), (9, 10, "p90")],
    ),
    doc="Per-user-cohort certified-bound KLL quantiles keyed on a "
    "BIGINT column end-to-end (r10 verdict task 4: every other "
    "registered keyed-sketch query keys on a string, so the r9 "
    "ADVICE #2 dtype-derivation fix — key schemas read from "
    "df.schema at the applyInPandas Arrow boundary, "
    "operators/sketches.py:_key_schema_ddl — sat only under pytest; "
    "this row pins it under the driver gate permanently). Cohort = "
    "pmod(user_id, 8) stays LONG through build, merge, and read-off; "
    "exact-oracle via the unrolled-sweep replay keyed on the cohort "
    "(operators/sketches.py:kll_summary_by_key)",
    tags=("pipeline", "sketch"),
    invariants=(
        "tests/test_operators.py::test_kll_by_key_long_key_schema",
        "tests/test_operators.py::test_kll_by_key_bound_per_key_and_matches_global_path",
        "tests/test_properties.py::test_kll_certified_rank_bound_on_any_multiset",
    ),
)
def q_kll_quantiles_by_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_engineering_project_spark.operators.sketches import (
        kll_quantiles_by_key,
        kll_summary_by_key,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.pmod(F.col("user_id"), F.lit(8)).alias("user_cohort"),
        F.expr("CAST(FLOOR(value * 1000) AS BIGINT)").alias("v"),
    )
    s = kll_summary_by_key(
        ev,
        ["user_cohort"],
        "v",
        k=256,
        n_shards=32,
        shard_expr=_kll_shard_expr(),
    )
    return kll_quantiles_by_key(
        s, ["user_cohort"], [(1, 2, "p50"), (9, 10, "p90")]
    ).orderBy("user_cohort", "q_label")


_RRF_K0 = 60
_RRF_SHORTLIST = 50
_RRF_TOPK = 20
_RRF_TERM = "data"


@register(
    "q_hybrid_search_rrf",
    oracle=f"""
WITH lex AS (
  SELECT doc_id AS item,
         len(list_filter(string_split(lower(text), ' '),
                         x -> x = '{_RRF_TERM}')) AS s
  FROM documents
),
lex_short AS (
  SELECT item, ROW_NUMBER() OVER (ORDER BY s DESC, item ASC) AS r
  FROM lex ORDER BY s DESC, item ASC LIMIT {_RRF_SHORTLIST}
),
q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 1),
vec AS (
  SELECT vec_id AS item, embedding::DOUBLE[] AS e FROM embeddings
),
vecscore AS (
  SELECT item, {_COS} AS s FROM vec, q
),
vec_short AS (
  SELECT item, ROW_NUMBER() OVER (ORDER BY s DESC, item ASC) AS r
  FROM vecscore ORDER BY s DESC, item ASC LIMIT {_RRF_SHORTLIST}
),
unioned AS (
  SELECT item, 2000000000000 // ({_RRF_K0} + r) AS w FROM lex_short
  UNION ALL
  SELECT item, 2000000000000 // ({_RRF_K0} + r) AS w FROM vec_short
)
SELECT item, CAST(SUM(w) AS BIGINT) AS rrf_score,
       CAST(COUNT(*) AS BIGINT) AS n_lists
FROM unioned GROUP BY item
ORDER BY rrf_score DESC, item ASC
LIMIT {_RRF_TOPK}
""",
    doc="Hybrid retrieval fusion — reciprocal-rank fusion of a "
    f"LEXICAL ranking (term frequency of '{_RRF_TERM}' over "
    "documents) and a VECTOR ranking (fold cosine to the vec_id=1 "
    "query embedding) over the aligned doc/vec id space: each signal "
    f"collapses to its top-{_RRF_SHORTLIST} shortlist "
    "(TakeOrderedAndProject — per-partition heaps, no global sort), "
    "ranks are taken over the shortlist only, and RRF weights are "
    "RRF_SCALE DIV (k0 + rank) — pure integer division, so the fused "
    "scores are exact integers on both engines "
    "(operators/similarity.py:rrf_fuse)",
    headline=True,
    tags=("pipeline", "similarity"),
)
def q_hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_engineering_project_spark.operators.similarity import (
        as_double,
        cosine_col,
        rrf_fuse,
    )

    docs = load_table(spark, sf_dir, "documents")
    lex = docs.select(
        F.col("doc_id").alias("item"),
        F.size(
            F.filter(
                F.split(F.lower(F.col("text")), " "),
                lambda x: x == F.lit(_RRF_TERM),
            )
        ).alias("s"),
    )
    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 1).select(
        as_double(F.col("embedding")).alias("_q")
    )
    vec = emb.crossJoin(F.broadcast(qv)).select(
        F.col("vec_id").alias("item"),
        cosine_col(as_double(F.col("embedding")), F.col("_q")).alias("s"),
    )
    return rrf_fuse(
        [lex, vec],
        "item",
        "s",
        k0=_RRF_K0,
        shortlist=_RRF_SHORTLIST,
        top_k=_RRF_TOPK,
    )


# Keyed hybrid search: three concurrent queries, each a (term, query
# embedding) pair over the aligned doc/vec id space. Key = query id.
_RRF_QUERIES = ((1, "join"), (2, "scan"), (3, "merge"))
_RRF_BY_QUERY_TOPK = 10


def _rrf_by_query_oracle() -> str:
    terms_values = ", ".join(f"({qk}, '{t}')" for qk, t in _RRF_QUERIES)
    qids = ", ".join(str(qk) for qk, _t in _RRF_QUERIES)
    return f"""
WITH terms(qk, term) AS (VALUES {terms_values}),
lex AS (
  SELECT CAST(t.qk AS BIGINT) AS qk, d.doc_id AS item,
         len(list_filter(string_split(lower(d.text), ' '),
                         x -> x = t.term)) AS s
  FROM documents d, terms t
),
lex_short AS (
  SELECT qk, item, r FROM (
    SELECT qk, item,
           ROW_NUMBER() OVER (PARTITION BY qk
                              ORDER BY s DESC, item ASC) AS r
    FROM lex
  ) WHERE r <= {_RRF_SHORTLIST}
),
q AS (
  SELECT vec_id AS qk, embedding::DOUBLE[] AS qe
  FROM embeddings WHERE vec_id IN ({qids})
),
vecscore AS (
  SELECT q.qk, v.item, {_COS} AS s
  FROM (SELECT vec_id AS item, embedding::DOUBLE[] AS e
        FROM embeddings) v, q
),
vec_short AS (
  SELECT qk, item, r FROM (
    SELECT qk, item,
           ROW_NUMBER() OVER (PARTITION BY qk
                              ORDER BY s DESC, item ASC) AS r
    FROM vecscore
  ) WHERE r <= {_RRF_SHORTLIST}
),
unioned AS (
  SELECT qk, item, 2000000000000 // ({_RRF_K0} + r) AS w FROM lex_short
  UNION ALL
  SELECT qk, item, 2000000000000 // ({_RRF_K0} + r) AS w FROM vec_short
),
fused AS (
  SELECT qk, item, CAST(SUM(w) AS BIGINT) AS rrf_score,
         CAST(COUNT(*) AS BIGINT) AS n_lists
  FROM unioned GROUP BY qk, item
)
SELECT qk, item, rrf_score, n_lists FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY qk
                               ORDER BY rrf_score DESC, item ASC) AS rk
  FROM fused
) WHERE rk <= {_RRF_BY_QUERY_TOPK}
ORDER BY qk, rrf_score DESC, item ASC
"""


@register(
    "q_hybrid_search_rrf_by_query",
    oracle=_rrf_by_query_oracle(),
    doc="PER-QUERY hybrid retrieval fusion (r10 verdict task 3 — the "
    "production shape): three concurrent queries, each a (lexical "
    "term, query embedding) pair, fuse their own candidate lists via "
    "reciprocal-rank fusion keyed by query id. Per signal the "
    "shortlist is row_number over Window.partitionBy(query key) with "
    "rank ≤ shortlist — WindowGroupLimit per-partition heaps, NO "
    "single-partition window anywhere (the global q_hybrid_search_rrf "
    "is the degenerate single-key case); fusion is one groupBy on "
    "(key, item), and the per-key top-k is a second keyed window over "
    "the fused rows. Frozen integer RRF_SCALE DIV (k0 + rank) weights "
    "— fused scores exact on both engines "
    "(operators/similarity.py:rrf_fuse_by_key)",
    headline=True,
    tags=("pipeline", "similarity"),
)
def q_hybrid_search_rrf_by_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from big_data_engineering_project_spark.operators.similarity import (
        as_double,
        cosine_col,
        rrf_fuse_by_key,
    )

    docs = load_table(spark, sf_dir, "documents")
    terms = spark.createDataFrame(
        list(_RRF_QUERIES), "qk LONG, term STRING"
    )
    lex = docs.crossJoin(F.broadcast(terms)).select(
        "qk",
        F.col("doc_id").alias("item"),
        F.size(
            F.filter(
                F.split(F.lower(F.col("text")), " "),
                lambda x: x == F.col("term"),
            )
        ).alias("s"),
    )
    emb = load_table(spark, sf_dir, "embeddings")
    qids = [qk for qk, _t in _RRF_QUERIES]
    qv = emb.filter(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("qk"),
        as_double(F.col("embedding")).alias("_q"),
    )
    vec = emb.crossJoin(F.broadcast(qv)).select(
        "qk",
        F.col("vec_id").alias("item"),
        cosine_col(as_double(F.col("embedding")), F.col("_q")).alias("s"),
    )
    return rrf_fuse_by_key(
        [lex, vec],
        "qk",
        "item",
        "s",
        k0=_RRF_K0,
        shortlist=_RRF_SHORTLIST,
        top_k=_RRF_BY_QUERY_TOPK,
    ).orderBy("qk", F.desc("rrf_score"), "item")


# --- Token-budget mix materialization (round 11) -----------------------------

_MIX_TARGETS_PPM = {
    "en": 400_000,
    "de": 150_000,
    "zh": 150_000,
    "fr": 150_000,
    "es": 150_000,
}
_MIX_BUDGET_TOKENS = 20_000
_MIX_PPM_SQL = (
    "CASE lang "
    + " ".join(
        f"WHEN '{k}' THEN {v}" for k, v in _MIX_TARGETS_PPM.items()
    )
    + " ELSE 0 END"
)


@register(
    "q_domain_mix_manifest",
    oracle=f"""
WITH {_TOKS_CTE},
n AS (
  SELECT d.doc_id, d.lang, len(t.t) AS n_tokens
  FROM documents d JOIN toks t ON t.doc = d.doc_id
),
w AS (
  SELECT doc_id, lang, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (
           PARTITION BY lang ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS tok_before,
         CAST((CAST({_MIX_BUDGET_TOKENS} AS BIGINT) * ({_MIX_PPM_SQL}))
              // 1000000 AS BIGINT)
           AS stratum_budget
  FROM n
),
sel AS (SELECT * FROM w WHERE tok_before < stratum_budget)
SELECT lang AS stratum,
       MIN(stratum_budget) AS budget_toks,
       CAST(COUNT(*) AS BIGINT) AS n_docs_sel,
       CAST(SUM(n_tokens) AS BIGINT) AS toks_sel
FROM sel GROUP BY lang ORDER BY stratum
""",
    doc="Token-budget training-mix materialization (the step AFTER "
    "q_mixing_weights): greedy per-stratum doc selection in id order "
    "until budget_tokens*ppm DIV 1e6 is crossed — all exact integers; "
    "two-level keyed prefix sum so |strata| never bounds parallelism "
    "(operators/sampling.py:budget_mix_select)",
    tags=("pipeline", "sampling"),
)
def q_domain_mix_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_engineering_project_spark.operators.sampling import (
        budget_mix_select,
    )

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "n_toks_doc", F.size(dedup.tokens_col(F.col("text"))).cast("long")
    )
    sel = budget_mix_select(
        docs,
        "lang",
        "doc_id",
        "n_toks_doc",
        _MIX_TARGETS_PPM,
        _MIX_BUDGET_TOKENS,
    )
    return (
        sel.groupBy("stratum")
        .agg(
            F.min("stratum_budget").alias("budget_toks"),
            F.count(F.lit(1)).cast("long").alias("n_docs_sel"),
            F.sum("n_tokens").cast("long").alias("toks_sel"),
        )
        .orderBy("stratum")
    )


_PAD_BATCH_DOCS = 8


@register(
    "q_padding_waste",
    oracle=f"""
WITH {_TOKS_CTE},
n AS (SELECT doc AS id, CAST(len(t) AS BIGINT) AS n_tokens FROM toks),
a AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY id) AS rn FROM n
),
b AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY n_tokens, id) AS rn FROM n
),
ab AS (
  SELECT 'arrival' AS strategy, (rn - 1) // {_PAD_BATCH_DOCS} AS batch,
         n_tokens FROM a
  UNION ALL
  SELECT 'length_sorted', (rn - 1) // {_PAD_BATCH_DOCS}, n_tokens FROM b
),
per AS (
  SELECT strategy, batch, COUNT(*) AS nd, MAX(n_tokens) AS mx,
         CAST(SUM(n_tokens) AS BIGINT) AS s
  FROM ab GROUP BY strategy, batch
)
SELECT strategy,
       CAST(COUNT(*) AS BIGINT) AS n_batches,
       CAST(SUM(s) AS BIGINT) AS real_tokens,
       CAST(SUM(nd * mx - s) AS BIGINT) AS pad_slots,
       CAST(SUM(nd * mx - s) AS DOUBLE)
         / CAST(SUM(s) + SUM(nd * mx - s) AS DOUBLE) AS waste_frac
FROM per GROUP BY strategy ORDER BY strategy
""",
    doc="Padded-batch waste audit: arrival-order vs length-sorted "
    "batching at 8 docs/batch — exact integer pad-slot accounting over "
    "two two-phase global ranks (never a single-partition window), one "
    "final division (operators/sampling.py:padding_waste)",
    tags=("pipeline", "sampling"),
)
def q_padding_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_engineering_project_spark.operators.sampling import (
        padding_waste,
    )

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "n_toks_doc", F.size(dedup.tokens_col(F.col("text"))).cast("long")
    )
    return padding_waste(
        docs, "doc_id", "n_toks_doc", _PAD_BATCH_DOCS
    ).orderBy("strategy")


# --- Margin-kNN pair mining (round 11) ---------------------------------------

_MARGIN_K = 4
_MARGIN_TOP = 20
_MARGIN_COS = (
    f"{_fold_dot('ex', 'ey')} / "
    f"(sqrt({_fold_dot('ex', 'ex')}) * sqrt({_fold_dot('ey', 'ey')}))"
)


@register(
    "q_margin_knn_mining",
    oracle=f"""
WITH x AS (SELECT vec_id AS id_x, embedding::DOUBLE[] AS ex
           FROM embeddings WHERE vec_id % 50 = 0),
y AS (SELECT vec_id AS id_y, embedding::DOUBLE[] AS ey
      FROM embeddings WHERE vec_id % 50 != 0),
cc AS (SELECT id_x, id_y, {_MARGIN_COS} AS cosine FROM x, y),
rx AS (SELECT id_x, id_y, cosine, ROW_NUMBER() OVER (
         PARTITION BY id_x ORDER BY cosine DESC, id_y ASC) AS r FROM cc),
sx AS (SELECT id_x, SUM(CAST(cosine AS DECIMAL(18,12))) AS sx
       FROM rx WHERE r <= {_MARGIN_K} GROUP BY id_x),
ry AS (SELECT id_x, id_y, cosine, ROW_NUMBER() OVER (
         PARTITION BY id_y ORDER BY cosine DESC, id_x ASC) AS r FROM cc),
sy AS (SELECT id_y, SUM(CAST(cosine AS DECIMAL(18,12))) AS sy
       FROM ry WHERE r <= {_MARGIN_K} GROUP BY id_y)
SELECT id_x, id_y, cosine,
       cosine / (CAST(sx + sy AS DOUBLE) / {float(2 * _MARGIN_K)}) AS margin
FROM cc JOIN sx USING (id_x) JOIN sy USING (id_y)
ORDER BY margin DESC, id_x, id_y LIMIT {_MARGIN_TOP}
""",
    doc="Margin-based kNN pair mining (Artetxe & Schwenk bitext-mining "
    "criterion): cosine rescored by the ratio to both sides' kNN "
    "neighborhood density — suppresses hub vectors; decimal-stabilized "
    "kNN sums, mirrored divisions, total-order ties "
    "(operators/similarity.py:margin_knn_pairs)",
    tags=("pipeline", "similarity"),
)
def q_margin_knn_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.margin_knn_pairs(
        emb.filter(F.col("vec_id") % 50 == 0),
        emb.filter(F.col("vec_id") % 50 != 0),
        k=_MARGIN_K,
        top_pairs=_MARGIN_TOP,
    )


# --- MMR diversification (round 11) ------------------------------------------

_MMR_QIDS = (0, 50, 100)
_MMR_SHORTLIST = 12
_MMR_K = 5


def _mmr_oracle() -> str:
    """Unrolled k-step greedy as CTEs — the same fixed-depth chain the
    Spark operator builds, so both engines compute identical doubles."""
    cos_rel = (
        f"{_fold_dot('qv', 'dv')} / "
        f"(sqrt({_fold_dot('qv', 'qv')}) * sqrt({_fold_dot('dv', 'dv')}))"
    )
    cos_sim = (
        f"{_fold_dot('a.dv', 'b.dv')} / "
        f"(sqrt({_fold_dot('a.dv', 'a.dv')}) * sqrt({_fold_dot('b.dv', 'b.dv')}))"
    )
    qids = ", ".join(str(i) for i in _MMR_QIDS)
    parts = [
        f"""WITH q AS (SELECT vec_id AS key, embedding::DOUBLE[] AS qv
       FROM embeddings WHERE vec_id IN ({qids})),
d AS (SELECT vec_id AS item, embedding::DOUBLE[] AS dv FROM embeddings),
cc AS (SELECT key, item, {cos_rel} AS rel, dv
       FROM q JOIN d ON item != key),
cand AS (SELECT key, item, rel, dv FROM (
    SELECT key, item, rel, dv, ROW_NUMBER() OVER (
      PARTITION BY key ORDER BY rel DESC, item ASC) AS rn FROM cc)
  WHERE rn <= {_MMR_SHORTLIST}),
sims AS (SELECT a.key AS key, a.item AS ia, b.item AS ib, {cos_sim} AS sim
         FROM cand a JOIN cand b ON a.key = b.key AND a.item != b.item),
sel1 AS (SELECT key, item, 1 AS mmr_rank, rel, 0.5 * rel AS mmr_score
         FROM (SELECT key, item, rel, ROW_NUMBER() OVER (
                 PARTITION BY key ORDER BY rel DESC, item ASC) AS rn
               FROM cand) WHERE rn = 1),
acc1 AS (SELECT * FROM sel1)"""
    ]
    for step in range(2, _MMR_K + 1):
        p, a = step - 1, step
        parts.append(
            f"""pen{a} AS (
  SELECT c.key, c.item, c.rel, MAX(s.sim) AS mx
  FROM cand c
  JOIN sims s ON s.key = c.key AND s.ia = c.item
  JOIN acc{p} t ON t.key = s.key AND t.item = s.ib
  WHERE NOT EXISTS (SELECT 1 FROM acc{p} z
                    WHERE z.key = c.key AND z.item = c.item)
  GROUP BY c.key, c.item, c.rel),
sel{a} AS (SELECT key, item, {a} AS mmr_rank, rel,
                  0.5 * rel - 0.5 * mx AS mmr_score
           FROM (SELECT key, item, rel, mx, ROW_NUMBER() OVER (
                   PARTITION BY key
                   ORDER BY (0.5 * rel - 0.5 * mx) DESC, item ASC) AS rn
                 FROM pen{a}) WHERE rn = 1),
acc{a} AS (SELECT * FROM acc{p} UNION ALL SELECT * FROM sel{a})"""
        )
    body = ",\n".join(parts)
    return (
        body
        + f"\nSELECT key, item, mmr_rank, rel, mmr_score FROM acc{_MMR_K} "
        "ORDER BY key, mmr_rank"
    )


@register(
    "q_mmr_diversified",
    oracle=_mmr_oracle(),
    doc="Maximal-Marginal-Relevance diversification of per-query ANN "
    "shortlists (λ=1/2, k=5 greedy unrolled as a fixed-depth plan "
    "chain — never a driver loop; oracle unrolls the same steps as "
    "CTEs); shortlists and every argmax are total-ordered "
    "(operators/similarity.py:mmr_select)",
    tags=("pipeline", "similarity"),
)
def q_mmr_diversified(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_engineering_project_spark.operators.similarity import (
        as_double,
        cosine_col,
        mmr_select,
    )
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id").isin(list(_MMR_QIDS))).select(
        F.col("vec_id").alias("key"), as_double(F.col("embedding")).alias("qv")
    )
    d = emb.select(
        F.col("vec_id").alias("item"), as_double(F.col("embedding")).alias("dv")
    )
    cc = (
        d.crossJoin(F.broadcast(q))
        .filter(F.col("item") != F.col("key"))
        .select(
            "key",
            "item",
            cosine_col(F.col("qv"), F.col("dv")).alias("rel"),
            "dv",
        )
    )
    w = Window.partitionBy("key").orderBy(F.desc("rel"), F.asc("item"))
    cand = (
        cc.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= _MMR_SHORTLIST)
        .select("key", "item", "rel", "dv")
    )
    return mmr_select(cand, "key", "item", "rel", "dv", _MMR_K).orderBy(
        "key", "mmr_rank"
    )


@register(
    "q_embedding_covariance",
    oracle=f"""
WITH e AS (SELECT embedding::DOUBLE[] AS v FROM embeddings),
p AS (
  SELECT i, j,
         CAST(FLOOR(v[i] * v[j] * 1099511627776.0) AS BIGINT) AS p
  FROM e, UNNEST(range(1, {_DIMS + 1})) AS u(i),
       UNNEST(range(1, {_DIMS + 1})) AS w(j)
  WHERE j >= i
),
m2 AS (
  SELECT i, j, CAST(SUM(p) AS BIGINT) AS sij,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM p GROUP BY i, j
),
m1 AS (
  SELECT i, CAST(SUM(CAST(FLOOR(v[i] * 1099511627776.0) AS BIGINT))
                 AS BIGINT) AS s
  FROM e, UNNEST(range(1, {_DIMS + 1})) AS u(i) GROUP BY i
)
SELECT m2.i, m2.j, n,
       (CAST(sij AS DOUBLE) / 1099511627776.0
          - (CAST(a.s AS DOUBLE) / 1099511627776.0)
            * (CAST(b.s AS DOUBLE) / 1099511627776.0) / CAST(n AS DOUBLE))
         / CAST(n - 1 AS DOUBLE) AS cov
FROM m2 JOIN m1 a ON a.i = m2.i JOIN m1 b ON b.i = m2.j
ORDER BY m2.i, m2.j
""",
    doc="Sample covariance matrix of the 64 embedding dims in ONE "
    "corpus pass: row-local upper-triangle products (no self-join), "
    "moment sums as EXACT integers via the 2^40 floor ladder "
    "(power-of-two scaling is exact in IEEE; decimal casts diverge "
    "at the ULP between engines at this scale), mirrored double "
    "finish (operators/similarity.py:embedding_dim_covariance)",
    tags=("pipeline", "similarity"),
)
def q_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.embedding_dim_covariance(emb, dims=_DIMS).orderBy(
        "i", "j"
    )


# --- Power iteration under the exact oracle (round 11) ------------------------

_POWER_ITERS = 15


def _power_oracle() -> str:
    """Unrolled integer power iteration — every loop quantity is an
    exact integer (2^20 Gram ladder, sign-split integer
    renormalization), so an ITERATIVE algorithm sits under the
    hash-compare gate instead of a rows-only check."""
    d1 = _DIMS + 1
    parts = [
        f"""WITH e AS (SELECT embedding::DOUBLE[] AS v FROM embeddings),
pu AS (
  SELECT i, j, CAST(FLOOR(v[i] * v[j] * 1048576.0) AS BIGINT) AS g
  FROM e, UNNEST(range(1, {d1})) AS u(i), UNNEST(range(1, {d1})) AS w(j)
  WHERE j >= i
),
up AS MATERIALIZED (SELECT i, j, CAST(SUM(g) AS BIGINT) AS g FROM pu GROUP BY i, j),
gm AS MATERIALIZED (SELECT i, j, g FROM up
       UNION ALL
       SELECT j AS i, i AS j, g FROM up WHERE i != j),
x0 AS MATERIALIZED (SELECT DISTINCT i, CAST(1048576 AS BIGINT) AS x FROM gm)"""
    ]
    for t in range(1, _POWER_ITERS + 1):
        p = t - 1
        parts.append(
            f"""y{t} AS MATERIALIZED (SELECT gm.i AS i, CAST(SUM(gm.g * x{p}.x) AS BIGINT) AS y
       FROM gm JOIN x{p} ON x{p}.i = gm.j GROUP BY gm.i),
m{t} AS MATERIALIZED (SELECT MAX(ABS(y)) AS m FROM y{t}),
x{t} AS MATERIALIZED (SELECT i,
         CAST((CASE WHEN y < 0 THEN -1 WHEN y > 0 THEN 1 ELSE 0 END)
              * (ABS(y) // GREATEST(CAST(1 AS BIGINT),
                                    m // CAST(1048576 AS BIGINT)))
              AS BIGINT) AS x
         FROM y{t}, m{t})"""
        )
    body = ",\n".join(parts)
    return (
        body
        + f"\nSELECT CAST(i AS BIGINT) AS i, x AS eigvec_q "
        f"FROM x{_POWER_ITERS} ORDER BY i"
    )


@register(
    "q_embedding_pca_power",
    oracle=_power_oracle(),
    doc="Dominant Gram eigenvector by INTEGER-EXACT power iteration "
    "(2^20 ladder Gram, exact long sums, sign-split integer "
    "renormalization) — an iterative algorithm under the hash-compare "
    "gate; the oracle unrolls the identical 15 steps; convergence "
    "quality pinned by a spectral-gapped pytest fixture (this corpus "
    "is near-isotropic, gap≈1.02 — the iterate itself is exact) "
    "(operators/similarity.py:gram_power_iteration)",
    tags=("pipeline", "similarity"),
)
def q_embedding_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.gram_power_iteration(
        emb, dims=_DIMS, iters=_POWER_ITERS
    ).orderBy("i")
