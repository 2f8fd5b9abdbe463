"""Similarity search over embedding columns (north-star).

`embeddings` table: (vec_id long, embedding array<float>[64], label int).

- `cosine_col` / `dot_col` — explicit left-fold arithmetic (zip_with +
  aggregate in double) so results are bit-reproducible in any engine
  (no SIMD-order dependence; the DuckDB oracle mirrors the same fold).
- `brute_force_topk` — baseline ANN: broadcast the query vector, one
  pass over all vectors, TakeOrderedAndProject top-k. At 100 TB this
  is one scan, no shuffle — correct but O(n) per query.
- `blocked_neardup_pairs` — all-pairs cosine INSIDE a blocking key
  (label / cluster id): the standard embedding near-dup pattern where
  a coarse partitioner bounds the quadratic term.
- `lsh_topk` — the scale path: random-hyperplane signs bucket vectors;
  only the query's bucket (and optionally neighboring probes) is
  scanned. Hyperplanes are DETERMINISTIC pseudo-vectors derived from
  poly-hash arithmetic, not rand(), so plans are retry-safe.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from big_data_engineering_project_spark.caches import memo
from big_data_engineering_project_spark.operators.compaction import (
    _fs_delete,
    _fs_list,
    _fs_list_batches,
    _hadoop_fs,
    _next_free_batch_tag,
    _swap_in,
    _swap_stage,
    compact_batches,
)
from big_data_engineering_project_spark.sources.catalog import spread

HASH_PRIME = 1_000_000_007
HASH_BASE = 31  # shared with dedup._char_poly_hash (same fold)


def as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


# --- Arrow-vectorized serve scoring (guide §4.2) ------------------------------
#
# Catalyst evaluates zip_with()/aggregate() lambdas on the INTERPRETED
# expression path (no whole-stage codegen): a 64-element fold costs
# ~0.5 µs/element/row, so fold-heavy serves spend their time in
# per-row lambda dispatch, not arithmetic. Where the per-row fold load
# is rich enough to beat the Python round-trip (int8_topk: quantize +
# three folds — 2.55x in the r15 A/B, plans/r15/ab_arrow_serve.json),
# scoring crosses the Python boundary ONCE per batch (mapInArrow over
# exactly the id + vector columns) and computes the same arithmetic
# vectorized in numpy; where it is not (brute_force_topk 0.68x, the
# LSH verify 1.00x — artifacts ditto), the expression fold stays.
# Bit-exactness is preserved by construction:
#   - float cosine: the sequential left-fold is reproduced by looping
#     over DIMENSIONS and vectorizing over ROWS — per row the adds and
#     multiplies happen in the identical order as F.aggregate's fold;
#   - int8: quantization is round-half-away-from-zero on the exact
#     double (what Spark's round() computes for scale 0 — see
#     _round_half_away), dots/norms are exact int64 sums, and the
#     final divide mirrors Spark's NULL-on-zero-denominator.
# The int8 expression fold stays as the reference that pytest pins
# the Arrow path equal to (`_fold_int8_topk`).


def _list_matrix(arr, np):
    """(n, D) float64 matrix from a pyarrow ListArray of floats.
    Requires rectangular lists (the embeddings-table contract); raises
    on ragged input rather than silently diverging from zip_with's
    null-extension semantics."""
    n = len(arr)
    if n == 0:
        return np.zeros((0, 0))
    lens = np.asarray(arr.value_lengths())
    d = int(lens[0])
    if not (lens == d).all():
        raise ValueError("ragged vector column in arrow serve path")
    flat = np.asarray(
        arr.flatten().to_numpy(zero_copy_only=False), dtype=np.float64
    )
    return flat.reshape(n, d)


def _round_half_away(x, np):
    """Vectorized round matching Spark's round(x, 0) on doubles:
    BigDecimal.valueOf(d).setScale(0, HALF_UP) == round-half-away-from-
    zero evaluated on the exact double value (the shortest decimal
    repr of a double is *.5 iff the double IS exactly *.5)."""
    r = np.round(x)  # ties-to-even
    t = np.trunc(x)
    frac = x - t
    r = np.where(frac == 0.5, t + 1.0, r)
    r = np.where(frac == -0.5, t - 1.0, r)
    return r


def _fold_dot_rows(V, Q, np):
    """Per-row sequential left-fold dot in float64: acc = (acc + v_j*q_j)
    for j = 0..D-1 — the exact operation order of dot_col's
    F.aggregate, vectorized across rows."""
    acc = np.zeros(V.shape[0])
    for j in range(V.shape[1]):
        acc = acc + V[:, j] * Q[:, j]
    return acc


def _arrow_cosine_topk(
    vectors: DataFrame,
    query_df: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """brute_force_topk's scoring stage via mapInArrow (bit-identical
    to the fold path; see module comment)."""
    pairs = spread(vectors).select(F.col(id_col), F.col(vec_col)).crossJoin(
        F.broadcast(query_df.select(F.col(vec_col).alias("_q")))
    )

    def score(batches):
        import numpy as np
        import pyarrow as pa

        for batch in batches:
            if batch.num_rows == 0:
                continue
            ids = batch.column(0).to_numpy(zero_copy_only=False)
            V = _list_matrix(batch.column(1), np)
            Q = _list_matrix(batch.column(2), np)
            dot = _fold_dot_rows(V, Q, np)
            den = np.sqrt(_fold_dot_rows(V, V, np)) * np.sqrt(
                _fold_dot_rows(Q, Q, np)
            )
            if (den == 0.0).any():
                # mirror the fold path: the session runs ANSI SQL
                # (Spark 4 default), where double division by zero is
                # an error, not NULL
                raise ArithmeticError(
                    "[DIVIDE_BY_ZERO] zero-norm vector in cosine serve"
                )
            cos = dot / den
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids, type=pa.int64()),
                    pa.array(cos, type=pa.float64()),
                ],
                names=[id_col, "cosine"],
            )

    return (
        pairs.mapInArrow(score, f"{id_col} long, cosine double")
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def _arrow_int8_topk(
    vectors: DataFrame,
    query_df: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """int8_topk's quantize+score stage via mapInArrow (exact integer
    dots; quantization matches Spark round() bit-for-bit — see module
    comment)."""
    pairs = vectors.select(F.col(id_col), F.col(vec_col)).crossJoin(
        F.broadcast(query_df.select(F.col(vec_col).alias("_q")))
    )

    def score(batches):
        import numpy as np
        import pyarrow as pa

        for batch in batches:
            if batch.num_rows == 0:
                continue
            ids = batch.column(0).to_numpy(zero_copy_only=False)
            V = _list_matrix(batch.column(1), np)
            Q = _list_matrix(batch.column(2), np)
            mxv = np.max(np.abs(V), axis=1)
            mxq = np.max(np.abs(Q), axis=1)
            keep = (mxv > 0) & (mxq > 0)  # zero vectors have no direction
            if not keep.any():
                continue
            ids, V, Q = ids[keep], V[keep], Q[keep]
            qv = _round_half_away(V / (mxv[keep] / 127.0)[:, None], np)
            qq = _round_half_away(Q / (mxq[keep] / 127.0)[:, None], np)
            qv = qv.astype(np.int64)
            qq = qq.astype(np.int64)
            # exact int64 sums; |component| <= 127 so D*127^2 cannot
            # overflow for any realistic D
            dot = np.einsum("ij,ij->i", qv, qq)
            na = np.einsum("ij,ij->i", qv, qv)
            nb = np.einsum("ij,ij->i", qq, qq)
            # na, nb >= 127^2 > 0: the max-|x| component quantizes to
            # exactly +/-127, so no zero-denominator mask is needed
            cos = dot.astype(np.float64) / (
                np.sqrt(na.astype(np.float64)) * np.sqrt(nb.astype(np.float64))
            )
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids, type=pa.int64()),
                    pa.array(cos, type=pa.float64()),
                ],
                names=[id_col, "qcosine"],
            )

    return (
        pairs.mapInArrow(score, f"{id_col} long, qcosine double")
        .orderBy(F.desc("qcosine"), F.asc(id_col))
        .limit(k)
    )


def dot_col(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product in double (order-stable)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def cosine_col(a: Column, b: Column) -> Column:
    """dot/(‖a‖·‖b‖), all folds sequential: reproducible bit-for-bit."""
    return dot_col(a, b) / (F.sqrt(dot_col(a, a)) * F.sqrt(dot_col(b, b)))


def brute_force_topk(
    vectors: DataFrame,
    query_df: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine against a 1-row query frame.

    The query side is crossJoin(broadcast(...)) — zero shuffle of the
    vector table; Catalyst executes orderBy().limit(k) as
    TakeOrderedAndProject (per-partition heaps). Deliberately NOT the
    Arrow path: the r15 interleaved A/B (plans/r15/ab_arrow_serve.json)
    measured the numpy scorer 32% SLOWER here — three plain folds per
    row are cheap enough that the per-task Python round-trip dominates
    at bench scale, unlike int8_topk whose quantize+score folds are 2.5x
    richer (_arrow_cosine_topk kept for the pinned-equality test).
    """
    q = query_df.select(as_double(F.col(vec_col)).alias("_q"))
    return (
        spread(vectors).crossJoin(F.broadcast(q))
        .select(
            F.col(id_col),
            cosine_col(as_double(F.col(vec_col)), F.col("_q")).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def blocked_neardup_pairs(
    vectors: DataFrame,
    block_col: str,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Pairs with cosine ≥ threshold inside each block (doc_a < doc_b).
    The self-join key is the block column, so the quadratic blow-up is
    bounded per block — never a global cross join."""
    v = spread(vectors).select(
        F.col(block_col).alias("_blk"),
        F.col(id_col).alias("_id"),
        as_double(F.col(vec_col)).alias("_v"),
    )
    a, b = v.alias("a"), v.alias("b")
    return (
        a.join(
            b,
            (F.col("a._blk") == F.col("b._blk")) & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._blk").alias("block"),
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            cosine_col(F.col("a._v"), F.col("b._v")).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def _pseudo_hyperplane(plane_idx: int, dims: int) -> list[float]:
    """Deterministic pseudo-random hyperplane: component i is mapped
    from a poly-hash of (plane_idx, i) onto [-1, 1]. Same constants
    everywhere — retry-safe, engine-independent."""
    comps = []
    for i in range(dims):
        h = (472882049 * (plane_idx * 10_007 + i) + 291898331) % HASH_PRIME
        comps.append((h / (HASH_PRIME - 1)) * 2.0 - 1.0)
    return comps


def lsh_bucket_col(vec: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane LSH bucket id: bit p = sign(vec·plane_p)."""
    bucket = F.lit(0).cast("long")
    for p, plane in enumerate(planes):
        plane_lit = F.array(*[F.lit(c) for c in plane])
        bucket = bucket + F.when(
            dot_col(vec, plane_lit) >= 0, F.lit(1 << p)
        ).otherwise(0)
    return bucket


def lsh_topk(
    vectors: DataFrame,
    query_df: DataFrame,
    k: int,
    n_planes: int = 8,
    dims: int = 64,
    n_probe_bits: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: scan only vectors in the query's LSH bucket —
    MULTI-PROBE: also buckets within Hamming ≤ `n_probe_bits` of it
    (a true neighbor that falls just across one hyperplane lands in an
    adjacent bucket; probing adjacent buckets is how LSH trades scan
    fraction for recall without re-hashing).

    At 100 TB: vectors are WRITTEN partitioned by bucket, so this scan
    is a partition-pruned read of Σ C(n_planes, j≤m) / 2^n_planes of
    the data (7/64 for 6 planes, m=1); here we compute the bucket on
    the fly (same plan shape, no pre-partitioned table in the fixture).
    The probe expansion happens on the QUERY side (1 row → a few dozen
    bucket keys, broadcast) — the vector table is never exploded.
    Recall < 1.0 by construction — this is the scale path;
    `brute_force_topk` is the exact baseline.
    """
    from itertools import combinations

    planes = [_pseudo_hyperplane(p, dims) for p in range(n_planes)]
    v = vectors.select(
        F.col(id_col),
        as_double(F.col(vec_col)).alias("_v"),
    ).withColumn("_bucket", lsh_bucket_col(F.col("_v"), planes))
    masks = [0]
    for m in range(1, n_probe_bits + 1):
        masks += [
            sum(1 << i for i in idxs)
            for idxs in combinations(range(n_planes), m)
        ]
    q = (
        query_df.select(as_double(F.col(vec_col)).alias("_q"))
        .withColumn("_qbucket", lsh_bucket_col(F.col("_q"), planes))
        .withColumn("_m", F.explode(F.array(*[F.lit(m) for m in masks])))
        .withColumn("_probe", F.col("_qbucket").bitwiseXOR(F.col("_m")))
        .select("_q", "_probe")
    )
    return (
        v.join(F.broadcast(q), v["_bucket"] == q["_probe"])
        .select(
            F.col(id_col),
            cosine_col(F.col("_v"), F.col("_q")).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def ivf_topk(
    vectors: DataFrame,
    query_df: DataFrame,
    k: int,
    n_cells: int = 8,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF-style ANN: coarse-quantize vectors into cells, scan only the
    query's n_probe nearest cells.

    Pass `centroids` (e.g. `ml.kmeans_centers`) for the production
    shape — the coarse quantizer an IVF index trains offline; without
    it, cells are seeded deterministically from the n_cells lowest-id
    vectors (fixture fallback, weaker recall). Either way the search
    plan is identical: cell assignment is an argmax over n_cells fold
    cosines (pure Catalyst), and at 100 TB the table is WRITTEN
    partitioned by cell so probing reads ~n_probe/n_cells of the data
    via partition pruning. Recall < 1 by construction; brute_force_topk
    is the exact baseline.
    """
    if centroids is not None:
        cents = [(i, [float(x) for x in c]) for i, c in enumerate(centroids)]
        n_cells = len(cents)
    else:
        cents = [
            (int(r[0]), [float(x) for x in r[1]])
            for r in vectors.orderBy(id_col).limit(n_cells).select(id_col, vec_col).collect()
        ]

    v = spread(vectors).select(
        F.col(id_col), as_double(F.col(vec_col)).alias("_v")
    ).withColumn(
        "_cell",
        _cell_expr_m(("col", "_v"), [c for _i, c in cents], F.col("_v")),
    )

    # Query-side: rank all cells by affinity, probe the best n_probe.
    qvec = [float(x) for x in query_df.select(vec_col).first()[0]]
    probe_cells = _rank_cells(qvec, [c for _i, c in cents], n_probe)

    qlit = F.array(*[F.lit(x) for x in qvec])
    return (
        v.filter(F.col("_cell").isin(probe_cells))
        .select(
            F.col(id_col),
            cosine_col(F.col("_v"), qlit).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def _cell_expr(centroids: list[list[float]], vec: Column) -> Column:
    """1-based argmax-cosine cell assignment over centroid literals —
    pure Catalyst (array of fold cosines + array_position), no UDF."""
    cos = F.array(
        *[
            cosine_col(vec, F.array(*[F.lit(c) for c in cvec]))
            for cvec in centroids
        ]
    )
    return F.array_position(cos, F.array_max(cos)).cast("int")


def _quant_key(quantizer) -> tuple:
    """Hashable memo key for a centroid list / codebook list — pure
    float data, so equal keys mean identical literal trees."""
    return tuple(
        tuple(x) if not isinstance(x[0], list) else tuple(map(tuple, x))
        for x in quantizer
    )


def _cell_expr_m(vec_key: tuple, centroids, vec: Column) -> Column:
    """Memoized _cell_expr: ~0.9 s of py4j literal construction per
    call (k × dims F.lit's). `vec_key` must uniquely describe how
    `vec` is built from fixed column names (r15 expression-memo
    pass — see caches.py)."""
    return memo(
        ("ivf_cell", vec_key, _quant_key(centroids)),
        lambda: _cell_expr(centroids, vec),
    )


def _rank_cells(
    qvec: list[float], centroids: list[list[float]], n_probe: int
) -> list[int]:
    """1-based ids of the n_probe centroid cells nearest the query —
    driver-side over the (tiny) centroid list."""
    import math

    def _cos(a: list[float], b: list[float]) -> float:
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return dot / (na * nb) if na and nb else 0.0

    ranked = sorted(
        range(len(centroids)), key=lambda j: (-_cos(qvec, centroids[j]), j)
    )[:n_probe]
    return [j + 1 for j in ranked]


# --- Persisted / incremental IVF index (r9 verdict task 4) -------------------
#
# `ivf_topk` re-derives cell assignments from the raw vector table on
# every query; a daily embedding ingest at 100 TB needs the dedup
# family's `ngram_jaccard_rs` discipline instead (operators/dedup.py:
# ngram_jaccard_rs — persisted index, day-2 queries never re-process
# the corpus): persist the trained centroids once, write the vector
# table PARTITIONED BY CELL, append only new vectors (assigned by the
# frozen centroids — never re-clustering the corpus), and serve
# queries by reading only the probed cells' partitions (real
# partition pruning on the parquet layout, not a post-scan filter).


def build_ivf_index(
    vectors: DataFrame,
    index_path: str,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist an IVF index at `index_path`: `centroids/` (cell,
    centroid) and `vectors/` (id, vec double[], partitioned by cell).
    `centroids` come from an offline coarse-quantizer fit
    (ml.kmeans_centers) and are FROZEN into the index — appends and
    queries both derive assignments from the stored table, so the
    index never silently drifts from its layout."""
    spark = vectors.sparkSession
    cents = [[float(x) for x in c] for c in centroids]
    cent_df = spark.createDataFrame(
        [(i + 1, c) for i, c in enumerate(cents)],
        "cell INT, centroid ARRAY<DOUBLE>",
    )
    cent_df.coalesce(1).write.mode("overwrite").parquet(
        index_path + "/centroids"
    )
    # Each ingest batch owns a directory under vectors/ (partition
    # discovery exposes `batch` and `cell` as columns): appends never
    # touch existing data, and REPLAYING an ingest overwrites its own
    # directory — exactly-once by construction, the property the
    # streaming twin (streaming/scd2.py:run_ivf_append_stream) rides.
    # A build is a full REBUILD: prior batch dirs are cleared (via the
    # Hadoop FS API, so the clear works on HDFS/S3 paths too).
    _fs_delete(spark, index_path + "/vectors")
    _assign_cells(vectors, cents, id_col, vec_col).write.mode(
        "overwrite"
    ).partitionBy("cell").parquet(index_path + "/vectors/batch=base")


def _assign_cells(
    vectors: DataFrame,
    centroids: list[list[float]],
    id_col: str,
    vec_col: str,
) -> DataFrame:
    # repartition on the partition column before the partitioned
    # write: without it every input partition writes a sliver into
    # every cell directory (32×n_cells tiny files per ingest — the
    # small-file problem at any scale); with it each cell's data
    # arrives in one place. At 100 TB raise the partition count
    # (repartition(n, "cell")) so one cell isn't one task.
    return (
        spread(vectors)
        .select(
            F.col(id_col),
            as_double(F.col(vec_col)).alias("vec"),
        )
        .withColumn("cell", _cell_expr_m(("col", "vec"), centroids, F.col("vec")))
        .repartition("cell")
    )


def load_ivf_centroids(spark, index_path: str) -> list[list[float]]:
    """The index's frozen centroid list, cell-ordered (≤ n_cells tiny
    rows — driver-side by nature, like the kmeans_centers they came
    from)."""
    rows = (
        spark.read.parquet(index_path + "/centroids")
        .orderBy("cell")
        .collect()
    )
    return [[float(x) for x in r["centroid"]] for r in rows]


def ivf_index_append(
    new_vectors: DataFrame,
    index_path: str,
    tag: str | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Day-N ingest: assign ONLY the new vectors against the frozen
    centroids and write them as their own `batch=<tag>` directory —
    the corpus is never re-read, re-clustered, or re-written (the ANN
    analog of appending shingle rows to the persisted R-S dedup
    index), and re-running the same tag REPLACES that batch instead
    of duplicating it (idempotent ingest). A default `tag` starts at
    d<number-of-existing-batches> and PROBES FORWARD past any name
    already taken (an explicitly-tagged or stream-written batch can
    occupy the count-based name — overwriting it would silently drop
    that batch's vectors); only an EXPLICIT tag may replace a batch.
    Periodic centroid refits are a REBUILD (new index path, atomic
    swap at the catalog level), not an append."""
    spark = new_vectors.sparkSession
    if tag is None:
        tag = _next_free_batch_tag(spark, index_path + "/vectors")
    cents = load_ivf_centroids(spark, index_path)
    _assign_cells(new_vectors, cents, id_col, vec_col).write.mode(
        "overwrite"
    ).partitionBy("cell").parquet(index_path + f"/vectors/batch={tag}")


def ivf_index_rebuild_swap(
    vectors: DataFrame,
    index_path: str,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """The centroid-REFIT step of the index lifecycle (build → append
    ×N → refit): builds a fresh index — new frozen centroids, corpus
    re-assigned, batch history collapsed to `base` — in the swap's
    staging directory while readers keep the intact current index,
    then swaps it in by the one crash-safe directory swap
    (operators/compaction.py: `_swap_stage`, `_swap_in`), the same
    one the streaming state tables and compact_batches use: two
    checked Hadoop FS renames, so it works on HDFS (atomic directory
    rename) as well as file:// — at catalog scale this is the
    Delta/Iceberg table-swap analog. A failed rename raises IOError
    with the old index back at `index_path`; a crash between the
    renames is healed by the next swap. Appends issued against the
    OLD path during the swap window land in the old directory and die
    with it — refits are a stop-the-ingest operation by design,
    exactly like re-clustering any IVF index."""
    spark = vectors.sparkSession
    build_ivf_index(
        vectors, _swap_stage(spark, index_path), centroids, id_col, vec_col
    )
    _swap_in(spark, index_path)


def ivf_index_topk(
    spark,
    index_path: str,
    query_df: DataFrame,
    k: int,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Query the persisted index: rank the frozen centroids by query
    affinity driver-side, then read ONLY the probed cells' partitions
    (the isin filter on the partition column prunes parquet
    directories — ~n_probe/n_cells of the data does I/O, the reason
    the index is laid out this way). n_probe = n_cells degrades to an
    exact scan — probe-all over the index equals brute_force_topk
    over the same vectors bit-for-bit (same double fold), which is
    the registered query's oracle anchor; recall at n_probe <
    n_cells is the usual IVF trade (pytest-pinned on the fixture).

    SINGLE-query-per-call shape: the query vector is pulled with
    `first()` so the probe list can be a literal isin (static
    partition pruning). Serving a BATCH of queries this way would run
    one job per query — use `ivf_index_topk_batch`, which keeps the
    queries distributed and probes via dynamic partition pruning."""
    cents = load_ivf_centroids(spark, index_path)
    qvec = [float(x) for x in query_df.select(vec_col).first()[0]]
    probe_cells = _rank_cells(qvec, cents, n_probe)
    qlit = F.array(*[F.lit(x) for x in qvec])
    scan = spark.read.parquet(index_path + "/vectors").filter(
        F.col("cell").isin(probe_cells)
    )
    return (
        _minus_tombstones(spark, index_path, scan, id_col)
        .select(
            F.col(id_col),
            cosine_col(F.col("vec"), qlit).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def ivf_index_topk_batch(
    spark,
    index_path: str,
    queries_df: DataFrame,
    k: int,
    n_probe: int = 2,
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Serve MANY queries against the persisted IVF index in ONE plan
    — the retrieval serving shape (r10 verdict task 8;
    `ivf_index_topk` is the single-query special case):

    1. Probe selection is PURE CATALYST: the query frame broadcast-
       crossJoins the stored centroid table (≤ n_cells tiny rows) and
       a per-query row_number keeps the n_probe highest-affinity
       cells (same fold cosine the cells were assigned with; ties →
       lowest cell, matching _rank_cells). No collect of the queries.
    2. The vector scan equi-joins the broadcast (query, cell, qvec)
       probe pairs ON THE PARTITION COLUMN — Spark's dynamic
       partition pruning turns the broadcast side into a runtime
       partition filter on the parquet layout, the multi-query analog
       of the single-query literal isin (plan-asserted in pytest).
    3. Scoring touches only (vector, query) pairs sharing a probed
       cell (each vector lives in exactly one cell, so a pair scores
       at most once); per-query top-k is row_number over
       Window.partitionBy(query) — WindowGroupLimit per-partition
       heaps, never a single-partition sort.

    Output: (query_id, vec_id, cosine), k rows per query ranked by
    (cosine DESC, vec_id ASC). n_probe = n_cells degrades to exact
    per-query brute force over the index — the registered query's
    oracle anchor; recall at n_probe < n_cells is pytest-pinned."""
    cent = spark.read.parquet(index_path + "/centroids")
    q = queries_df.select(
        F.col(query_id_col).alias("__qid"),
        as_double(F.col(vec_col)).alias("__q"),
    )
    wq = Window.partitionBy("__qid").orderBy(F.desc("__aff"), F.asc("cell"))
    probes = (
        q.crossJoin(F.broadcast(cent))
        .withColumn("__aff", cosine_col(F.col("__q"), F.col("centroid")))
        .withColumn("__pr", F.row_number().over(wq))
        .filter(F.col("__pr") <= n_probe)
        .select("__qid", "__q", "cell")
    )
    vecs = _minus_tombstones(
        spark,
        index_path,
        spark.read.parquet(index_path + "/vectors"),
        id_col,
    )
    scored = vecs.join(F.broadcast(probes), "cell").select(
        F.col("__qid").alias(query_id_col),
        F.col(id_col),
        cosine_col(F.col("vec"), F.col("__q")).alias("cosine"),
    )
    wk = Window.partitionBy(query_id_col).orderBy(
        F.desc("cosine"), F.asc(id_col)
    )
    return (
        scored.withColumn("__rk", F.row_number().over(wk))
        .filter(F.col("__rk") <= k)
        .drop("__rk")
    )


# --- Product quantization (PQ) ANN — the compressed-scan path ---------------
#
# Completes the ANN storage ladder next to int8 scalar quantization
# (4-8×) and the IVF partition layout: PQ (Jégou et al., TPAMI 2011)
# stores each d-dim vector as m sub-space codebook indices — 64 dims ×
# float32 → 8 bytes/vector at m=8, a 32× scan-footprint cut — and
# ranks candidates via ASYMMETRIC DISTANCE (ADC): the query is never
# quantized; its dot products against every codebook entry form m
# tiny lookup tables and a vector's score is m table lookups, no
# decompression, no join. At 100 TB this is the difference between
# scanning embeddings and scanning codes. The family split mirrors
# IVF: training is an offline kmeans per subspace (driver-side
# codebooks, like ivf centroids), encode is one pure-Catalyst pass,
# serving is a literal-table scan + TakeOrderedAndProject.


def pq_train_codebooks(
    vectors: DataFrame,
    m: int = 8,
    k: int = 16,
    dims: int = 64,
    seed: int = 7,
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """m per-subspace codebooks of k centroids each: kmeans over each
    (dims/m)-dim subvector slice. Codebooks total m·k·(dims/m) floats
    — driver-side by nature (the trained quantizer artifact), inlined
    into plans as literals exactly like IVF centroids."""
    from concurrent.futures import ThreadPoolExecutor

    from big_data_engineering_project_spark.ml import kmeans_centers

    if dims % m:
        raise ValueError(f"dims={dims} not divisible by m={m}")
    sub = dims // m

    def _train(j: int) -> list[list[float]]:
        sliced = vectors.select(
            F.slice(as_double(F.col(vec_col)), j * sub + 1, sub).alias("sv")
        )
        return kmeans_centers(sliced, k=k, seed=seed + j, emb_col="sv")

    # The m per-subspace fits are independent seeded kmeans runs over
    # disjoint slices; submit them from concurrent driver threads so
    # each fit's ~25 small jobs (kmeans|| init + 20 iterations)
    # interleave on the idle cores instead of serializing. Centroids
    # are identical to the sequential loop — concurrency changes only
    # job scheduling, never a fit's input, partitioning, or seed.
    with ThreadPoolExecutor(max_workers=min(m, 8)) as ex:
        return list(ex.map(_train, range(m)))


def pq_encode(
    vectors: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes array<int>): per subspace, the argmin-L2 codebook
    entry (ties → lowest code, via array_position-of-min). Pure
    Catalyst — per-subspace squared-distance folds over centroid
    literals, one pass, no UDF; this is the write-side job that turns
    the float corpus into the 8-byte/vector code table."""
    return vectors.select(
        F.col(id_col),
        _pq_codes_expr_m(
            ("as_double", vec_col), as_double(F.col(vec_col)), codebooks
        ).alias("codes"),
    )


def _pq_codes_expr(dv, codebooks: list[list[list[float]]]):
    """The encode expression (argmin-L2 code per subspace) over a
    double-array column — shared by the flat encoder and the
    persisted IVF-PQ index build."""
    sub = len(codebooks[0][0])
    code_cols = []
    for j, book in enumerate(codebooks):
        sv = F.slice(dv, j * sub + 1, sub)
        d2 = F.array(
            *[
                F.aggregate(
                    F.zip_with(
                        sv,
                        F.array(*[F.lit(c) for c in cent]),
                        lambda x, y: (x - y) * (x - y),
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                for cent in book
            ]
        )
        code_cols.append(
            (F.array_position(d2, F.array_min(d2)) - 1).cast("int")
        )
    return F.array(*code_cols)


def _pq_codes_expr_m(dv_key: tuple, dv, codebooks) -> Column:
    """Memoized _pq_codes_expr: the m·k distance folds cost a measured
    3.6-5.5 s of pure py4j construction per call — paid by every
    index build/append/encode otherwise. `dv_key` must uniquely
    describe how `dv` is built from fixed column names (r15
    expression-memo pass)."""
    return memo(
        ("pq_codes", dv_key, _quant_key(codebooks)),
        lambda: _pq_codes_expr(dv, codebooks),
    )


def pq_topk(
    codes: DataFrame,
    codebooks: list[list[list[float]]],
    query_df: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    adc_ladder: int | None = None,
) -> DataFrame:
    """Approximate top-k by ADC cosine over the CODE table: the query
    stays exact; driver-side it dots each codebook entry (m·|book|
    tiny sums) into per-subspace lookup tables, and each row's score
    is Σ_j dot_table_j[codes[j]] / (‖q‖·‖recon‖) with ‖recon‖² =
    Σ_j ‖centroid_{j,codes[j]}‖² (subspaces are disjoint coordinate
    blocks, so reconstruction norms add). Per row: 2m literal-array
    lookups — no join, no decompression, TakeOrderedAndProject top-k.
    Exactness anchor (pytest): when every subvector IS a codebook
    entry, reconstruction is exact and ADC cosine equals the true
    cosine; on real corpora recall@k vs brute force is the measured
    trade.

    adc_ladder: None keeps the double ADC tables (driver-computed
    literals, rows-only under the oracle discipline). An integer L
    (2^20 convention) FLOOR-freezes every per-subspace table entry —
    floor(q·cent·L) and floor(‖cent‖²·L) as BIGINTs — so a row's
    dot/norm are exact integer sums of 2m table lookups and the score
    one final double expression both engines reproduce bit-for-bit
    (the BM25-idf/NDCG ladder discipline); output gains the
    adc_dot_lad/adc_nrm_lad integer columns. Ranking vs the double
    form is pytest-pinned on the fixture."""
    qvec = [float(x) for x in query_df.select(vec_col).first()[0]]
    if adc_ladder is not None:
        d, n, s = _adc_ladder_cols(qvec, codebooks, adc_ladder)
        return (
            codes.select(
                F.col(id_col),
                d.alias("adc_dot_lad"),
                n.alias("adc_nrm_lad"),
                s.alias("adc_cosine"),
            )
            .orderBy(F.desc("adc_cosine"), F.asc(id_col))
            .limit(k)
        )
    return (
        codes.select(
            F.col(id_col),
            _adc_cosine_expr(qvec, codebooks).alias("adc_cosine"),
        )
        .orderBy(F.desc("adc_cosine"), F.asc(id_col))
        .limit(k)
    )


def _adc_cosine_expr(qvec: list[float], codebooks: list[list[list[float]]]):
    """The ADC cosine expression over a `codes` column: per-subspace
    query·centroid dot tables and centroid norms inlined as literals
    (2m lookups per row) — shared by the flat scorer and the
    persisted IVF-PQ index serve. Memoized on the (query, codebooks)
    values — the tree references only the fixed `codes` column, so
    bench reps and repeat serves of the same query skip the ~0.5 s
    of literal-table construction (r15 expression-memo pass)."""
    return memo(
        ("adc_cosine", tuple(qvec), _quant_key(codebooks)),
        lambda: _adc_cosine_expr_build(qvec, codebooks),
    )


def _adc_cosine_expr_build(qvec, codebooks):
    import math

    qn = math.sqrt(sum(x * x for x in qvec))
    sub = len(codebooks[0][0])
    dot_expr = F.lit(0.0)
    nrm_expr = F.lit(0.0)
    for j, book in enumerate(codebooks):
        qj = qvec[j * sub : (j + 1) * sub]
        dots = [sum(a * b for a, b in zip(qj, cent)) for cent in book]
        nrm2 = [sum(c * c for c in cent) for cent in book]
        code_j = F.element_at(F.col("codes"), j + 1)
        dot_expr = dot_expr + F.element_at(
            F.array(*[F.lit(d) for d in dots]), code_j + 1
        )
        nrm_expr = nrm_expr + F.element_at(
            F.array(*[F.lit(n) for n in nrm2]), code_j + 1
        )
    return F.when(
        nrm_expr > 0, dot_expr / (F.lit(qn) * F.sqrt(nrm_expr))
    ).otherwise(F.lit(-2.0))


def _adc_ladder_cols(
    qvec: list[float],
    codebooks: list[list[list[float]]],
    ladder: int,
):
    """(dot_lad, nrm_lad, adc_cosine) over a `codes` column with the
    ADC tables FLOOR-frozen onto the 2^L integer ladder: each table
    entry floor(q·cent·L) / floor(‖cent‖²·L) is a driver-computed
    BIGINT literal, so a row's dot/norm are exact order-free integer
    sums (2m lookups) and the only doubles are the final exact
    power-of-two divisions, one sqrt and one division — all correctly
    rounded on identical inputs, hence bit-equal across engines. The
    oracle replays the same floors from the SQL-derivable codebook
    (plans/queries_pipeline.py:_pq_adc_oracle). Memoized on the
    (query, codebooks, ladder) values like _adc_cosine_expr."""
    return memo(
        ("adc_ladder", tuple(qvec), _quant_key(codebooks), int(ladder)),
        lambda: _adc_ladder_cols_build(qvec, codebooks, ladder),
    )


def _adc_ladder_cols_build(qvec, codebooks, ladder):
    import math

    L = float(int(ladder))
    qn = math.sqrt(sum(x * x for x in qvec))
    sub = len(codebooks[0][0])
    dot_expr = F.lit(0).cast("long")
    nrm_expr = F.lit(0).cast("long")
    for j, book in enumerate(codebooks):
        qj = qvec[j * sub : (j + 1) * sub]
        dots = [
            int(math.floor(sum(a * b for a, b in zip(qj, e)) * L))
            for e in book
        ]
        nrm2 = [
            int(math.floor(sum(x * x for x in e) * L)) for e in book
        ]
        code_j = F.element_at(F.col("codes"), j + 1)
        dot_expr = dot_expr + F.element_at(
            F.array(*[F.lit(d).cast("long") for d in dots]), code_j + 1
        )
        nrm_expr = nrm_expr + F.element_at(
            F.array(*[F.lit(n).cast("long") for n in nrm2]), code_j + 1
        )
    score = F.when(
        nrm_expr > 0,
        (dot_expr.cast("double") / F.lit(L))
        / (F.lit(qn) * F.sqrt(nrm_expr.cast("double") / F.lit(L))),
    ).otherwise(F.lit(-2.0))
    return dot_expr, nrm_expr, score


# --- Persisted IVF-PQ index: partition pruning × compressed scan -------------
#
# The production ANN shape (FAISS IVFPQ, by_residual=False): the IVF
# layout prunes WHICH partitions are read (n_probe/n_cells of the
# corpus does I/O) and PQ compresses WHAT those partitions store
# (codes, ~8 bytes/vector at m=8 — a 32× cut vs float32 at dims=64).
# At 100 TB the two multiply: a 16-cell/2-probe index scanning codes
# reads ~0.4% of the bytes the flat float scan reads. Codes are raw-
# vector PQ (not residual PQ): the ADC table is then query-global, so
# serving is ONE literal-table expression over the pruned scan —
# residual PQ would buy accuracy at the cost of per-cell tables and
# is the documented next step. Same directory discipline as the IVF
# index: frozen artifacts (centroids + codebooks), batch=<tag> dirs
# (idempotent replays), Hadoop-FS seam throughout. Exactness anchor:
# probe-all IVF-PQ serve ≡ flat pq_topk over the same codebooks
# bit-for-bit (pytest-pinned) — the IVF layer adds pruning, never a
# different score.


def build_ivfpq_index(
    vectors: DataFrame,
    index_path: str,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist an IVF-PQ index: `centroids/` (coarse cells),
    `codebooks/` (m·k PQ entries as (subspace, code, centroid) rows),
    and `codes/` (id, codes array<int>, partitioned by cell in
    batch=<tag> dirs). Both quantizers are FROZEN into the index —
    appends and serves derive everything from the stored tables."""
    spark = vectors.sparkSession
    cents = [[float(x) for x in c] for c in centroids]
    spark.createDataFrame(
        [(i + 1, c) for i, c in enumerate(cents)],
        "cell INT, centroid ARRAY<DOUBLE>",
    ).coalesce(1).write.mode("overwrite").parquet(index_path + "/centroids")
    book_rows = [
        (j, code, [float(x) for x in cent])
        for j, book in enumerate(codebooks)
        for code, cent in enumerate(book)
    ]
    spark.createDataFrame(
        book_rows, "subspace INT, code INT, centroid ARRAY<DOUBLE>"
    ).coalesce(1).write.mode("overwrite").parquet(index_path + "/codebooks")
    _fs_delete(spark, index_path + "/codes")
    _encode_cells(vectors, cents, codebooks, id_col, vec_col).write.mode(
        "overwrite"
    ).partitionBy("cell").parquet(index_path + "/codes/batch=base")


def _encode_cells(
    vectors: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(id, codes, cell) in one pass: coarse cell assignment + PQ
    encode share the same double projection; repartition("cell")
    before the partitioned write (the _assign_cells small-file
    discipline)."""
    dv = as_double(F.col(vec_col))
    return (
        spread(vectors)
        .select(
            F.col(id_col),
            _pq_codes_expr_m(("as_double", vec_col), dv, codebooks).alias(
                "codes"
            ),
            _cell_expr_m(("as_double", vec_col), centroids, dv).alias("cell"),
        )
        .repartition("cell")
    )


def load_pq_codebooks(spark, index_path: str) -> list[list[list[float]]]:
    """The index's frozen PQ codebooks, (subspace, code)-ordered —
    m·k tiny rows, driver-side by nature like the centroids."""
    rows = (
        spark.read.parquet(index_path + "/codebooks")
        .orderBy("subspace", "code")
        .collect()
    )
    books: dict[int, list[list[float]]] = {}
    for r in rows:
        books.setdefault(r["subspace"], []).append(
            [float(x) for x in r["centroid"]]
        )
    return [books[j] for j in sorted(books)]


def ivfpq_index_append(
    new_vectors: DataFrame,
    index_path: str,
    tag: str | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Day-N ingest: encode ONLY the new vectors against the frozen
    coarse centroids AND frozen codebooks, written as their own
    `batch=<tag>` directory — the corpus is never re-read or
    re-encoded. Default tags probe forward past taken names; only an
    EXPLICIT tag may replace a batch (the ivf_index_append collision
    rule). Quantizer refits are a rebuild, not an append."""
    spark = new_vectors.sparkSession
    if tag is None:
        tag = _next_free_batch_tag(spark, index_path + "/codes")
    cents = load_ivf_centroids(spark, index_path)
    books = load_pq_codebooks(spark, index_path)
    _encode_cells(new_vectors, cents, books, id_col, vec_col).write.mode(
        "overwrite"
    ).partitionBy("cell").parquet(index_path + f"/codes/batch={tag}")


def ivfpq_index_topk(
    spark,
    index_path: str,
    query_df: DataFrame,
    k: int,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    adc_ladder: int | None = None,
) -> DataFrame:
    """Serve the persisted IVF-PQ index: rank the frozen coarse
    centroids by query affinity driver-side, read ONLY the probed
    cells' CODE partitions (the isin filter prunes parquet
    directories; each pruned byte is already 32× smaller than the
    float it encodes), and ADC-score with the query-global literal
    tables — no join, no decompression, TakeOrderedAndProject top-k.
    probe-all ≡ flat pq_topk over the same codebooks bit-for-bit
    (pytest anchor); n_probe < n_cells adds the IVF recall trade ON
    TOP of the PQ quantization trade — both measured in the pytest,
    the honest accounting for a doubly-approximate index."""
    cents = load_ivf_centroids(spark, index_path)
    books = load_pq_codebooks(spark, index_path)
    qvec = [float(x) for x in query_df.select(vec_col).first()[0]]
    probe_cells = _rank_cells(qvec, cents, n_probe)
    pruned = _minus_tombstones(
        spark,
        index_path,
        spark.read.parquet(index_path + "/codes").filter(
            F.col("cell").isin(probe_cells)
        ),
        id_col,
    )
    if adc_ladder is not None:
        d, n, s = _adc_ladder_cols(qvec, books, adc_ladder)
        return (
            pruned.select(
                F.col(id_col),
                d.alias("adc_dot_lad"),
                n.alias("adc_nrm_lad"),
                s.alias("adc_cosine"),
            )
            .orderBy(F.desc("adc_cosine"), F.asc(id_col))
            .limit(k)
        )
    return (
        pruned.select(
            F.col(id_col),
            _adc_cosine_expr(qvec, books).alias("adc_cosine"),
        )
        .orderBy(F.desc("adc_cosine"), F.asc(id_col))
        .limit(k)
    )


def _lloyd_final_assignment(
    vectors: DataFrame,
    init_centers: list[list[float]],
    n_iter: int,
    id_col: str,
    vec_col: str,
    ladder: int,
) -> DataFrame:
    """Shared Lloyd's iteration core (see lloyd_kmeans_ladder for the
    full cross-engine contract): run n_iter laddered
    assignment/update cycles and return the FINAL assignment frame
    (id, _v, cluster, _d2)."""
    L = float(int(ladder))
    centers = [[float(x) for x in c] for c in init_centers]
    k = len(centers)
    v = vectors.select(
        F.col(id_col), as_double(F.col(vec_col)).alias("_v")
    )

    def d2_col(center: list[float]) -> Column:
        lit = F.array(*[F.lit(x) for x in center])
        return F.aggregate(
            F.zip_with(
                F.col("_v"), lit, lambda x, y: (x - y) * (x - y)
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    def assign(cs: list[list[float]]) -> DataFrame:
        dists = F.array(*[d2_col(c) for c in cs])
        return v.withColumn(
            "cluster",
            F.array_position(dists, F.array_min(dists)).cast("int"),
        ).withColumn("_d2", F.array_min(dists))

    for _ in range(int(n_iter)):
        asn = assign(centers)
        rows = (
            asn.select(
                "cluster", F.posexplode(F.col("_v")).alias("dim", "val")
            )
            .groupBy("cluster", "dim")
            .agg(
                F.sum(
                    F.floor(F.col("val") * F.lit(L)).cast("long")
                ).alias("s"),
                F.count(F.lit(1)).cast("long").alias("cnt"),
            )
            .collect()
        )
        upd: dict[tuple[int, int], float] = {}
        for r in rows:
            upd[(int(r["cluster"]), int(r["dim"]))] = (
                float(r["s"]) / L / float(r["cnt"])
            )
        centers = [
            [
                upd.get((j + 1, i), centers[j][i])
                for i in range(len(centers[j]))
            ]
            for j in range(k)
        ]
    return assign(centers)


def semantic_neardup_pairs_lloyd(
    vectors: DataFrame,
    init_centers: list[list[float]],
    tau: float,
    n_iter: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    ladder: int = 1 << 20,
) -> DataFrame:
    """SemDeDup with a fully REPLAYABLE clustering stage: run the
    laddered Lloyd's iteration (deterministic, exact-oracle-able —
    _lloyd_final_assignment), then emit within-cluster pairs whose
    exact fold-cosine ≥ tau. The cluster structure bounds the pair
    space exactly as SemDeDup prescribes (quadratic only inside a
    cluster; at 100 TB k scales with the corpus so cluster sizes stay
    bounded), and unlike the MLlib-backed q_semantic_dedup_pairs
    (rows-only: kmeans|| RNG init) every stage here sits under the
    cross-engine hash gate. Output (cluster, id_a, id_b, cosine)."""
    asn = _lloyd_final_assignment(
        vectors, init_centers, n_iter, id_col, vec_col, ladder
    ).select(F.col(id_col), F.col("_v"), F.col("cluster"))
    a = asn.select(
        F.col("cluster"),
        F.col(id_col).alias("id_a"),
        F.col("_v").alias("_va"),
    )
    b = asn.select(
        F.col("cluster"),
        F.col(id_col).alias("id_b"),
        F.col("_v").alias("_vb"),
    )
    return (
        a.join(b, "cluster")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "cluster",
            "id_a",
            "id_b",
            cosine_col(F.col("_va"), F.col("_vb")).alias("cosine"),
        )
        .filter(F.col("cosine") >= F.lit(float(tau)))
        .orderBy("id_a", "id_b")
    )


def lloyd_kmeans_ladder(
    vectors: DataFrame,
    init_centers: list[list[float]],
    n_iter: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    ladder: int = 1 << 20,
) -> DataFrame:
    """Deterministic LADDERED Lloyd's k-means — iterative clustering
    under the exact cross-engine gate (the PCA power-iteration
    discipline applied to Lloyd's): a FIXED number of
    assignment/update cycles from EXPLICIT initial centers, every
    cross-engine-fragile reduction frozen onto the 2^20 integer
    ladder. Per cycle: (1) assignment = argmin left-assoc-fold
    squared-L2 against the current center literals (ties → lowest
    cluster, array_position-first); (2) update = per-(cluster, dim)
    BIGINT sums of floor(component·2^20) — order-free — with the mean
    one fixed-shape double expression (CAST(sum)/2^20/count) both
    engines round identically; empty clusters keep their previous
    center. Center tables are k·dims rows — driver-side by nature
    (the same boundedness as kmeans_centers), and each iteration is
    ONE distributed pass (no per-row Python). A final assignment with
    the converged centers yields (cluster, n_vecs, sse_lad) — sse_lad
    the laddered within-cluster squared error, the monotone quantity
    the pytest pins.

    This is the REPLAYABLE twin of ml.kmeans_centers (MLlib: kmeans||
    RNG init + engine-internal convergence — honestly rows-only);
    production quantizer training keeps MLlib, and this operator puts
    the Lloyd ITERATION itself under the hash gate."""
    final = _lloyd_final_assignment(
        vectors, init_centers, n_iter, id_col, vec_col, ladder
    )
    L = float(int(ladder))
    return (
        final.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.sum(
                F.floor(F.col("_d2") * F.lit(L)).cast("long")
            ).alias("sse_lad"),
        )
        .orderBy("cluster")
    )


def merge_vector_indexes(
    spark,
    dest_path: str,
    src_path: str,
    table: str = "vectors",
    check_quantizers: bool = True,
) -> dict:
    """Merge one persisted ANN index into another — the FAISS
    `merge_from` / `merge_ondisk` analog, the step after SHARDED
    PARALLEL BUILDS (at 100 TB you build per-shard indexes
    concurrently against the same frozen quantizers, then merge the
    artifacts; re-encoding nothing). Because both indexes store codes
    assigned by their frozen quantizer tables, a merge is pure
    DIRECTORY algebra: every `batch=<tag>` child of src's table is
    copied under a fresh collision-safe tag in dest (the
    `_next_free_batch_tag` probe; src is never mutated), so serving
    dest afterwards ≡ serving one index built over the union corpus
    bit-for-bit (pytest + the exact-gated registered query).

    SAFETY: refuses unless the two indexes' frozen quantizer tables
    (centroids, and codebooks when present) are row-identical —
    merging codes encoded against different quantizers silently
    corrupts every ADC score. Same single-writer contract as appends:
    do not merge while a stream maintainer or compaction runs on
    dest. Returns {"copied": [tags...], "n_rows_added": int}."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    if check_quantizers:
        d_has, s_has = (
            bool(_fs_list(spark, f"{p}/codebooks")) for p in (dest_path, src_path)
        )
        if d_has != s_has:
            raise ValueError(
                "merge_vector_indexes: codebooks present on one index "
                "only — different index kinds cannot merge"
            )
        subs = ["centroids", "codebooks"] if d_has else ["centroids"]
        for sub in subs:
            a = sorted(
                tuple(r) for r in spark.read.parquet(f"{dest_path}/{sub}").collect()
            )
            b = sorted(
                tuple(r) for r in spark.read.parquet(f"{src_path}/{sub}").collect()
            )
            if a != b:
                raise ValueError(
                    f"merge_vector_indexes: frozen {sub} tables differ — "
                    "refusing to merge codes encoded against different "
                    "quantizers (every ADC score would be silently wrong). "
                    "Rebuild one shard against the other's quantizers."
                )
    # Live delete tombstones on src do NOT copy with its batches —
    # merging would silently resurrect every deleted row in dest.
    # Vacuum src first. Dest tombstones are fine: they stay live and
    # keep applying to the merged rows (ids are index-global).
    if _fs_list_batches(spark, src_path + "/tombstones"):
        raise ValueError(
            "merge_vector_indexes: src index has live delete "
            "tombstones — vacuum src (vector_index_vacuum) before "
            "merging, or its deleted rows would be resurrected in dest"
        )
    src_tbl = f"{src_path}/{table}"
    dest_tbl = f"{dest_path}/{table}"
    fs_src, _ = _hadoop_fs(spark, src_tbl)
    copied: list[str] = []
    n_added = 0
    for tag in _fs_list_batches(spark, src_tbl):
        new_tag = _next_free_batch_tag(spark, dest_tbl)
        # Stage the copy in a dot-prefixed temp dir (invisible to
        # _fs_list_batches AND to partition discovery) and only
        # RENAME it into batch=<new_tag> on success — the
        # compact_batches two-step discipline: a crash mid-copy
        # leaves only an inert .merge-tmp-* dir, never a partial
        # batch directory that would serve with silently missing
        # rows (r13 ADVICE #1).
        tmp = f"{dest_tbl}/.merge-tmp-{new_tag}"
        final = f"{dest_tbl}/batch={new_tag}"
        _fs_delete(spark, tmp)
        fs_dst, jtmp = _hadoop_fs(spark, tmp)
        src = jvm.org.apache.hadoop.fs.Path(f"{src_tbl}/batch={tag}")
        if not jvm.org.apache.hadoop.fs.FileUtil.copy(
            fs_src, src, fs_dst, jtmp, False, conf
        ):
            _fs_delete(spark, tmp)
            raise IOError(
                f"merge_vector_indexes: staged copy of batch={tag} "
                f"into {tmp} failed — dest batches are untouched (temp "
                "dir removed); re-merge (src is untouched)"
            )
        if not fs_dst.rename(jtmp, _hadoop_fs(spark, final)[1]):
            raise IOError(
                f"merge_vector_indexes: rename of staged {tmp} into "
                f"batch={new_tag} failed — the staged copy remains "
                "(invisible to serving); delete it and re-merge (src "
                "is untouched)"
            )
        copied.append(new_tag)
        n_added += spark.read.parquet(final).count()
    return {"copied": copied, "n_rows_added": n_added}


def ivf_index_cell_stats(spark, index_path: str, table: str = "vectors") -> DataFrame:
    """Operational health report of a persisted IVF / IVF-PQ index:
    one row per centroid cell — occupancy, integer share_ppm, and the
    FAISS `imbalance_factor` (k·Σc²/n², 1.0 = perfectly balanced;
    listing cost and probe latency scale with the largest cells, so
    this is the number that says 'refit the quantizer' before serving
    degrades). EMPTY cells are reported as zero rows (left join from
    the frozen centroid table — an empty cell is exactly the health
    signal a count over the code table alone would hide). All
    aggregates are integer (count, Σc²); the factor is one double
    expression (k·Σc² / n / n, left-assoc). Works on `vectors/` (IVF)
    and `codes/` (IVF-PQ) tables alike; the scan reads only the
    partition column and ids — never vectors or codes."""
    cents = spark.read.parquet(index_path + "/centroids").select("cell")
    per = (
        spark.read.parquet(f"{index_path}/{table}")
        .groupBy("cell")
        .agg(F.count(F.lit(1)).cast("long").alias("n_vecs"))
    )
    allc = cents.join(per, "cell", "left").select(
        "cell",
        F.coalesce(F.col("n_vecs"), F.lit(0)).cast("long").alias("n_vecs"),
    )
    tot = allc.agg(
        F.sum("n_vecs").cast("long").alias("__total"),
        F.sum(F.col("n_vecs") * F.col("n_vecs")).cast("long").alias("__ss"),
        F.count(F.lit(1)).cast("long").alias("__k"),
    )
    # Empty index (total_vecs = 0) is a state a health report must
    # DESCRIBE, not crash on (ANSI mode) or NULL-out silently
    # (default mode): share_ppm reads 0, imbalance stays NULL — "no
    # data" is not "balanced" (r13 ADVICE #4).
    return (
        allc.crossJoin(F.broadcast(tot))
        .select(
            "cell",
            "n_vecs",
            F.expr(
                "CASE WHEN __total = 0 THEN 0L "
                "ELSE n_vecs * 1000000 DIV __total END"
            ).alias("share_ppm"),
            F.col("__total").alias("total_vecs"),
            F.when(
                F.col("__total") > 0,
                (F.col("__k") * F.col("__ss")).cast("double")
                / F.col("__total")
                / F.col("__total"),
            ).alias("imbalance"),
        )
        .orderBy("cell")
    )


def ivf_index_refit_if_unbalanced(
    spark,
    index_path: str,
    threshold: float = 2.0,
    k: int | None = None,
    seed: int = 7,
) -> dict:
    """The tested path from ALARM to ACTION the health report lacked
    (r13 verdict gap #5): ivf_index_cell_stats computes the FAISS
    imbalance factor — 'the number that says refit the quantizer' —
    and ivf_index_rebuild_swap can refit, but nothing connected
    threshold → refit → serve-equality. This does: if the index's
    imbalance exceeds `threshold` (FAISS's own guidance flags > ~1.5–2
    as listing-cost trouble), refit the coarse quantizer by k-means
    over the INDEXED vectors themselves (a float-IVF index stores the
    full vectors, so the refit needs no external corpus; IVF-PQ
    refits must re-encode from raw vectors — use
    ivf_index_rebuild_swap directly with them) and atomically swap
    the rebuilt index in. Probe-all serving is bit-equal before and
    after (same corpus, new partitioning — pytest-pinned); n_probe <
    n_cells serves change cell membership by design, which is the
    point of the refit. Stop-the-ingest semantics inherited from
    ivf_index_rebuild_swap. Returns {"refit": bool, "imbalance":
    before, "imbalance_after": after-or-None, "n_cells": k}."""
    stats = ivf_index_cell_stats(spark, index_path).limit(1).collect()
    imb = float(stats[0]["imbalance"]) if stats and stats[0]["imbalance"] is not None else None
    n_cells = spark.read.parquet(index_path + "/centroids").count()
    out = {
        "refit": False,
        "imbalance": imb,
        "imbalance_after": None,
        "n_cells": int(k or n_cells),
    }
    if imb is None or imb <= float(threshold):
        return out
    from big_data_engineering_project_spark.ml import kmeans_centers

    # Apply live tombstones BEFORE the rebuild: the swap replaces the
    # whole index root (tombstones/ included), so rebuilding unfiltered
    # vectors would silently resurrect every deleted row — the refit
    # doubles as a vacuum.
    vecs = _minus_tombstones(
        spark,
        index_path,
        spark.read.parquet(index_path + "/vectors"),
        "vec_id",
    ).select("vec_id", F.col("vec").alias("embedding"))
    # localCheckpoint: the rebuild deletes the directories this plan
    # reads — materialize the corpus before the swap touches them.
    vecs = vecs.localCheckpoint(eager=True)
    cents = kmeans_centers(vecs, k=int(k or n_cells), seed=seed)
    ivf_index_rebuild_swap(vecs, index_path, cents)
    after = ivf_index_cell_stats(spark, index_path).limit(1).collect()
    out.update(
        refit=True,
        imbalance_after=(
            float(after[0]["imbalance"])
            if after and after[0]["imbalance"] is not None
            else None
        ),
    )
    return out


# --- Delete tombstones (takedown / right-to-be-forgotten at index scale) ------
#
# The lifecycle piece the build → append → merge → compact matrix
# still lacked: REMOVING rows. At 100 TB a takedown cannot rewrite
# the corpus synchronously, so deletes follow the classic LSM/Delta
# discipline — a delete WRITES a tombstone batch (O(deleted ids), the
# corpus is untouched), every serve anti-joins the broadcast tombstone
# id set (delete-sized, not corpus-sized), and the periodic VACUUM
# applies tombstones physically during a compaction rewrite and only
# then clears them. Crash anywhere = at worst tombstones outlive
# their rows, and an anti-join against absent ids is a no-op — every
# state serves correctly, every step idempotent.


def load_index_tombstones(spark, index_path: str, id_col: str = "vec_id"):
    """The index's live deleted-id set (distinct union of all
    tombstone batches), or None when no tombstones exist. Delete-
    sized by construction — serves broadcast it."""
    tomb_dir = index_path + "/tombstones"
    if not _fs_list_batches(spark, tomb_dir):
        return None
    return spark.read.parquet(tomb_dir).select(id_col).distinct()


def vector_index_delete(
    spark,
    index_path: str,
    ids,
    tag: str | None = None,
    id_col: str = "vec_id",
) -> dict:
    """Delete vectors from a persisted index by id: writes ONE
    tombstone batch directory (`tombstones/batch=<tag>`) holding the
    distinct ids — never reads or rewrites the corpus. `ids` is a
    DataFrame with `id_col` or a plain iterable. Takes effect on the
    NEXT serve (every serve anti-joins live tombstones); physical
    removal is vector_index_vacuum. Default tags probe forward like
    appends; an explicit tag REPLACES its batch (idempotent replay).
    Deleting ids that were never indexed is legal and harmless (the
    anti-join just never matches). Single-writer contract as for all
    directory mutations. Returns {"tag": tag, "n_ids": n}."""
    tomb_dir = index_path + "/tombstones"
    if tag is None:
        tag = _next_free_batch_tag(spark, tomb_dir)
    df = (
        ids
        if isinstance(ids, DataFrame)
        else spark.createDataFrame(
            [(int(i),) for i in ids], f"{id_col} LONG"
        )
    )
    df = df.select(id_col).distinct()
    n = df.count()
    df.coalesce(1).write.mode("overwrite").parquet(
        f"{tomb_dir}/batch={tag}"
    )
    return {"tag": tag, "n_ids": int(n)}


def _minus_tombstones(
    spark, index_path: str, scan: DataFrame, id_col: str = "vec_id"
) -> DataFrame:
    """Serve-side tombstone filter: anti-join the broadcast deleted-id
    set; a tombstone-free index returns the scan unchanged (zero plan
    cost on the common path)."""
    tomb = load_index_tombstones(spark, index_path, id_col)
    if tomb is None:
        return scan
    return scan.join(F.broadcast(tomb), id_col, "left_anti")


def vector_index_vacuum(
    spark,
    index_path: str,
    table: str = "vectors",
    id_col: str = "vec_id",
) -> dict:
    """Apply tombstones PHYSICALLY: one compaction rewrite of the
    index's batch directories with the tombstoned rows filtered out
    (compact_batches' transform seam — same build-aside + two-rename
    atomic swap, inner cell layout preserved), then clear the
    tombstone directories. Crash-ordering is safe by construction:
    tombstones are deleted only AFTER the swapped-in root verifiably
    exists, and a crash before that leaves tombstones whose rows are
    already gone — an anti-join no-op, cleared by the next vacuum.
    No-op when the index has no tombstones (use compact_vector_index
    for a pure compaction). Returns the compact stats plus
    {"n_tombstones": n}."""
    tomb = load_index_tombstones(spark, index_path, id_col)
    if tomb is None:
        return {"vacuumed": False, "n_tombstones": 0}
    tomb = tomb.localCheckpoint(eager=True)  # survives the tombstone delete below
    n = tomb.count()
    stats = compact_batches(
        spark,
        f"{index_path}/{table}",
        partition_by=("cell",),
        transform=lambda df: df.join(F.broadcast(tomb), id_col, "left_anti"),
    )
    _fs_delete(spark, index_path + "/tombstones")
    # Materialized prefix tables are DERIVED data still holding the
    # deleted rows. With tombstones cleared, a stale prefix batch
    # cannot produce wrong results (stage 2's inner join against the
    # vacuumed vectors drops dead ids) but it wastes shortlist slots
    # forever — drop them; the next matryoshka serve re-materializes
    # from the vacuumed vectors.
    for name, is_dir in _fs_list(spark, index_path).items():
        if is_dir and name.startswith("prefix"):
            _fs_delete(spark, f"{index_path}/{name}")
    return {"vacuumed": True, "n_tombstones": int(n), **stats}


def matryoshka_topk(
    vectors: DataFrame,
    query_df: DataFrame,
    k: int,
    prefix_dims: int,
    shortlist_mult: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Coarse-to-fine ANN over matryoshka (MRL) embeddings — the
    dimension-wise sibling of ivfpq_index_refined_topk's refine
    pattern: MRL-trained embeddings pack most of the signal into the
    leading components, so stage 1 ranks by cosine over only the
    FIRST `prefix_dims` components and keeps a k′ = shortlist_mult·k
    shortlist, and stage 2 rescales ONLY those ids with the full-dim
    exact cosine (broadcast id list against the plain vector scan —
    the refine join shape). This is the IN-MEMORY form (prefix sliced
    row-local from the full array); the persisted-index form with the
    MATERIALIZED prefix table — the narrow scan that makes stage 1
    read prefix_dims/dims of the corpus bytes at 100 TB — is
    matryoshka_index_topk below (r13 verdict gap #2, closed r14).
    The fixture embeddings are not MRL-trained, so the recall pytest
    pins the planted-neighbor regime. Both stages deterministic
    (left-assoc folds, total-order ties) → exact-oracle-able.
    Output (id, prefix_cosine, cosine)."""
    kprime = int(shortlist_mult) * int(k)
    qvec = [float(x) for x in query_df.select(vec_col).first()[0]]
    qpre = F.array(*[F.lit(x) for x in qvec[:prefix_dims]])
    qfull = F.array(*[F.lit(x) for x in qvec])
    v = vectors.select(
        F.col(id_col), as_double(F.col(vec_col)).alias("_v")
    )
    short = (
        v.select(
            F.col(id_col),
            cosine_col(
                F.slice(F.col("_v"), 1, prefix_dims), qpre
            ).alias("prefix_cosine"),
        )
        .orderBy(F.desc("prefix_cosine"), F.asc(id_col))
        .limit(kprime)
    )
    return (
        v.join(F.broadcast(short), id_col)
        .select(
            F.col(id_col),
            F.col("prefix_cosine"),
            cosine_col(F.col("_v"), qfull).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def matryoshka_prefix_materialize(
    spark,
    index_path: str,
    prefix_dims: int,
    id_col: str = "vec_id",
) -> list[str]:
    """Materialize the PREFIX TABLE the matryoshka serve's narrow scan
    reads — the piece the r13 matryoshka_topk docstring promised but
    the layout lacked (r13 verdict gap #2): for every `vectors/batch=
    <tag>` directory without a matching `prefix<d>/batch=<tag>`, write
    (id, first `prefix_dims` components) as its own batch dir. The
    materialization is INCREMENTAL per batch — day-N appends prefix
    only the new batch, the corpus is never re-read (the same
    directory-per-batch discipline as the vectors themselves, so a
    streamed or appended index keeps its prefix table current by
    re-calling this) — and idempotent: an existing prefix batch is
    never rewritten, a replayed half-written one is (mode=overwrite
    scoped to the batch dir). Returns the tags materialized this call.
    Storage is prefix_dims/dims of the vector bytes; the stage-1 scan
    over it reads ONLY those bytes — a real I/O cut, not a row-local
    slice of the full array. Single-writer per index applies, as for
    every directory-layout mutation here."""
    vec_dir = index_path + "/vectors"
    pre_dir = index_path + f"/prefix{int(prefix_dims)}"
    have = set(_fs_list_batches(spark, pre_dir))
    done: list[str] = []
    for tag in _fs_list_batches(spark, vec_dir):
        if tag in have:
            continue
        (
            spark.read.parquet(f"{vec_dir}/batch={tag}")
            .select(
                F.col(id_col),
                F.slice(F.col("vec"), 1, int(prefix_dims)).alias("prefix"),
            )
            .write.mode("overwrite")
            .parquet(f"{pre_dir}/batch={tag}")
        )
        done.append(tag)
    return done


def matryoshka_index_topk(
    spark,
    index_path: str,
    query_df: DataFrame,
    k: int,
    prefix_dims: int,
    shortlist_mult: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """matryoshka_topk served from the PERSISTED index with a
    materialized prefix table: stage 1 ranks by prefix cosine over the
    NARROW `prefix<d>/` scan (prefix_dims/dims of the corpus bytes on
    disk — at 100 TB the difference between reading 25 TB and reading
    100 TB twice), stage 2 broadcasts the k′-id shortlist against the
    full `vectors/` scan for the exact full-dim rescore (the refine
    join shape — k′ row-group reads, never a second full pass).
    Missing prefix batches are materialized first (incremental,
    per-batch), so a just-appended index serves correctly instead of
    silently missing the new rows. Identical results to the row-local
    matryoshka_topk over the same corpus — pytest pins it bit-for-bit
    and the registered query carries the exact cross-engine oracle.
    Output (id, prefix_cosine, cosine)."""
    matryoshka_prefix_materialize(spark, index_path, prefix_dims, id_col)
    kprime = int(shortlist_mult) * int(k)
    qvec = [float(x) for x in query_df.select(vec_col).first()[0]]
    qpre = F.array(*[F.lit(x) for x in qvec[: int(prefix_dims)]])
    qfull = F.array(*[F.lit(x) for x in qvec])
    short = (
        _minus_tombstones(
            spark,
            index_path,
            spark.read.parquet(index_path + f"/prefix{int(prefix_dims)}"),
            id_col,
        )
        .select(
            F.col(id_col),
            cosine_col(F.col("prefix"), qpre).alias("prefix_cosine"),
        )
        .orderBy(F.desc("prefix_cosine"), F.asc(id_col))
        .limit(kprime)
    )
    full = spark.read.parquet(index_path + "/vectors").select(
        F.col(id_col), F.col("vec").alias("_v")
    )
    return (
        full.join(F.broadcast(short), id_col)
        .select(
            F.col(id_col),
            F.col("prefix_cosine"),
            cosine_col(F.col("_v"), qfull).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def binary_quantize_cols(
    vec: Column, dims: int
) -> tuple[Column, Column]:
    """1-bit (sign) quantization packed into TWO BIGINT halves (the
    pHash two-halves precedent — a single 64-bit pack would overflow
    signed int64 on the top bit, which Spark wraps and DuckDB errors
    on): bit i of half h is I(v_i > 0), MSB-first left fold
    acc·2 + bit. 64 float64 dims → 16 bytes, a 32× cut; replayable
    bit-identically in any engine (pure integer fold)."""
    half = dims // 2

    def pack(lo: int, hi: int) -> Column:
        return F.aggregate(
            F.sequence(F.lit(lo), F.lit(hi)),
            F.lit(0).cast("long"),
            lambda acc, i: acc * 2
            + F.when(F.element_at(vec, i) > 0.0, 1).otherwise(0),
        )

    return pack(1, half), pack(half + 1, dims)


def binary_hamming_topk(
    vectors: DataFrame,
    query_df: DataFrame,
    k: int,
    dims: int,
    shortlist_mult: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Binary-quantized ANN — the 1-bit member of the compression
    matrix (brute → int8 → BINARY → LSH → IVF → PQ): stage 1 ranks by
    HAMMING distance between sign-bit signatures (two xor +
    bit_count per candidate — integer ops in whole-stage codegen, no
    float math in the scan; at 100 TB the signature column is 16
    bytes/row vs 512, so the scan reads 3 % of the corpus bytes, the
    FAISS IndexBinaryFlat trade), keeps a k′ = shortlist_mult·k
    shortlist (Hamming is coarse — 65 distinct values — so the
    over-fetch is bigger than the float serves'), and stage 2
    rescrores ONLY those ids with the exact full cosine (broadcast id
    list, the refine join shape). Deterministic end to end (sign
    quantization, integer Hamming, total-order ties) → exact-oracle
    from birth. Output (id, hamming, cosine)."""
    kprime = int(shortlist_mult) * int(k)
    qvec = [float(x) for x in query_df.select(vec_col).first()[0]]
    half = dims // 2

    def pack_py(vals):
        acc = 0
        for v in vals:
            acc = acc * 2 + (1 if v > 0.0 else 0)
        return acc
    q1, q2 = pack_py(qvec[:half]), pack_py(qvec[half:])
    v = vectors.select(F.col(id_col), as_double(F.col(vec_col)).alias("_v"))
    b1, b2 = binary_quantize_cols(F.col("_v"), dims)
    sigs = v.select(
        F.col(id_col),
        F.col("_v"),
        b1.alias("__b1"),
        b2.alias("__b2"),
    )
    ham = (
        F.bit_count(F.expr(f"__b1 ^ {q1}L"))
        + F.bit_count(F.expr(f"__b2 ^ {q2}L"))
    ).alias("hamming")
    short = (
        sigs.select(F.col(id_col), ham)
        .orderBy(F.asc("hamming"), F.asc(id_col))
        .limit(kprime)
    )
    qfull = F.array(*[F.lit(x) for x in qvec])
    return (
        v.join(F.broadcast(short), id_col)
        .select(
            F.col(id_col),
            F.col("hamming"),
            cosine_col(F.col("_v"), qfull).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def matryoshka_index_topk_batch(
    spark,
    index_path: str,
    queries_df: DataFrame,
    k: int,
    prefix_dims: int,
    shortlist_mult: int = 4,
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Serve MANY queries through the materialized prefix table in
    ONE plan — the batched composition of matryoshka_index_topk, the
    same completion step the IVF-PQ family got with its batch-refined
    serve: production retrieval is thousands of queries per plan, not
    one. Stage 1 broadcast-crossJoins the query batch against the
    NARROW prefix scan (still prefix_dims/dims of the corpus bytes —
    read ONCE for the whole batch, not per query) and keeps a
    per-query k′ = shortlist_mult·k shortlist via WindowGroupLimit;
    stage 2 broadcasts the Q·k′ (query, id) shortlist against the
    full vectors/ scan for the exact full-dim rescore (one pass for
    the whole batch — never per-query corpus reads). Missing prefix
    batches materialize first; tombstones anti-join at stage 1.
    Per-query results ≡ matryoshka_index_topk bit-for-bit
    (pytest-pinned). Output (query_id, vec_id, prefix_cosine,
    cosine), k rows per query."""
    matryoshka_prefix_materialize(spark, index_path, prefix_dims, id_col)
    kprime = int(shortlist_mult) * int(k)
    q = queries_df.select(
        F.col(query_id_col).alias("__qid"),
        F.slice(as_double(F.col(vec_col)), 1, int(prefix_dims)).alias(
            "__qpre"
        ),
        as_double(F.col(vec_col)).alias("__qfull"),
    )
    pre = _minus_tombstones(
        spark,
        index_path,
        spark.read.parquet(index_path + f"/prefix{int(prefix_dims)}"),
        id_col,
    )
    scored = pre.crossJoin(
        F.broadcast(q.select("__qid", "__qpre"))
    ).select(
        "__qid",
        F.col(id_col),
        cosine_col(F.col("prefix"), F.col("__qpre")).alias(
            "prefix_cosine"
        ),
    )
    wq = Window.partitionBy("__qid").orderBy(
        F.desc("prefix_cosine"), F.asc(id_col)
    )
    short = (
        scored.withColumn("__rk", F.row_number().over(wq))
        .filter(F.col("__rk") <= kprime)
        .drop("__rk")
    )
    full = spark.read.parquet(index_path + "/vectors").select(
        F.col(id_col), F.col("vec").alias("__v")
    )
    rescored = (
        full.join(F.broadcast(short), id_col)
        .join(F.broadcast(q.select("__qid", "__qfull")), "__qid")
        .select(
            F.col("__qid").alias(query_id_col),
            F.col(id_col),
            F.col("prefix_cosine"),
            cosine_col(F.col("__v"), F.col("__qfull")).alias("cosine"),
        )
    )
    wk = Window.partitionBy(query_id_col).orderBy(
        F.desc("cosine"), F.asc(id_col)
    )
    return (
        rescored.withColumn("__rk", F.row_number().over(wk))
        .filter(F.col("__rk") <= k)
        .drop("__rk")
    )


def ivfpq_index_refined_topk(
    spark,
    index_path: str,
    vectors: DataFrame,
    query_df: DataFrame,
    k: int,
    shortlist_mult: int = 4,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    adc_ladder: int | None = None,
) -> DataFrame:
    """ADC shortlist + exact re-rank — the FAISS `refine` pattern
    (IndexRefineFlat), the missing production step between compressed
    recall and final ranking (r12 verdict task 4): quantization error
    in the 8-byte codes can flip near-ties, so stage 1 over-fetches
    k′ = shortlist_mult·k candidates from the compressed index
    (ivfpq_index_topk — partition-pruned code scan, ADC literal
    tables), and stage 2 rescales ONLY those k′ ids against the raw
    float vectors: the k′-row id list broadcasts against the plain
    vector scan (broadcast hash join right above the parquet read —
    never a corpus-wide score or sort; at 100 TB the raw-vector I/O
    is k′ row-group reads, not a second full pass), exact fold-cosine,
    total-order top-k. Refined recall ≥ ADC recall whenever the true
    neighbors reach the shortlist (pytest-pinned on the planted-
    neighbor fixture); both stages deterministic → exact-oracle-able.
    Output (id, adc_cosine, cosine) — the compressed score rides
    along for observability of the quantization gap."""
    kprime = int(shortlist_mult) * int(k)
    short = ivfpq_index_topk(
        spark,
        index_path,
        query_df,
        k=kprime,
        n_probe=n_probe,
        id_col=id_col,
        vec_col=vec_col,
        adc_ladder=adc_ladder,
    ).select(id_col, "adc_cosine")
    qvec = [float(x) for x in query_df.select(vec_col).first()[0]]
    qlit = F.array(*[F.lit(x) for x in qvec])
    raw = vectors.select(
        F.col(id_col), as_double(F.col(vec_col)).alias("_v")
    )
    return (
        raw.join(F.broadcast(short), id_col)
        .select(
            F.col(id_col),
            F.col("adc_cosine"),
            cosine_col(F.col("_v"), qlit).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def ivfpq_index_topk_batch(
    spark,
    index_path: str,
    queries_df: DataFrame,
    k: int,
    n_probe: int = 2,
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    adc_ladder: int = 1 << 20,
) -> DataFrame:
    """Serve MANY queries against the persisted IVF-PQ index in ONE
    plan — the batched compressed-serving shape that completes the
    matrix (ivf_index_topk_batch prunes a FLOAT index for a batch;
    ivfpq_index_topk ADC-scores CODES for one query; this does both):

    1. Probe selection is the ivf_index_topk_batch Catalyst shape:
       queries broadcast-crossJoin the stored centroid table, per-query
       row_number keeps the n_probe highest-affinity cells.
    2. The per-query ADC DOT TABLES are Catalyst too — queries join the
       stored codebook table (m·k tiny rows, broadcast) and each
       (query, subspace, code) entry is the same left-assoc fold dot,
       FLOOR-frozen onto the 2^20 ladder; the table rides back to the
       probe rows as ONE map column per query (m·k entries), so no
       query is ever collected to the driver. ‖cent‖² tables are
       query-independent and stay driver literals (loaded books — the
       single-query serve's arrays).
    3. The code scan equi-joins the broadcast probe rows ON THE
       PARTITION COLUMN (dynamic partition pruning, plan-asserted) and
       each (row, query) score is m map lookups + m array lookups —
       exact integer sums, one final double expression; per-query
       top-k via the keyed window (WindowGroupLimit).

    probe-all ≡ flat pq_topk(adc_ladder) per query bit-for-bit
    (pytest anchor); output (query_id, vec_id, adc_dot_lad,
    adc_nrm_lad, adc_cosine), k rows per query.

    Partial-probe caveat (r12 ADVICE #3): probe selection here ranks
    cells with a CATALYST cosine + row_number, while the single-query
    ivfpq_index_topk ranks them driver-side (_rank_cells) — the two
    evaluate the same affinity on the same doubles, but a near-tie can
    diverge at the ulp between JVM codegen and NumPy, yielding a
    different probe SET when n_probe < n_cells. Batch ≡ single-query
    parity is therefore guaranteed only probe-all (what the registered
    query and the pytest pin); under partial probes both serves are
    individually deterministic but not cross-guaranteed on affinity
    ties."""
    import math

    L = float(int(adc_ladder))
    books = load_pq_codebooks(spark, index_path)
    m, sub, k_codes = len(books), len(books[0][0]), len(books[0])
    cent = spark.read.parquet(index_path + "/centroids")
    q = queries_df.select(
        F.col(query_id_col).alias("__qid"),
        as_double(F.col(vec_col)).alias("__q"),
    )
    wq = Window.partitionBy("__qid").orderBy(F.desc("__aff"), F.asc("cell"))
    probes = (
        q.crossJoin(F.broadcast(cent))
        .withColumn("__aff", cosine_col(F.col("__q"), F.col("centroid")))
        .withColumn("__pr", F.row_number().over(wq))
        .filter(F.col("__pr") <= n_probe)
        .select("__qid", "__q", "cell")
    )
    # per-(query, subspace, code) laddered dot table → one map/query
    cb = spark.read.parquet(index_path + "/codebooks")
    qd = (
        q.crossJoin(F.broadcast(cb))
        .select(
            "__qid",
            (
                F.col("subspace") * F.lit(k_codes) + F.col("code")
            ).alias("__key"),
            F.floor(
                dot_col(
                    F.expr(f"slice(__q, subspace * {sub} + 1, {sub})"),
                    F.col("centroid"),
                )
                * F.lit(L)
            )
            .cast("long")
            .alias("__qd"),
        )
        .groupBy("__qid")
        .agg(
            F.map_from_arrays(
                F.collect_list("__key"), F.collect_list("__qd")
            ).alias("__qmap")
        )
    )
    qn = q.select(
        "__qid", F.sqrt(dot_col(F.col("__q"), F.col("__q"))).alias("__qn")
    )
    probes = probes.join(qd, "__qid").join(qn, "__qid").drop("__q")
    codes = _minus_tombstones(
        spark,
        index_path,
        spark.read.parquet(index_path + "/codes"),
        id_col,
    )
    joined = codes.join(F.broadcast(probes), "cell")
    dot_lad = F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0).cast("long"),
        lambda acc, j: acc
        + F.element_at(
            F.col("__qmap"),
            j * F.lit(k_codes) + F.element_at(F.col("codes"), j + 1),
        ),
    )
    nrm_expr = F.lit(0).cast("long")
    for j, book in enumerate(books):
        n2 = [int(math.floor(sum(x * x for x in e) * L)) for e in book]
        nrm_expr = nrm_expr + F.element_at(
            F.array(*[F.lit(v).cast("long") for v in n2]),
            F.element_at(F.col("codes"), j + 1) + 1,
        )
    score = F.when(
        nrm_expr > 0,
        (dot_lad.cast("double") / F.lit(L))
        / (F.col("__qn") * F.sqrt(nrm_expr.cast("double") / F.lit(L))),
    ).otherwise(F.lit(-2.0))
    scored = joined.select(
        F.col("__qid").alias(query_id_col),
        F.col(id_col),
        dot_lad.alias("adc_dot_lad"),
        nrm_expr.alias("adc_nrm_lad"),
        score.alias("adc_cosine"),
    )
    wk = Window.partitionBy(query_id_col).orderBy(
        F.desc("adc_cosine"), F.asc(id_col)
    )
    return (
        scored.withColumn("__rk", F.row_number().over(wk))
        .filter(F.col("__rk") <= k)
        .drop("__rk")
    )


def ivfpq_index_batch_refined_topk(
    spark,
    index_path: str,
    vectors: DataFrame,
    queries_df: DataFrame,
    k: int,
    shortlist_mult: int = 4,
    n_probe: int = 2,
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    adc_ladder: int = 1 << 20,
) -> DataFrame:
    """BATCHED ADC shortlist + exact re-rank — the shape a production
    serving fleet actually runs (r13 verdict task 1): refine is
    worthless at 100 TB if it forces one plan per query, so this
    composes ivfpq_index_topk_batch's per-query compressed shortlist
    (k′ = shortlist_mult·k per query, partition-pruned code scan,
    per-query laddered ADC map — ONE plan for the whole batch) with
    ONE exact re-rank stage: the (query_id, vec_id, adc_cosine)
    shortlist — Q·k′ rows — joins the query vectors (Q·k′·dims
    doubles, still tiny) and BROADCASTS against the plain vector scan
    right above the parquet read, so the raw-vector I/O is Q·k′ row
    lookups in one corpus pass, never Q passes and never a corpus-
    wide score. Exact fold-cosine per (row, query), per-query top-k
    via the keyed window (WindowGroupLimit). Both stages
    deterministic (the batch serve's ladder + total-order windows;
    the fold cosine) → exact-oracle-able from birth.

    probe-all batch-refined ≡ per-query ivfpq_index_refined_topk
    bit-for-bit (pytest anchor); under partial probes the same
    single-vs-batch affinity-tie caveat as ivfpq_index_topk_batch
    applies. Output (query_id, vec_id, adc_cosine, cosine), k rows
    per query."""
    kprime = int(shortlist_mult) * int(k)
    short = ivfpq_index_topk_batch(
        spark,
        index_path,
        queries_df,
        k=kprime,
        n_probe=n_probe,
        query_id_col=query_id_col,
        vec_col=vec_col,
        id_col=id_col,
        adc_ladder=adc_ladder,
    ).select(query_id_col, id_col, "adc_cosine")
    q = queries_df.select(
        F.col(query_id_col), as_double(F.col(vec_col)).alias("__q")
    )
    short_q = short.join(q, query_id_col)
    raw = vectors.select(
        F.col(id_col), as_double(F.col(vec_col)).alias("_v")
    )
    scored = raw.join(F.broadcast(short_q), id_col).select(
        F.col(query_id_col),
        F.col(id_col),
        F.col("adc_cosine"),
        cosine_col(F.col("_v"), F.col("__q")).alias("cosine"),
    )
    wk = Window.partitionBy(query_id_col).orderBy(
        F.desc("cosine"), F.asc(id_col)
    )
    return (
        scored.withColumn("__rk", F.row_number().over(wk))
        .filter(F.col("__rk") <= k)
        .drop("__rk")
    )


# --- Cosine-LSH near-duplicate pairs (all-pairs, unsupervised) ---------------
#
# `blocked_neardup_pairs` bounds the quadratic with a GIVEN blocking
# key; this is the unsupervised twin — the embedding-space analog of
# MinHash-banded LSH (operators/dedup.py): random-hyperplane sign
# signatures, banded buckets as candidate generators, then an EXACT
# integer cosine verification of candidates only. Semantics are
# deterministic (candidates = share ≥1 band bucket; keep iff exact
# quantized cosine ≥ τ), so the whole operator has an exact DuckDB
# oracle — unlike recall-based ANN, the gate hash-matches it.
#
# Cross-engine exactness:
# - components quantized floor(double(v)·scale) → BIGINT (floor of a
#   double has no tie policy; see _CENT_SCALE lesson in
#   plans/queries_pipeline.py),
# - hyperplanes are a ±1 sign matrix drawn ONCE from a seeded PRNG and
#   inlined as literals on BOTH engines (arithmetic parity scramblers
#   are a trap: any composition of modmuls collapses to one modmul
#   whose parity is a structured Beatty sequence — measured corr 1.0
#   between "independent" planes),
# - τ compare is all-BIGINT: dot>0 ∧ tau_den²·dot² ≥ tau_num²·‖a‖²‖b‖².
#   Overflow bound: tau_den²·(scale²·dims·max|v|²)² < 2⁶³ — defaults
#   (scale 1e3, dims 64, |v|≤1, tau_den≤30) peak at ~3.7e18.
#
# 100 TB posture: signatures are a row-local map (24 folds/row, pure
# codegen); the bands exchange carries (id, band, bkey) ≈ 24 bytes/row;
# candidate generation is an equi-join INSIDE buckets, with degenerate
# buckets (near-constant corpora — the LSH analog of stop-shingles)
# dropped by `max_bucket_fraction` so no bucket can go quadratic in
# the corpus; exact verification touches candidate pairs only.

NEARDUP_SIGN_SEED = 20260814


def neardup_sign_matrix(
    dims: int = 64, n_bits: int = 24, seed: int = NEARDUP_SIGN_SEED
) -> list[list[int]]:
    """dims×n_bits ±1 hyperplane matrix, content-addressed by seed."""
    import random

    rng = random.Random(seed)
    return [
        [1 if rng.random() < 0.5 else -1 for _ in range(n_bits)]
        for _ in range(dims)
    ]


def cosine_lsh_neardups(
    vectors: DataFrame,
    tau_num: int,
    tau_den: int,
    *,
    scale: int = 1000,
    n_bits: int = 24,
    band_bits: int = 6,
    dims: int = 64,
    max_bucket_fraction: float = 0.1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All-pairs cosine near-duplicates ≥ tau_num/tau_den via banded
    random-hyperplane LSH candidates + exact integer verify.

    Returns (id_a, id_b, dot_q, cosine), id_a < id_b, one row per
    verified candidate pair. Recall vs brute force is the banded-LSH
    collision probability 1-(1-p^band_bits)^n_bands, p = 1-θ/π — near
    1 for true near-duplicates (cos ≥ 0.9), by construction < 1 at the
    τ boundary; precision is exactly 1 (every emitted pair passed the
    exact test)."""
    assert n_bits % band_bits == 0
    n_bands = n_bits // band_bits
    signs = neardup_sign_matrix(dims, n_bits)
    zero = F.lit(0).cast("long")

    q = spread(vectors).select(
        F.col(id_col).alias("_id"),
        F.transform(
            F.col(vec_col),
            lambda x: F.floor(x.cast("double") * F.lit(scale)).cast("long"),
        ).alias("_qv"),
    )


    # Signatures RELATIONALLY, not as n_bits higher-order folds per
    # row: Spark evaluates aggregate()/zip_with() lambdas on the
    # INTERPRETED expression path (no whole-stage codegen), and 24
    # folds × 64 elements measured ~1 ms/row — 2.1 s for a 2 000-row
    # fixture, linear in corpus. The exploded form (components ⋈
    # broadcast ±1 sign table → two partial-aggregable groupBys) is
    # pure codegen hash aggregation, the exact shape the oracle runs,
    # and carries n·dims rows map-side-combined — the scalable shape.
    spark = vectors.sparkSession
    sgn = spark.createDataFrame(
        [
            (i, j, signs[i][j])
            for i in range(dims)
            for j in range(n_bits)
        ],
        "i int, j int, s int",
    )
    comp = q.select("_id", F.posexplode("_qv").alias("i", "v"))
    # Norms relationally too (the same interpreted-fold rule as the
    # signatures — this is a per-corpus-row computation): one codegen
    # groupBy over the component frame, joined back at node
    # cardinality. NOT pinned: the whole operator is one job, and
    # AQE exchange reuse already dedupes the identical agg subtrees —
    # measured r14: pinning norms+bands REGRESSED 3.0 s → 7.0 s
    # (cache materialization barriers beat the reuse they replaced).
    norms = comp.groupBy("_id").agg(
        F.sum(F.col("v") * F.col("v")).cast("long").alias("_nrm")
    )
    proj = (
        comp.join(F.broadcast(sgn), "i")
        .groupBy("_id", "j")
        .agg(F.sum(F.col("v") * F.col("s")).alias("_p"))
    )
    bands = (
        proj.groupBy(
            "_id", (F.col("j") - F.col("j") % band_bits).alias("_j0")
        )
        .agg(
            F.sum(
                F.when(
                    F.col("_p") >= 0,
                    F.expr(f"shiftleft(1, j % {band_bits})"),
                ).otherwise(F.lit(0))
            ).alias("bkey")
        )
        .select(
            "_id",
            (F.col("_j0") / band_bits).cast("int").alias("band"),
            F.col("bkey").cast("long").alias("bkey"),
        )
    )

    # Degenerate-bucket cut: a bucket holding > fraction of the corpus
    # is non-discriminative (near-constant vectors) and would make the
    # candidate join quadratic; distinct (band, bkey) is bounded by
    # n_bands·2^band_bits, so the allowed-bucket list always broadcasts.
    total = q.agg(F.count(F.lit(1)).alias("_n"))
    allowed = (
        bands.groupBy("band", "bkey")
        .agg(F.count(F.lit(1)).alias("_c"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("_c") <= F.ceil(F.lit(max_bucket_fraction) * F.col("_n")))
        .select("band", "bkey")
    )
    bands = bands.join(F.broadcast(allowed), ["band", "bkey"], "left_semi")

    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .distinct()
    )

    qn = q.join(norms, "_id")
    qa = qn.select(
        F.col("_id").alias("id_a"),
        F.col("_qv").alias("_qa"),
        F.col("_nrm").alias("_na"),
    )
    qb = qn.select(
        F.col("_id").alias("id_b"),
        F.col("_qv").alias("_qb"),
        F.col("_nrm").alias("_nb"),
    )
    # Verify stage stays the expression fold: the r15 interleaved A/B
    # (plans/r15/ab_lsh_verify_arrow.json) measured an Arrow/numpy
    # verify at EXACTLY 1.00x — shipping two 64-long arrays per
    # candidate pair through Arrow costs what the interpreted fold
    # costs, and the operator's remaining time is the candidate
    # self-join + fixed job cost, not the verify arithmetic.
    joined = cand.join(qa, "id_a").join(qb, "id_b")
    dot = F.aggregate(
        F.zip_with(F.col("_qa"), F.col("_qb"), lambda x, y: x * y),
        zero,
        lambda acc, x: acc + x,
    )
    tn2 = F.lit(tau_num * tau_num).cast("long")
    td2 = F.lit(tau_den * tau_den).cast("long")
    return (
        joined.withColumn("dot_q", dot)
        .filter(
            (F.col("dot_q") > 0)
            & (
                td2 * F.col("dot_q") * F.col("dot_q")
                >= tn2 * F.col("_na") * F.col("_nb")
            )
        )
        .select(
            "id_a",
            "id_b",
            "dot_q",
            (
                F.col("dot_q").cast("double")
                / F.sqrt(F.col("_na").cast("double") * F.col("_nb").cast("double"))
            ).alias("cosine"),
        )
    )


def int8_quantize(
    vectors: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Scalar int8 quantization (the FAISS SQ8 / pgvector halfvec-class
    storage path): per vector, scale = max|x| / 127, components
    round(x/scale) in [-127, 127] stored as an integer array — 4-8x
    smaller scan footprint and integer-SIMD dot products, the standard
    first step when 100 TB of float32 embeddings don't fit the scan
    budget. Zero vectors (scale 0) are dropped — they have no
    direction to search. Deterministic: the round-half-away tie rule
    matches DuckDB's, so quantized vectors are bit-identical
    cross-engine."""
    dv = as_double(F.col(vec_col))
    mx = F.array_max(F.transform(dv, lambda x: F.abs(x)))
    out = (
        vectors.withColumn("__mx", mx)
        .filter(F.col("__mx") > 0)
        .withColumn("scale", F.col("__mx") / F.lit(127.0))
    )
    return out.select(
        F.col(id_col),
        F.transform(
            dv, lambda x: F.round(x / F.col("scale")).cast("long")
        ).alias("qvec"),
        "scale",
    )


def _int_dot(a: Column, b: Column) -> Column:
    """Exact integer dot product of two BIGINT arrays (combine-order-
    free, unlike float folds)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def int8_topk(
    vectors: DataFrame,
    query_df: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k by QUANTIZED cosine: int8-quantize both sides,
    rank by the integer dot normalized by integer norms. The only
    floats are the final sqrt/divide on exact integers — scores and
    the top-k set are reproducible cross-engine (exact DuckDB oracle,
    unlike the float-fold cosine whose sum order matters), while
    recall vs the exact ranking is pinned by pytest. Same plan shape
    as brute_force_topk: broadcast 1-row quantized query, zero shuffle
    of the vector table, TakeOrderedAndProject. Quantize+score run in
    the Arrow/numpy path (bit-identical to `_fold_int8_topk` — see
    the module comment)."""
    return _arrow_int8_topk(vectors, query_df, k, id_col, vec_col)


def _fold_int8_topk(
    vectors: DataFrame,
    query_df: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """`int8_topk` as one Catalyst expression fold: the reference the
    Arrow path is tested against."""
    qv = int8_quantize(vectors, id_col, vec_col)
    qq = int8_quantize(
        query_df.select(F.lit(-1).alias(id_col), F.col(vec_col)),
        id_col,
        vec_col,
    ).select(F.col("qvec").alias("_qq"))
    scored = qv.crossJoin(F.broadcast(qq)).select(
        F.col(id_col),
        (
            _int_dot(F.col("qvec"), F.col("_qq")).cast("double")
            / (
                F.sqrt(_int_dot(F.col("qvec"), F.col("qvec")).cast("double"))
                * F.sqrt(_int_dot(F.col("_qq"), F.col("_qq")).cast("double"))
            )
        ).alias("qcosine"),
    )
    return scored.orderBy(F.desc("qcosine"), F.asc(id_col)).limit(k)


RRF_SCALE = 2_000_000_000_000


def rrf_fuse(
    scored: list[DataFrame],
    item_col: str,
    score_col: str,
    k0: int = 60,
    shortlist: int = 100,
    top_k: int = 20,
) -> DataFrame:
    """Reciprocal-rank fusion over per-signal candidate lists — the
    hybrid-retrieval layer that combines this module's rankers (a
    lexical tf/BM25-ish score, an embedding cosine, ...) into one
    list: RRF(item) = Σ_signals w(rank_i(item)) with w(r) =
    RRF_SCALE DIV (k0 + r) — INTEGER division of a frozen scale, so
    every weight, sum, and comparison is exact integer arithmetic on
    both engines (the NDCG frozen-ladder discipline, closed-form
    instead of a literal table). Items missing from a signal's
    shortlist contribute 0 from it, the standard RRF convention.

    Scale shape: each signal first collapses to its own TOP-`shortlist`
    by (score DESC, item ASC) — a TakeOrderedAndProject over the full
    corpus (per-partition heaps, no global sort) — and only then takes
    a row_number over those ≤`shortlist` rows; fusion is one groupBy
    over ≤ signals·shortlist rows. The single-partition window is over
    the SHORTLIST, never the corpus — retrieval fusion's inherent
    shape (rank is only defined relative to a bounded candidate list).
    Output: (item, rrf_score, n_lists), top_k by (rrf DESC, item ASC).
    """
    parts = []
    for df in scored:
        short = (
            df.select(
                F.col(item_col).alias("__item"),
                F.col(score_col).alias("__s"),
            )
            .orderBy(F.desc("__s"), F.asc("__item"))
            .limit(shortlist)
        )
        w = Window.orderBy(F.desc("__s"), F.asc("__item"))
        ranked = short.withColumn("__r", F.row_number().over(w)).select(
            "__item",
            F.expr(f"{RRF_SCALE} DIV ({k0} + __r)").alias("__w"),
        )
        parts.append(ranked)
    allp = parts[0]
    for p in parts[1:]:
        allp = allp.unionByName(p)
    return (
        allp.groupBy(F.col("__item").alias(item_col))
        .agg(
            F.sum("__w").cast("long").alias("rrf_score"),
            F.count(F.lit(1)).cast("long").alias("n_lists"),
        )
        .orderBy(F.desc("rrf_score"), F.asc(item_col))
        .limit(top_k)
    )


def rrf_fuse_by_key(
    scored: list[DataFrame],
    key_col: str,
    item_col: str,
    score_col: str,
    k0: int = 60,
    shortlist: int = 100,
    top_k: int = 20,
    weights: list[int] | None = None,
) -> DataFrame:
    """PER-QUERY reciprocal-rank fusion — the production shape of
    `rrf_fuse` (r10 verdict task 3: hybrid search serves thousands of
    queries per batch, each fusing its own per-signal candidate
    lists). Each `scored` frame carries (key, item, score) rows for
    EVERY query key; per signal, ranks come from row_number over
    Window.partitionBy(key).orderBy(score DESC, item ASC) with
    rank ≤ shortlist — Catalyst's WindowGroupLimit pushes the rank
    filter into per-partition top-shortlist heaps before the window
    shuffle, and there is NO single-partition window anywhere
    (strictly better than the global form, whose one allowlisted
    single-partition sort this keyed form eliminates). Fusion is one
    groupBy on (key, item) over ≤ keys·signals·shortlist rows; the
    final per-key top_k is another keyed window over the fused rows.
    Weights are the same frozen-integer RRF_SCALE DIV (k0 + rank) as
    rrf_fuse, so fused scores are exact integers on both engines;
    `weights` (one INTEGER per signal, default all-1) multiplies each
    signal's term — the standard production knob for biasing lexical
    vs vector evidence without leaving integer arithmetic.
    Output: (key, item, rrf_score, n_lists), top_k rows per key by
    (rrf DESC, item ASC). `rrf_fuse` is the degenerate single-key
    case of this shape."""
    if weights is None:
        weights = [1] * len(scored)
    if len(weights) != len(scored):
        raise ValueError(
            f"{len(scored)} signals but {len(weights)} weights"
        )
    if any(int(w) != w or w < 0 for w in weights):
        raise ValueError("RRF signal weights must be non-negative ints")
    parts = []
    for df, sig_w in zip(scored, weights):
        w = Window.partitionBy("__k").orderBy(
            F.desc("__s"), F.asc("__item")
        )
        parts.append(
            df.select(
                F.col(key_col).alias("__k"),
                F.col(item_col).alias("__item"),
                F.col(score_col).alias("__s"),
            )
            .withColumn("__r", F.row_number().over(w))
            .filter(F.col("__r") <= shortlist)
            .select(
                "__k",
                "__item",
                F.expr(
                    f"{int(sig_w)} * ({RRF_SCALE} DIV ({k0} + __r))"
                ).alias("__w"),
            )
        )
    allp = parts[0]
    for p in parts[1:]:
        allp = allp.unionByName(p)
    fused = allp.groupBy(
        F.col("__k").alias(key_col), F.col("__item").alias(item_col)
    ).agg(
        F.sum("__w").cast("long").alias("rrf_score"),
        F.count(F.lit(1)).cast("long").alias("n_lists"),
    )
    wk = Window.partitionBy(key_col).orderBy(
        F.desc("rrf_score"), F.asc(item_col)
    )
    return (
        fused.withColumn("__rk", F.row_number().over(wk))
        .filter(F.col("__rk") <= top_k)
        .drop("__rk")
    )


def margin_knn_pairs(
    x_df: DataFrame,
    y_df: DataFrame,
    k: int,
    top_pairs: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Margin-based kNN pair mining (Artetxe & Schwenk 2019 — the
    standard bitext/alignment mining criterion): score every (x, y)
    cross pair not by raw cosine but by its RATIO to the local
    neighborhood density,

        margin(x,y) = cos(x,y) / ((Σ cos(x, NNk(x,Y)) +
                                   Σ cos(y, NNk(y,X))) / 2k)

    which suppresses hub vectors that are near everything. Returns the
    `top_pairs` highest-margin pairs (id_x, id_y, cosine, margin).

    Determinism (the registry's float-parity rules): cosines are
    sequential-fold doubles (bit-stable cross-engine); each kNN sum
    casts its k cosines to DECIMAL(18,12) BEFORE summing — decimal
    addition is exact and associative, so partial-agg combine order
    can't move the denominator — and the two divisions are mirrored
    op-for-op in the oracle. kNN membership ties break on neighbor id
    (total order).

    Scale shape: X is the bounded query set (mining batches against a
    corpus) — it broadcasts, the corpus never shuffles for the cross
    cosines; both kNN windows partition by one side's id. At full
    corpus×corpus scale you'd generate candidates with the IVF index
    (`ivf_index_topk_batch`) and apply THIS margin rescoring to its
    shortlists — the expression is candidate-source-agnostic.
    """
    from pyspark.sql import Window

    x = x_df.select(
        F.col(id_col).alias("id_x"), as_double(F.col(vec_col)).alias("_x")
    )
    y = y_df.select(
        F.col(id_col).alias("id_y"), as_double(F.col(vec_col)).alias("_y")
    )
    cross = y.crossJoin(F.broadcast(x)).select(
        "id_x", "id_y", cosine_col(F.col("_x"), F.col("_y")).alias("cosine")
    )
    w_x = Window.partitionBy("id_x").orderBy(
        F.desc("cosine"), F.asc("id_y")
    )
    w_y = Window.partitionBy("id_y").orderBy(
        F.desc("cosine"), F.asc("id_x")
    )
    sum_x = (
        cross.withColumn("__r", F.row_number().over(w_x))
        .filter(F.col("__r") <= k)
        .groupBy("id_x")
        .agg(
            F.sum(F.col("cosine").cast("decimal(18,12)")).alias("__sx")
        )
    )
    sum_y = (
        cross.withColumn("__r", F.row_number().over(w_y))
        .filter(F.col("__r") <= k)
        .groupBy("id_y")
        .agg(
            F.sum(F.col("cosine").cast("decimal(18,12)")).alias("__sy")
        )
    )
    scored = (
        cross.join(F.broadcast(sum_x), "id_x")
        .join(sum_y, "id_y")
        .withColumn(
            "margin",
            F.col("cosine")
            / (
                (F.col("__sx") + F.col("__sy")).cast("double")
                / F.lit(float(2 * k))
            ),
        )
        .select("id_x", "id_y", "cosine", "margin")
    )
    return scored.orderBy(
        F.desc("margin"), F.asc("id_x"), F.asc("id_y")
    ).limit(top_pairs)


def mmr_select(
    cands: DataFrame,
    key_col: str,
    item_col: str,
    rel_col: str,
    vec_col: str,
    k: int,
) -> DataFrame:
    """Maximal Marginal Relevance (Carbonell & Goldstein 1998) — the
    standard diversification re-ranker over a retrieval SHORTLIST:
    per query key, greedily pick k items maximizing

        score(d) = λ·rel(d) − (1−λ)·max_{s∈selected} sim(d, s)

    with λ = 1/2 (exactly representable, so both engines compute the
    identical doubles) and sim = sequential-fold cosine between
    candidate vectors. The first pick is argmax rel (empty selected
    set → penalty 0); every argmax breaks ties on item id (total
    order). Output: (key, item, mmr_rank, rel, mmr_score).

    Scale shape: `cands` is a per-key SHORTLIST (the rrf/IVF serving
    discipline — rank only ever exists relative to a bounded list), so
    the pairwise sim table is |shortlist|² per key and every step is
    one equi-join + one keyed WindowGroupLimit argmax; the k-step
    greedy is a FIXED-depth chain of narrow plans (k is a literal),
    never a driver loop over collected rows. The oracle unrolls the
    same k steps as CTEs.
    """
    from pyspark.sql import Window

    lam = F.lit(0.5)
    base = cands.select(
        F.col(key_col).alias("key"),
        F.col(item_col).alias("item"),
        F.col(rel_col).alias("rel"),
        as_double(F.col(vec_col)).alias("__v"),
    )
    sims = (
        base.select("key", F.col("item").alias("ia"), F.col("__v").alias("va"))
        .join(
            base.select(
                "key", F.col("item").alias("ib"), F.col("__v").alias("vb")
            ),
            "key",
        )
        .filter(F.col("ia") != F.col("ib"))
        .select(
            "key",
            "ia",
            "ib",
            cosine_col(F.col("va"), F.col("vb")).alias("sim"),
        )
    )
    # The shortlist and its pairwise sims are BOUNDED (|keys|·shortlist
    # and |keys|·shortlist² rows) but sit on top of the expensive
    # upstream scan; each greedy step references them again, and the
    # growing `selected` union would otherwise nest k plans deep —
    # localCheckpoint truncates both lineages (the graph-iteration
    # discipline, operators/graph.py), so every step replays bounded
    # rows, never the corpus scan.
    sims = sims.localCheckpoint(eager=True)
    cand = base.select("key", "item", "rel").localCheckpoint(eager=True)
    w = Window.partitionBy("key").orderBy(F.desc("rel"), F.asc("item"))
    selected = (
        cand.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "key",
            "item",
            F.lit(1).alias("mmr_rank"),
            "rel",
            (lam * F.col("rel")).alias("mmr_score"),
        )
    )
    for step in range(2, int(k) + 1):
        remaining = cand.join(
            selected.select("key", "item"), ["key", "item"], "left_anti"
        )
        pen = (
            remaining.join(
                sims.withColumnRenamed("ia", "item"),
                ["key", "item"],
            )
            .join(
                selected.select(
                    "key", F.col("item").alias("ib")
                ),
                ["key", "ib"],
            )
            .groupBy("key", "item", "rel")
            .agg(F.max("sim").alias("__mx"))
        )
        ws = Window.partitionBy("key").orderBy(
            F.desc("__score"), F.asc("item")
        )
        nxt = (
            pen.withColumn(
                "__score", lam * F.col("rel") - lam * F.col("__mx")
            )
            .withColumn("__rn", F.row_number().over(ws))
            .filter(F.col("__rn") == 1)
            .select(
                "key",
                "item",
                F.lit(step).alias("mmr_rank"),
                "rel",
                F.col("__score").alias("mmr_score"),
            )
        )
        selected = selected.unionByName(nxt).localCheckpoint(eager=True)
    return selected


def embedding_dim_covariance(
    emb: DataFrame,
    vec_col: str = "embedding",
    dims: int = 64,
) -> DataFrame:
    """Exact sample covariance matrix of the embedding dimensions —
    the one-pass distributed moment computation under PCA/whitening/
    feature-drift checks: for every dim pair i ≤ j,

        cov(i,j) = (Σ v_i·v_j − (Σ v_i)(Σ v_j)/n) / (n−1)

    with BOTH moment sums made EXACT INTEGERS: each product (a
    mirrored double op) is scaled by 2^40 — exact in IEEE, it only
    moves the exponent — and floored (exact, engine-independent), so
    the sums are longs that no combine order can move; the finish is
    a fixed chain of mirrored double ops. Quantization error is
    ≤ 2^-40 per term (the frozen-integer-ladder discipline, cf.
    ndcg_at_k's log ladder) — a documented property of the operator,
    not engine noise: a decimal cast at this scale diverges at the
    ULP between engines (Spark casts via the double's SHORTEST
    string repr, DuckDB from the full binary value), which is why
    DECIMAL(30,15) stabilization is NOT used here. Output:
    (i, j, n, cov), upper triangle, 1-based dims.

    Scale shape: the dims(dims+1)/2 products per row are generated
    ROW-LOCALLY (nested transform + one explode — no self-join, no
    shuffle of the vectors); the only exchange is the groupBy (i, j),
    map-side combined to ≤ dims² rows per partition; per-dim first
    moments ride a ≤ dims-row broadcast. One pass over the corpus.
    """
    d = int(dims)
    v = as_double(F.col(vec_col))
    pairs = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.lit(d)),
            lambda i: F.transform(
                F.sequence(i, F.lit(d)),
                lambda j: F.struct(
                    i.alias("i"),
                    j.alias("j"),
                    F.floor(
                        F.element_at(v, i)
                        * F.element_at(v, j)
                        * F.lit(float(1 << 40))
                    )
                    .cast("long")
                    .alias("p"),
                ),
            ),
        )
    )
    second = (
        emb.select(F.explode(pairs).alias("pp"))
        .select("pp.i", "pp.j", "pp.p")
        .groupBy("i", "j")
        .agg(
            F.sum("p").alias("__sij"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
    )
    first = (
        emb.select(F.posexplode(v).alias("__z", "__val"))
        .select((F.col("__z") + 1).alias("i"), F.col("__val").alias("__v"))
        .groupBy("i")
        .agg(
            F.sum(
                F.floor(F.col("__v") * F.lit(float(1 << 40))).cast("long")
            ).alias("__s")
        )
    )
    return (
        second.join(
            F.broadcast(first.select(F.col("i"), F.col("__s").alias("__si"))),
            "i",
        )
        .join(
            F.broadcast(
                first.select(F.col("i").alias("j"), F.col("__s").alias("__sj"))
            ),
            "j",
        )
        .select(
            F.col("i").cast("long").alias("i"),
            F.col("j").cast("long").alias("j"),
            "n",
            (
                (
                    F.col("__sij").cast("double") / F.lit(float(1 << 40))
                    - (F.col("__si").cast("double") / F.lit(float(1 << 40)))
                    * (F.col("__sj").cast("double") / F.lit(float(1 << 40)))
                    / F.col("n").cast("double")
                )
                / (F.col("n") - F.lit(1)).cast("double")
            ).alias("cov"),
        )
    )


def gram_power_iteration(
    emb: DataFrame,
    vec_col: str = "embedding",
    dims: int = 64,
    iters: int = 15,
) -> DataFrame:
    """Dominant eigenvector of the embedding Gram matrix (the PCA top
    component, uncentered) by POWER ITERATION — an iterative algorithm
    made engine-exact end to end: every quantity in the loop is an
    integer, so the DuckDB oracle replays the identical iteration and
    the gate hash-compares an iterative result (normally the class of
    operator that only gets a rows-only check).

    Frozen integer semantics:
      G_q(i,j) = Σ_rows floor(v_i·v_j · 2^20)       (exact-ladder Gram)
      x_0(i)   = 2^20                               (all-ones start)
      y_t(i)   = Σ_j G_q(i,j)·x_t(j)                (exact long sums)
      x_{t+1}(i) = sign(y)·(|y| DIV max(1, m DIV 2^20)),  m = max|y|
    — the renormalization is integer division by construction (sign
    split first, so trunc-vs-floor semantics can never differ between
    engines). Magnitude audit: |G_q| ≤ n·2^20/4, |x| ≲ 2^20, so
    |y| ≤ dims·n·2^40/4 — inside long for n into the tens of millions;
    beyond that raise the ladder into DECIMAL(38,0)/HUGEINT.

    The Gram build is the ONE corpus pass (row-local upper-triangle
    products, mirrored from `embedding_dim_covariance`); the iteration
    itself runs on the bounded dims² frame — each step one broadcast
    join + map-side-combined groupBy, localCheckpointed so step t
    never replays step t-1's plan. Convergence to the true eigenvector
    is up to ladder precision and iteration count (pytest pins
    |cos| > 0.999 vs numpy on a spectral-gapped fixture).

    Output: (i, eigvec_q) — the final integer ladder, 1-based dims.
    """
    d = int(dims)
    v = as_double(F.col(vec_col))
    scale = float(1 << 20)
    pairs = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.lit(d)),
            lambda i: F.transform(
                F.sequence(i, F.lit(d)),
                lambda j: F.struct(
                    i.alias("i"),
                    j.alias("j"),
                    F.floor(
                        F.element_at(v, i) * F.element_at(v, j) * F.lit(scale)
                    )
                    .cast("long")
                    .alias("g"),
                ),
            ),
        )
    )
    upper = (
        emb.select(F.explode(pairs).alias("pp"))
        .select("pp.i", "pp.j", "pp.g")
        .groupBy("i", "j")
        .agg(F.sum("g").alias("g"))
    )
    gram = upper.unionByName(
        upper.filter(F.col("i") != F.col("j")).select(
            F.col("j").alias("i"), F.col("i").alias("j"), "g"
        )
    ).localCheckpoint(eager=True)
    spark = emb.sparkSession
    x = spark.range(1, d + 1).select(
        F.col("id").cast("int").alias("xi"),
        F.lit(1 << 20).cast("long").alias("x"),
    )
    for _ in range(int(iters)):
        y = (
            gram.join(F.broadcast(x), gram["j"] == F.col("xi"))
            .groupBy("i")
            .agg(F.sum(F.col("g") * F.col("x")).alias("y"))
        )
        m = y.agg(F.max(F.abs(F.col("y"))).alias("m"))
        x = (
            y.crossJoin(F.broadcast(m))
            .select(
                F.col("i").alias("xi"),
                (
                    F.signum(F.col("y")).cast("long")
                    * F.expr(
                        "abs(y) DIV greatest(CAST(1 AS BIGINT), "
                        "m DIV CAST(1048576 AS BIGINT))"
                    )
                ).cast("long").alias("x"),
            )
            .localCheckpoint(eager=True)
        )
    return x.select(
        F.col("xi").cast("long").alias("i"), F.col("x").alias("eigvec_q")
    )


def pq_reconstruction_error(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    group_col: str | None = None,
) -> DataFrame:
    """PQ assignment-quality monitoring: per group (or globally), the
    EXACT summed squared reconstruction error of the argmin-L2 code
    assignment — the number an index operator watches to decide when
    the frozen codebooks have drifted from the corpus and a refit/
    rebuild is due (the PQ analog of the IVF rebuild trigger). This is
    the encode step under the exact gate: unlike the recall-judged
    serve path, assignment error is a pure deterministic function of
    (vectors, codebooks), so with SQL-derivable codebooks the whole
    query hash-matches a DuckDB oracle — the first PQ-family member
    with an exact oracle row.

    Cross-engine exactness: each subspace's min squared distance is
    computed with the same sequential left-fold both engines use for
    cosine, then LADDER-QUANTIZED PER SUBSPACE (floor(min·2^20) →
    BIGINT) BEFORE any summation — the per-row error and every
    aggregate are integer sums, combine-order-free; `mean_err` is one
    final double division. Scale shape: one row-local pass (m·k
    literal folds per row, pure codegen), one map-side-combined
    groupBy; nothing scales with anything but the scan. Output is
    aggregate-only (per group_col, or one global row) — per-row
    errors are an internal projection, which is why no id column
    exists in the signature (r11 ADVICE #4)."""
    sub = len(codebooks[0][0])
    dv = as_double(F.col(vec_col))
    err = None
    for j, book in enumerate(codebooks):
        sv = F.slice(dv, j * sub + 1, sub)
        d2 = F.array(
            *[
                F.aggregate(
                    F.zip_with(
                        sv,
                        F.array(*[F.lit(c) for c in cent]),
                        lambda x, y: (x - y) * (x - y),
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                for cent in book
            ]
        )
        term = F.floor(F.array_min(d2) * F.lit(1048576.0)).cast("long")
        err = term if err is None else err + term
    keys = [group_col] if group_col else []
    per_row = df.select(*keys, err.alias("__err"))
    agg = per_row.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.sum("__err").cast("long").alias("err_ladder"),
    )
    return agg.select(
        *keys,
        "n_vecs",
        "err_ladder",
        (
            F.col("err_ladder").cast("double")
            / (F.col("n_vecs").cast("double") * F.lit(1048576.0))
        ).alias("mean_err"),
    )


# --- Residual IVF-PQ (by_residual=True — the FAISS default) ------------------
#
# Raw-vector IVF-PQ quantizes v directly, so every cell shares one
# codebook resolution; RESIDUAL IVF-PQ quantizes r = v − centroid(v)'s
# cell — the codebooks only have to cover the within-cell spread, so
# the same byte budget reconstructs tighter (the reason FAISS defaults
# to residuals). The costs are structural, not incidental: codebooks
# should be TRAINED ON RESIDUALS, and the ADC tables become PER-CELL
# (recon = c + r̂ couples the query to the probed cell), so a serve
# builds n_probe expression branches instead of one — cheap at probe
# counts that make IVF worth having, and the build/append/serve
# directory discipline is shared with the raw index.


def build_ivfpq_residual_index(
    vectors: DataFrame,
    index_path: str,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist a residual IVF-PQ index (same layout as the raw one:
    centroids/ + codebooks/ + codes/batch=<tag> partitioned by cell);
    codes quantize v − centroid(cell). `codebooks` should come from
    pq_train_codebooks over RESIDUAL vectors for the accuracy win."""
    spark = vectors.sparkSession
    cents = [[float(x) for x in c] for c in centroids]
    spark.createDataFrame(
        [(i + 1, c) for i, c in enumerate(cents)],
        "cell INT, centroid ARRAY<DOUBLE>",
    ).coalesce(1).write.mode("overwrite").parquet(index_path + "/centroids")
    book_rows = [
        (j, code, [float(x) for x in cent])
        for j, book in enumerate(codebooks)
        for code, cent in enumerate(book)
    ]
    spark.createDataFrame(
        book_rows, "subspace INT, code INT, centroid ARRAY<DOUBLE>"
    ).coalesce(1).write.mode("overwrite").parquet(index_path + "/codebooks")
    _fs_delete(spark, index_path + "/codes")
    _encode_residual_cells(
        vectors, cents, codebooks, id_col, vec_col
    ).write.mode("overwrite").partitionBy("cell").parquet(
        index_path + "/codes/batch=base"
    )


def _encode_residual_cells(
    vectors: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(id, codes, cell) where codes quantize the residual v − c_cell:
    the cell's centroid is looked up from a literal array-of-arrays by
    the assignment expression. The residual is STAGED BEHIND the
    repartition exchange: inlining it straight into _pq_codes_expr
    would paste the 8-fold assignment cosine into every one of the
    m·k distance folds (CollapseProject merges adjacent projections),
    a ~256× expression blow-up that turned the sf0.01 build from
    seconds into >10 minutes (measured); the exchange is a logical
    barrier CollapseProject cannot cross, so the residual is computed
    once per row and the code folds reference the materialized
    column."""
    dv = as_double(F.col(vec_col))
    cell = _cell_expr_m(("as_double", vec_col), centroids, dv)
    cent_arr = F.array(
        *[F.array(*[F.lit(x) for x in c]) for c in centroids]
    )
    resid = F.zip_with(dv, F.element_at(cent_arr, cell), lambda x, y: x - y)
    staged = (
        spread(vectors)
        .select(
            F.col(id_col),
            resid.alias("__r"),
            cell.alias("cell"),
        )
        .repartition("cell")
    )
    return staged.select(
        F.col(id_col),
        _pq_codes_expr_m(("col", "__r"), F.col("__r"), codebooks).alias(
            "codes"
        ),
        "cell",
    )


def ivfpq_residual_index_append(
    new_vectors: DataFrame,
    index_path: str,
    tag: str | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Day-N ingest against BOTH frozen quantizers, residual form —
    same tag-probing collision rule as the raw index."""
    spark = new_vectors.sparkSession
    if tag is None:
        tag = _next_free_batch_tag(spark, index_path + "/codes")
    cents = load_ivf_centroids(spark, index_path)
    books = load_pq_codebooks(spark, index_path)
    _encode_residual_cells(
        new_vectors, cents, books, id_col, vec_col
    ).write.mode("overwrite").partitionBy("cell").parquet(
        index_path + f"/codes/batch={tag}"
    )


def ivfpq_residual_index_topk(
    spark,
    index_path: str,
    query_df: DataFrame,
    k: int,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    adc_ladder: int | None = None,
) -> DataFrame:
    """Serve the residual index: per probed cell, reconstruction is
    recon = c + r̂, so the ADC cosine needs three per-cell tables
    beside the cell constants — all driver-side m·k sums over the
    tiny frozen artifacts:

        dot  = q·c  + Σ_j qdot_j[code_j]            (q·r̂ table)
        ‖recon‖² = ‖c‖² + Σ_j (2·cdot_j[code_j] + rnrm_j[code_j])

    where cdot_j[e] = c_subj·cent_{j,e} couples cell and code (the
    per-cell table residual form is famous for). One expression
    branch per probed cell over that cell's pruned partition, results
    unioned then top-k — n_probe branches, each partition-pruned, so
    the plan stays ~n_probe × the raw serve's and I/O is identical."""
    import math

    cents = load_ivf_centroids(spark, index_path)
    books = load_pq_codebooks(spark, index_path)
    qvec = [float(x) for x in query_df.select(vec_col).first()[0]]
    qn = math.sqrt(sum(x * x for x in qvec))
    probe_cells = _rank_cells(qvec, cents, n_probe)
    sub = len(books[0][0])
    L = float(int(adc_ladder)) if adc_ladder is not None else None
    branches = []
    for cell_id in probe_cells:
        c = cents[cell_id - 1]
        qc = sum(a * b for a, b in zip(qvec, c))
        cn2 = sum(x * x for x in c)
        if L is not None:
            # per-cell tables FLOOR-frozen onto the integer ladder
            # (the _adc_ladder_cols discipline, residual form): the
            # cell constants and every coupling-table entry become
            # BIGINT literals, so dot/norm are exact integer sums.
            dot_expr = F.lit(int(math.floor(qc * L))).cast("long")
            nrm_expr = F.lit(int(math.floor(cn2 * L))).cast("long")
        else:
            dot_expr = F.lit(qc)
            nrm_expr = F.lit(cn2)
        for j, book in enumerate(books):
            qj = qvec[j * sub : (j + 1) * sub]
            cj = c[j * sub : (j + 1) * sub]
            qdots = [sum(a * b for a, b in zip(qj, e)) for e in book]
            cdots = [sum(a * b for a, b in zip(cj, e)) for e in book]
            rnrm2 = [sum(x * x for x in e) for e in book]
            code_j = F.element_at(F.col("codes"), j + 1)
            if L is not None:
                dot_expr = dot_expr + F.element_at(
                    F.array(
                        *[
                            F.lit(int(math.floor(d * L))).cast("long")
                            for d in qdots
                        ]
                    ),
                    code_j + 1,
                )
                nrm_expr = nrm_expr + F.element_at(
                    F.array(
                        *[
                            F.lit(
                                int(math.floor((2.0 * cd + rn) * L))
                            ).cast("long")
                            for cd, rn in zip(cdots, rnrm2)
                        ]
                    ),
                    code_j + 1,
                )
            else:
                dot_expr = dot_expr + F.element_at(
                    F.array(*[F.lit(d) for d in qdots]), code_j + 1
                )
                nrm_expr = nrm_expr + F.element_at(
                    F.array(*[F.lit(2.0 * cd + rn) for cd, rn in
                              zip(cdots, rnrm2)]), code_j + 1
                )
        if L is not None:
            score = F.when(
                nrm_expr > 0,
                (dot_expr.cast("double") / F.lit(L))
                / (F.lit(qn) * F.sqrt(nrm_expr.cast("double") / F.lit(L))),
            ).otherwise(F.lit(-2.0))
            branches.append(
                spark.read.parquet(index_path + "/codes")
                .filter(F.col("cell") == cell_id)
                .select(
                    F.col(id_col),
                    dot_expr.alias("adc_dot_lad"),
                    nrm_expr.alias("adc_nrm_lad"),
                    score.alias("adc_cosine"),
                )
            )
        else:
            score = F.when(
                nrm_expr > 0, dot_expr / (F.lit(qn) * F.sqrt(nrm_expr))
            ).otherwise(F.lit(-2.0))
            branches.append(
                spark.read.parquet(index_path + "/codes")
                .filter(F.col("cell") == cell_id)
                .select(F.col(id_col), score.alias("adc_cosine"))
            )
    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b)
    out = _minus_tombstones(spark, index_path, out, id_col)
    return out.orderBy(F.desc("adc_cosine"), F.asc(id_col)).limit(k)


def crossencoder_rerank(
    candidates: DataFrame,
    query_tokens: list[str],
    k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_cols: list[str] | None = None,
    scorer=None,
) -> DataFrame:
    """Final stage of the retrieval stack (retrieve → fuse → RERANK):
    score each shortlisted candidate against the query with a
    CROSS-ENCODER-shaped model — query and document enter one scorer
    together, the architecture rerankers use because it sees
    interactions bi-encoders cannot — and keep the top k.

    The model seam is an Arrow-batched pandas UDF over the SHORTLIST
    ONLY (tens-to-hundreds of rows; the corpus never reaches the
    Python worker — the retrieve stage already collapsed it), which
    is exactly where a real ONNX/torch cross-encoder plugs in via
    `scorer(texts: pd.Series) -> pd.Series[int64]`. The DEFAULT
    scorer is a deterministic integer stand-in (per-occurrence
    token-overlap weighted by poly-hash mod 997 — the multimodal
    fixture-codec discipline: real arithmetic, exact DuckDB oracle,
    no model weights in the container). Ties break by the retrieval
    score then id, so the output order is total."""
    import pandas  # noqa: F401 — resolvable target for the UDF hints
    from pyspark.sql.functions import pandas_udf

    qset = {t for t in (x.lower() for x in query_tokens) if t}

    def _default_scorer(texts):
        def one(t):
            if t is None:
                return 0
            s = 0
            for tok in t.lower().split():
                if tok in qset:
                    h = 0
                    for ch in tok:
                        h = (h * HASH_BASE + ord(ch)) % HASH_PRIME
                    s += h % 997
            return s
        return texts.map(one).astype("int64")

    fn = scorer if scorer is not None else _default_scorer

    # The wrapper pins the Series->Series eval type explicitly:
    # `from __future__ import annotations` stringifies hints and a
    # user-supplied scorer may carry none, so inference can't be
    # trusted either way.
    def _wrapped(texts: pandas.Series) -> pandas.Series:
        return fn(texts)

    _wrapped.__annotations__ = {
        "texts": pandas.Series, "return": pandas.Series
    }
    score_udf = pandas_udf(_wrapped, "long")
    keep = list(keep_cols or [])
    return (
        candidates.withColumn("ce_score", score_udf(F.col(text_col)))
        .select(F.col(id_col), *keep, "ce_score")
        .orderBy(
            F.desc("ce_score"),
            *[F.desc(c) for c in keep],
            F.asc(id_col),
        )
        .limit(k)
    )
