"""Compaction of directory-per-batch persisted artifacts
(operators/compaction.py): contents identical before and after, file
counts drop, serves are bit-equal, and post-compaction appends keep
working — per artifact family (BM25 index, MinHash-LSH index, mix
manifest, cell-partitioned ANN index)."""

from __future__ import annotations

import json
import os
import time

import pytest
from pyspark.sql import functions as F

from big_data_engineering_project_spark.operators.compaction import (
    compact_batches,
    compact_bm25_index,
    compact_minhash_index,
    compact_vector_index,
    count_files,
)


def _write_ordered_json(in_dir, batches):
    """One JSON-lines file per micro-batch with increasing mtimes so
    maxFilesPerTrigger=1 replays them in order."""
    t0 = time.time() - 600
    os.makedirs(str(in_dir), exist_ok=True)
    for b, recs in enumerate(batches):
        fp = os.path.join(str(in_dir), f"{b}.json")
        with open(fp, "w") as fh:
            for r in recs:
                fh.write(json.dumps(r) + "\n")
        os.utime(fp, (t0 + b, t0 + b))


def _batch_tags(path):
    if not os.path.isdir(path):
        return []
    return sorted(
        d[len("batch=") :]
        for d in os.listdir(path)
        if d.startswith("batch=")
    )


def test_bm25_index_compaction_serves_identical_and_appends_continue(
    spark, tmp_path
):
    """Compacting the streamed BM25 postings/doclens directories leaves
    bm25_from_index scores bit-equal, drops the file count, and a
    LATER stream batch (same checkpoint, restarted after the clean
    stop) appends beside the new base and serves the full union."""
    from big_data_engineering_project_spark.operators.text_analysis import (
        bm25_from_index,
        bm25_scores,
    )
    from big_data_engineering_project_spark.streaming.scd2 import (
        run_bm25_index_stream,
    )

    docs = [
        {"doc_id": i, "text": f"alpha beta w{i % 3} gamma" + " alpha" * (i % 2)}
        for i in range(9)
    ]
    in_dir = tmp_path / "in"
    _write_ordered_json(in_dir, [docs[:3], docs[3:6]])
    idx = str(tmp_path / "bm_idx")
    cp = str(tmp_path / "cp")
    kw = dict(schema="doc_id LONG, text STRING")
    run_bm25_index_stream(spark, str(in_dir), idx, cp, **kw)

    terms = ["alpha", "w1"]

    def serve():
        return sorted(
            (r["doc_id"], r["n_terms"], r["score"])
            for r in bm25_from_index(
                spark.read.parquet(idx + "/postings").drop("batch"),
                spark.read.parquet(idx + "/doclens").drop("batch"),
                terms,
            ).collect()
        )

    before = serve()
    files_before = count_files(spark, idx + "/postings")
    assert len(_batch_tags(idx + "/postings")) == 2

    stats = compact_bm25_index(spark, idx)
    assert stats["postings"]["compacted"] and stats["doclens"]["compacted"]
    assert _batch_tags(idx + "/postings") == ["base"]
    assert _batch_tags(idx + "/doclens") == ["base"]
    # the file-count drop IS the point (object-store listing tax)
    assert count_files(spark, idx + "/postings") < files_before
    assert serve() == before and len(before) > 0

    # restart the stream after the clean stop: batch 2 appends its own
    # directory beside base; serving covers the full union
    _write_ordered_json(in_dir, [docs[:3], docs[3:6], docs[6:]])
    run_bm25_index_stream(spark, str(in_dir), idx, cp, **kw)
    tags = _batch_tags(idx + "/postings")
    assert "base" in tags and len(tags) == 2
    union = spark.createDataFrame(
        [(d["doc_id"], d["text"]) for d in docs], "doc_id LONG, text STRING"
    )
    want = sorted(
        (r["doc_id"], r["n_terms"], r["score"])
        for r in bm25_scores(union, terms).collect()
    )
    assert serve() == want

    # idempotence: compacting an already-lone-base root is a no-op
    compact_bm25_index(spark, idx)
    s2 = compact_bm25_index(spark, idx)
    assert not s2["postings"]["compacted"]
    assert serve() == want


def test_minhash_index_compaction_pairs_equal_and_probe_continues(
    spark, tmp_path
):
    """Compacting the streamed MinHash band/shingle/pair directories
    preserves the maintained pair set exactly, and a post-compaction
    batch still probes the (now single-directory) corpus index for
    cross-batch near-dups — final pairs equal the batch operator over
    the union."""
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
        if i in (5, 9):  # near-dups of docs 1 and 5 (cross-batch)
            t = base + f" w{(i - 4) % 4} v{(i - 4) % 3} u{i - 4} pad"
        docs.append({"doc_id": i, "text": t})
    in_dir = tmp_path / "in"
    _write_ordered_json(in_dir, [docs[:4], docs[4:8]])
    idx = str(tmp_path / "mh_idx")
    cp = str(tmp_path / "cp")
    kw = dict(schema="doc_id LONG, text STRING", threshold=0.4)
    run_minhash_index_stream(spark, str(in_dir), idx, cp, **kw)

    def pair_rows():
        return sorted(
            (r["doc_a"], r["doc_b"], r["jaccard"])
            for r in spark.read.parquet(idx + "/pairs").collect()
        )

    before = pair_rows()
    assert len(before) > 0
    files_before = count_files(spark, idx + "/bands")
    stats = compact_minhash_index(spark, idx)
    assert all(stats[s]["compacted"] for s in ("bands", "shingles", "pairs"))
    assert pair_rows() == before
    assert count_files(spark, idx + "/bands") < files_before

    # doc 9 (near-dup of doc 5, which now lives only in base) arrives
    # after compaction: the new batch's cross probe must still find it
    _write_ordered_json(in_dir, [docs[:4], docs[4:8], docs[8:]])
    run_minhash_index_stream(spark, str(in_dir), idx, cp, **kw)
    union = spark.createDataFrame(
        [(d["doc_id"], d["text"]) for d in docs], "doc_id LONG, text STRING"
    )
    want = sorted(
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in minhash_lsh_pairs(union, "doc_id", "text", 0.4).collect()
    )
    got = pair_rows()
    assert got == want
    # at least one pair crosses INTO the post-compaction batch — the
    # probe against the compacted base actually fired
    assert any(b >= 8 for _a, b, _j in got)


def test_mix_manifest_compaction_rows_identical(spark, tmp_path):
    """Compacting the streamed mix-manifest batch directories keeps the
    manifest rows identical (the ledger state table is untouched), and
    ingest can continue afterwards with the batch operator's result as
    the oracle."""
    from big_data_engineering_project_spark.operators.dedup import tokens_col
    from big_data_engineering_project_spark.operators.sampling import (
        budget_mix_select,
    )
    from big_data_engineering_project_spark.streaming.scd2 import run_mix_stream

    targets = {"en": 500_000, "de": 300_000}
    budget = 400
    recs = []
    for i in range(30):
        lang = ["en", "de", "xx"][i % 3]
        nwords = 8 + (i % 5) * 4
        recs.append(
            {
                "doc_id": i,
                "lang": lang,
                "text": " ".join(f"w{j}" for j in range(nwords)),
            }
        )
    in_dir = tmp_path / "in"
    _write_ordered_json(in_dir, [recs[:10], recs[10:20]])
    man = str(tmp_path / "man")
    state = str(tmp_path / "state")
    cp = str(tmp_path / "cp")
    kw = dict(
        schema="doc_id LONG, lang STRING, text STRING",
        targets_ppm=targets,
        budget_tokens=budget,
    )
    run_mix_stream(spark, str(in_dir), state, man, cp, **kw)

    def manifest_rows():
        return sorted(
            (r["id"], r["stratum"], r["n_tokens"], r["tok_before"],
             r["stratum_budget"])
            for r in spark.read.parquet(man).drop("batch").collect()
        )

    before = manifest_rows()
    assert len(before) > 0
    files_before = count_files(spark, man)
    assert compact_batches(spark, man)["compacted"]
    assert manifest_rows() == before
    assert count_files(spark, man) < files_before

    _write_ordered_json(in_dir, [recs[:10], recs[10:20], recs[20:]])
    run_mix_stream(spark, str(in_dir), state, man, cp, **kw)
    union = spark.createDataFrame(
        [(r["doc_id"], r["lang"], r["text"]) for r in recs],
        "doc_id LONG, lang STRING, text STRING",
    ).withColumn(
        "n_toks_doc", F.size(tokens_col(F.col("text"))).cast("long")
    )
    want = sorted(
        (r["id"], r["stratum"], r["n_tokens"], r["tok_before"],
         r["stratum_budget"])
        for r in budget_mix_select(
            union, "lang", "doc_id", "n_toks_doc", targets, budget
        ).collect()
    )
    assert manifest_rows() == want


def test_vector_index_compaction_preserves_serve_and_cell_layout(
    spark, tmp_path
):
    """Compacting a persisted IVF index's vectors/ batch directories
    (build + day-1 append → one base) leaves the probe-all serve
    bit-equal, keeps the inner cell=N partition layout the pruned
    probe depends on, and a post-compaction append still lands beside
    base."""
    from big_data_engineering_project_spark.operators import similarity

    def vec(i):
        return [float((i * 7 + d * 3) % 11) / 11.0 + 0.1 for d in range(8)]

    rows = [(i, vec(i)) for i in range(1, 25)]
    emb = spark.createDataFrame(
        rows, "vec_id LONG, embedding ARRAY<DOUBLE>"
    )
    day0 = emb.filter(F.col("vec_id") <= 16)
    day1 = emb.filter(F.col("vec_id") > 16)
    query = emb.filter(F.col("vec_id") == 1).select("embedding")
    cents = [vec(i) for i in (2, 9, 14, 20)]
    idx = str(tmp_path / "ivf")
    similarity.build_ivf_index(day0, idx, cents)
    similarity.ivf_index_append(day1, idx)

    def serve():
        return [
            (r["vec_id"], r["cosine"])
            for r in similarity.ivf_index_topk(
                spark, idx, query, k=10, n_probe=4
            ).collect()
        ]

    before = serve()
    assert _batch_tags(idx + "/vectors") == ["base", "d1"]
    files_before = count_files(spark, idx + "/vectors")
    stats = compact_vector_index(spark, idx)
    assert stats["vectors"]["compacted"]
    assert _batch_tags(idx + "/vectors") == ["base"]
    # inner cell layout survives → partition pruning still applies
    cells = sorted(os.listdir(idx + "/vectors/batch=base"))
    assert any(c.startswith("cell=") for c in cells)
    assert serve() == before
    assert count_files(spark, idx + "/vectors") < files_before

    # day-2 append after compaction probes forward from base
    day2 = spark.createDataFrame(
        [(100, vec(100))], "vec_id LONG, embedding ARRAY<DOUBLE>"
    )
    similarity.ivf_index_append(day2, idx)
    tags = _batch_tags(idx + "/vectors")
    assert "base" in tags and len(tags) == 2
    assert 100 in {
        r["vec_id"]
        for r in spark.read.parquet(idx + "/vectors").collect()
    }


def test_compact_batches_explicit_file_scheme(spark, tmp_path):
    """The whole compaction lifecycle against an explicit file://
    SCHEME path — the proof every directory operation (listing, the
    two swap renames, the self-heal probe, the recursive file count)
    goes through the Hadoop FileSystem API and would run against
    hdfs:// / s3a:// unchanged (the IVF-index scheme-test
    discipline)."""
    root = "file://" + str(tmp_path / "art")
    df = spark.range(20).select(F.col("id"), (F.col("id") % 4).alias("k"))
    df.write.parquet(root + "/batch=t0")
    df.write.parquet(root + "/batch=t1")
    rows_before = sorted(
        (r["id"], r["k"])
        for r in spark.read.parquet(root).drop("batch").collect()
    )
    files_before = count_files(spark, root)
    stats = compact_batches(spark, root)
    assert stats["compacted"] and stats["n_batches"] == 2
    assert count_files(spark, root) < files_before
    assert _batch_tags(str(tmp_path / "art")) == ["base"]
    rows_after = sorted(
        (r["id"], r["k"])
        for r in spark.read.parquet(root).drop("batch").collect()
    )
    assert rows_after == rows_before


def test_compact_batches_noop_and_crash_self_heal(spark, tmp_path):
    """Edge contract: absent root and lone-base root are no-ops; a
    crash between the two swap renames (root gone, .swap-old intact)
    self-heals on the next call."""
    import shutil

    root = str(tmp_path / "art")
    # absent → no-op
    s = compact_batches(spark, root)
    assert not s["compacted"] and s["n_batches"] == 0

    df = spark.range(10).select(
        F.col("id"), (F.col("id") % 3).alias("k")
    )
    df.write.parquet(root + "/batch=t0")
    df.write.parquet(root + "/batch=t1")
    rows_before = sorted(
        (r["id"], r["k"])
        for r in spark.read.parquet(root).drop("batch").collect()
    )
    assert compact_batches(spark, root)["compacted"]
    # lone base → no-op
    assert not compact_batches(spark, root)["compacted"]

    # simulate a crash between rename(root→bak) and rename(tmp→root)
    shutil.move(root, root + ".swap-old")
    df.write.parquet(root + ".compact-tmp/batch=base")  # stale tmp too
    s = compact_batches(spark, root)  # self-heals, then no-op (lone base)
    assert os.path.isdir(root) and not os.path.isdir(root + ".swap-old")
    rows_after = sorted(
        (r["id"], r["k"])
        for r in spark.read.parquet(root).drop("batch").collect()
    )
    # two batch dirs held the same 10 rows → 20 rows, preserved exactly
    base_rows = [(r["id"], r["k"]) for r in df.collect()]
    assert rows_after == rows_before == sorted(base_rows * 2)


def test_compact_on_stop_hook_cycle_and_refusal(spark, tmp_path):
    """The opt-in compact_on_stop hook in the streamed-index runners
    (streaming/scd2.py:_compact_on_stop): (a) a run with the flag
    leaves a lone compacted base whose serve is bit-equal to the
    batch path; (b) a restart ingests new batches beside base and the
    flag folds them into a fresh base, still bit-equal over the
    union; (c) the guard REFUSES when a batch dir of the current
    lineage carries an id beyond the checkpoint's last commit (the
    double-apply hazard)."""
    from big_data_engineering_project_spark.operators.text_analysis import (
        bm25_from_index,
        bm25_scores,
    )
    from big_data_engineering_project_spark.streaming.scd2 import (
        _batch_tag,
        _compact_on_stop,
        run_bm25_index_stream,
    )

    docs = [
        {"doc_id": i, "text": f"alpha beta w{i % 3} gamma" + " alpha" * (i % 2)}
        for i in range(9)
    ]
    in_dir = tmp_path / "in"
    _write_ordered_json(in_dir, [docs[:3], docs[3:6]])
    idx = str(tmp_path / "bm_idx")
    cp = str(tmp_path / "cp")
    kw = dict(schema="doc_id LONG, text STRING", compact_on_stop=True)
    run_bm25_index_stream(spark, str(in_dir), idx, cp, **kw)

    terms = ["alpha", "w1"]

    def serve():
        return sorted(
            (r["doc_id"], r["n_terms"], r["score"])
            for r in bm25_from_index(
                spark.read.parquet(idx + "/postings").drop("batch"),
                spark.read.parquet(idx + "/doclens").drop("batch"),
                terms,
            ).collect()
        )

    def want(upto):
        union = spark.createDataFrame(
            [(d["doc_id"], d["text"]) for d in docs[:upto]],
            "doc_id LONG, text STRING",
        )
        return sorted(
            (r["doc_id"], r["n_terms"], r["score"])
            for r in bm25_scores(union, terms).collect()
        )

    # (a) the flag compacted both tables to a lone base, serve bit-equal
    assert _batch_tags(idx + "/postings") == ["base"]
    assert _batch_tags(idx + "/doclens") == ["base"]
    assert serve() == want(6) and len(want(6)) > 0

    # (b) restart: batch 2 appends beside base, the stop folds it in
    _write_ordered_json(in_dir, [docs[:3], docs[3:6], docs[6:]])
    run_bm25_index_stream(spark, str(in_dir), idx, cp, **kw)
    assert _batch_tags(idx + "/postings") == ["base"]
    assert serve() == want(9)

    # (c) a current-lineage batch dir beyond the last commit → refuse
    rogue_tag = _batch_tag(cp, 99)
    rogue = os.path.join(idx, "postings", f"batch={rogue_tag}")
    spark.read.parquet(idx + "/postings").drop("batch").write.parquet(rogue)
    with pytest.raises(RuntimeError, match="refusing to compact"):
        _compact_on_stop(
            spark, cp, [(os.path.join(idx, "postings"), ())]
        )
    # the artifact was not touched by the refused call
    assert rogue_tag in _batch_tags(idx + "/postings")


def test_merge_compact_composed_lifecycle(spark, tmp_path):
    """The two directory-algebra lifecycle ops COMPOSED — the exact
    sequence a sharded 100 TB build runs (r13 verdict gap #4), which
    each op's own twin never exercised: shard-build → append → MERGE
    shard B in → COMPACT (absorbing merged batches into base) → MERGE
    shard C into the compacted index (its fresh tag must probe past
    the absorbed base, landing at d1 again with no stale leftovers) →
    COMPACT again. At every stage the probe-all serve must stay
    bit-equal to a single index built over the same union corpus, and
    after each compaction the batch list is exactly [base] with the
    inner cell=N layout intact."""
    from big_data_engineering_project_spark.ml import kmeans_centers
    from big_data_engineering_project_spark.operators.similarity import (
        build_ivfpq_index,
        ivfpq_index_append,
        ivfpq_index_topk,
        merge_vector_indexes,
        pq_train_codebooks,
    )

    def vec(i):
        return [
            float((i * 7 + d * 5) % 13) / 13.0 + 0.05 for d in range(16)
        ]

    rows = [(i, vec(i)) for i in range(1, 61)]
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    query = emb.filter(F.col("vec_id") == 1).select("embedding")
    a0 = emb.filter(F.col("vec_id") % 3 == 0)
    a1 = emb.filter(F.col("vec_id") % 3 == 1).filter(F.col("vec_id") < 30)
    b = emb.filter(F.col("vec_id") % 3 == 1).filter(F.col("vec_id") >= 30)
    c = emb.filter(F.col("vec_id") % 3 == 2)
    cents = kmeans_centers(emb, k=4, seed=7)
    books = pq_train_codebooks(emb, m=4, k=8, dims=16, seed=11)

    ia = str(tmp_path / "main")
    build_ivfpq_index(a0, ia, cents, books)
    ivfpq_index_append(a1, ia)

    def serve():
        return [
            tuple(r)
            for r in ivfpq_index_topk(
                spark, ia, query, k=10, n_probe=4
            ).collect()
        ]

    def union_serve(df):
        iu = str(tmp_path / "u")
        import shutil

        shutil.rmtree(iu, ignore_errors=True)
        build_ivfpq_index(df, iu, cents, books)
        return [
            tuple(r)
            for r in ivfpq_index_topk(
                spark, iu, query, k=10, n_probe=4
            ).collect()
        ]

    # merge shard B into the appended index, then compact-after-merge
    ib = str(tmp_path / "shard_b")
    build_ivfpq_index(b, ib, cents, books)
    merge_vector_indexes(spark, ia, ib, table="codes")
    ab = a0.union(a1).union(b)
    want_ab = union_serve(ab)
    assert serve() == want_ab
    stats = compact_vector_index(spark, ia, table="codes")
    assert stats["codes"]["compacted"]
    assert _batch_tags(ia + "/codes") == ["base"]
    assert any(
        d.startswith("cell=") for d in os.listdir(ia + "/codes/batch=base")
    )
    assert serve() == want_ab

    # merge shard C into the COMPACTED index: its src batch=base must
    # land under a fresh tag probed past the absorbed base (d1), and
    # the serve must equal the three-way union
    ic = str(tmp_path / "shard_c")
    build_ivfpq_index(c, ic, cents, books)
    st = merge_vector_indexes(spark, ia, ic, table="codes")
    assert st["copied"] == ["d1"] and st["n_rows_added"] == c.count()
    assert _batch_tags(ia + "/codes") == ["base", "d1"]
    abc = ab.union(c)
    want_abc = union_serve(abc)
    assert serve() == want_abc

    # compact again: back to a lone base, serve unchanged, and no
    # .merge-tmp / .swap-old / .compact-tmp residue anywhere
    stats2 = compact_vector_index(spark, ia, table="codes")
    assert stats2["codes"]["compacted"]
    assert _batch_tags(ia + "/codes") == ["base"]
    assert serve() == want_abc
    residue = [
        d
        for d in os.listdir(ia + "/codes")
        if d.startswith(".merge-tmp") or d.startswith(".")
    ] + [
        d
        for d in os.listdir(str(tmp_path))
        if d.endswith(".swap-old") or d.endswith(".compact-tmp")
    ]
    assert residue == [], residue


if __name__ == "__main__":
    raise SystemExit(pytest.main([__file__, "-x", "-q"]))
