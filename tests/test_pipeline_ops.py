"""Tests for the round-2 training-pipeline operators: deterministic
sampling/splits, PII redaction, repetition quality signals, KMeans
semantic clustering."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from big_data_engineering_project_spark.operators import redaction, sampling
from big_data_engineering_project_spark.operators.text_analysis import (
    repetition_scores,
)
from big_data_engineering_project_spark.sources.catalog import load_table


# --- sampling ----------------------------------------------------------------


def test_split_deterministic_and_partition_invariant(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    a = sampling.with_split(docs, "text").select("doc_id", "split")
    b = sampling.with_split(docs.repartition(13), "text").select("doc_id", "split")
    assert {tuple(r) for r in a.collect()} == {tuple(r) for r in b.collect()}


def test_split_proportions_roughly_80_10_10(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    n = docs.count()
    counts = dict(
        sampling.with_split(docs, "text").groupBy("split").count().collect()
    )
    assert set(counts) == {"train", "val", "test"}
    assert counts["train"] / n > 0.6  # hash buckets ≈ uniform
    assert counts["val"] / n < 0.25 and counts["test"] / n < 0.25


def test_stratified_sample_nested_and_exact(spark, sf_dir):
    """Lowering a rate keeps a SUBSET (nested samples), and rate=1/0
    keep-all/drop-all semantics are exact."""
    docs = load_table(spark, sf_dir, "documents")
    half = sampling.stratified_sample(docs, "text", "source", {}, default_rate=0.5)
    quarter = sampling.stratified_sample(
        docs, "text", "source", {}, default_rate=0.25
    )
    half_ids = {r["doc_id"] for r in half.select("doc_id").collect()}
    quarter_ids = {r["doc_id"] for r in quarter.select("doc_id").collect()}
    assert quarter_ids <= half_ids
    assert (
        sampling.stratified_sample(docs, "text", "source", {}, 1.0).count()
        == docs.count()
    )
    assert sampling.stratified_sample(docs, "text", "source", {}, 0.0).count() == 0


def test_stratified_rate_threshold_is_integer(spark):
    """rate=0.07 keeps buckets 0..6 exactly — the float product
    0.07*100 == 7.000000000000001 would admit bucket 7 (8% kept)."""
    df = spark.createDataFrame([Row(id=i, src="a", t=f"uniq {i}") for i in range(3000)])
    kept = sampling.stratified_sample(df, "t", "src", {"a": 0.07})
    kept_buckets = {
        r["b"]
        for r in kept.select(
            sampling.hash_bucket_col(F.col("t")).alias("b")
        ).distinct().collect()
    }
    assert kept_buckets == set(range(7))


def test_stratified_tiny_nonzero_rate_keeps_one_bucket(spark):
    """A nonzero rate below the 1/N_BUCKETS granularity clamps UP to
    one bucket — banker's rounding would quantize 0.005 to ZERO
    buckets and a requested 0.5% sample would silently keep nothing."""
    df = spark.createDataFrame([Row(id=i, src="a", t=f"uniq {i}") for i in range(3000)])
    kept = sampling.stratified_sample(df, "t", "src", {"a": 0.005})
    kept_buckets = {
        r["b"]
        for r in kept.select(
            sampling.hash_bucket_col(F.col("t")).alias("b")
        ).distinct().collect()
    }
    assert kept_buckets == {0}  # exactly one bucket (~1%), never empty
    assert sampling.stratified_sample(df, "t", "src", {"a": 0.0}).count() == 0


def test_stratified_per_stratum_rates(spark):
    df = spark.createDataFrame(
        [Row(id=i, src="a" if i % 2 else "b", t=f"doc number {i} words") for i in range(200)]
    )
    kept = sampling.stratified_sample(df, "t", "src", {"a": 1.0, "b": 0.0})
    srcs = {r["src"] for r in kept.select("src").distinct().collect()}
    assert srcs == {"a"}
    assert kept.count() == df.filter("src = 'a'").count()


# --- PII redaction -----------------------------------------------------------


def test_redaction_patterns(spark):
    rows = [
        Row(id=1, t="mail me at jo.doe+x@corp.example.org today"),
        Row(id=2, t="call 555-123-4567 or 555.987.6543 now"),
        Row(id=3, t="server at 192.168.1.254 went down"),
        Row(id=4, t="clean text with no pii at all"),
        Row(id=5, t="a@b.co and 1.2.3.4 and 111-222-3333"),
    ]
    got = {
        r["id"]: (r["redacted"], r["n_pii"])
        for r in redaction.redact(spark.createDataFrame(rows), "t").collect()
    }
    assert got[1] == ("mail me at <EMAIL> today", 1)
    assert got[2] == ("call <PHONE> or <PHONE> now", 2)
    assert got[3] == ("server at <IP> went down", 1)
    assert got[4] == ("clean text with no pii at all", 0)
    assert got[5] == ("<EMAIL> and <IP> and <PHONE>", 3)


def test_redaction_email_wins_over_ip_inside_address(spark):
    # Dotted digits inside an email domain must be consumed by the
    # EMAIL pattern (application order), not double-redacted as an IP.
    df = spark.createDataFrame([Row(id=1, t="x user@10.0.0.example.com y")])
    r = redaction.redact(df, "t").first()
    assert r["redacted"] == "x <EMAIL> y"
    assert r["n_pii"] == 1


# --- repetition signals ------------------------------------------------------


def test_repetition_scores_known_values(spark):
    df = spark.createDataFrame(
        [
            # tokens: a a b → repeated {a:2}/3; 2-grams: "a a","a b" → top 1/2
            Row(id=1, t="a a b"),
            # all distinct → 0.0; 2-grams all distinct → 1/3
            Row(id=2, t="p q r s"),
            # single token → no 2-grams → top_2gram_frac 0.0
            Row(id=3, t="solo"),
            # fully repeated: "x x x" → 3/3; grams "x x"×2 → 1.0
            Row(id=4, t="x x x"),
        ]
    )
    got = {
        r["id"]: (r["repeated_token_frac"], r["top_2gram_frac"])
        for r in repetition_scores(df, "id", "t").collect()
    }
    assert got[1] == (2 / 3, 1 / 2)
    assert got[2] == (0.0, 1 / 3)
    assert got[3] == (0.0, 0.0)
    assert got[4] == (1.0, 1.0)


# --- kmeans ------------------------------------------------------------------


def test_kmeans_deterministic_and_covering(spark, sf_dir):
    from big_data_engineering_project_spark.ml import kmeans_assignments

    emb = load_table(spark, sf_dir, "embeddings")
    a = kmeans_assignments(emb, k=4, seed=7)
    b = kmeans_assignments(emb, k=4, seed=7)
    assert {tuple(r) for r in a.collect()} == {tuple(r) for r in b.collect()}
    assert a.count() == emb.count()
    assert a.select("cluster").distinct().count() == 4


def test_kmeans_beats_arbitrary_partition(spark, sf_dir):
    """Fixture labels are NOT geometric blocks (within-label cosine ≈
    cross-label), so purity is meaningless; the real invariant is that
    Lloyd's converged assignment has lower within-cluster SSE than an
    arbitrary equal-ish partition of the same points (label % k)."""
    import numpy as np

    from big_data_engineering_project_spark.ml import kmeans_assignments

    emb = load_table(spark, sf_dir, "embeddings")
    k = 4
    rows = (
        kmeans_assignments(emb, k=k, seed=7)
        .join(emb.select("vec_id", "label", "embedding"), "vec_id")
        .collect()
    )
    X = np.array([r["embedding"] for r in rows])

    def sse(groups: np.ndarray) -> float:
        return sum(
            float(((X[groups == g] - X[groups == g].mean(axis=0)) ** 2).sum())
            for g in np.unique(groups)
        )

    kmeans_sse = sse(np.array([r["cluster"] for r in rows]))
    arbitrary_sse = sse(np.array([r["label"] % k for r in rows]))
    assert kmeans_sse < arbitrary_sse


def test_tfidf_top_terms_hand_checked(spark):
    """3-doc corpus: a corpus-wide term scores tf·N/df = tf·3/3 = tf;
    a doc-unique term scores tf·3/1 = 3·tf and outranks it."""
    from pyspark.sql import Row

    from big_data_engineering_project_spark.operators.text_analysis import (
        tfidf_top_terms,
    )

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="common rare rare"),
            Row(doc_id=2, text="common common shared"),
            Row(doc_id=3, text="common shared"),
        ]
    )
    got = {
        (r["doc"], r["term"]): (r["tf"], r["df"], r["score"])
        for r in tfidf_top_terms(docs, "doc_id", "text", k=2).collect()
    }
    # doc 1: rare tf=2 df=1 → 2*3/1=6.0 beats common tf=1 df=3 → 1.0
    assert got[(1, "rare")] == (2, 1, 6.0)
    assert got[(1, "common")] == (1, 3, 1.0)
    # doc 2: common tf=2 → 2.0; shared tf=1 df=2 → 1.5
    assert got[(2, "common")] == (2, 3, 2.0)
    assert got[(2, "shared")] == (1, 2, 1.5)
    # k=2 cap holds per doc
    assert len([k for k in got if k[0] == 3]) == 2


def test_bpe_token_count_split_semantics(spark):
    """BPE-ish counting: letter runs are one token, each digit is its
    own token, punctuation marks count individually, whitespace never
    counts — the GPT-2-style pre-tokenization billing shape."""
    from big_data_engineering_project_spark.operators.text_analysis import (
        bpe_token_count_col,
    )

    rows = [
        Row(t="hello world", want=2),        # two letter runs
        Row(t="abc123", want=4),             # run + 3 digit tokens
        Row(t="a-b.c", want=5),              # letters + 2 marks... a,-,b,.,c
        Row(t="", want=0),
        Row(t="  \t\n", want=0),             # whitespace only
        Row(t="price: $9.99!", want=8),      # price,:,$,9,.,9,9,!
    ]
    df = spark.createDataFrame(rows)
    got = df.select(
        "want", bpe_token_count_col(F.col("t")).alias("got")
    ).collect()
    for r in got:
        assert r["got"] == r["want"], r


def test_bpe_counts_at_least_whitespace_counts(spark, sf_dir):
    """On any corpus the BPE-ish count ≥ the whitespace count per doc
    (splitting only refines): pinned on the fixture."""
    from big_data_engineering_project_spark.operators.dedup import tokens_col
    from big_data_engineering_project_spark.operators.text_analysis import (
        bpe_token_count_col,
    )

    docs = load_table(spark, sf_dir, "documents")
    bad = docs.select(
        bpe_token_count_col(F.col("text")).alias("bpe"),
        F.size(tokens_col(F.col("text"))).cast("long").alias("ws"),
    ).filter(F.col("bpe") < F.col("ws"))
    assert bad.count() == 0


# --- benchmark decontamination ------------------------------------------------


def test_contamination_report_hand_checked(spark):
    """T1 shares {“a b c”} with E1 (1 of its 2 shingles, frac 0.5);
    T2 shares shingles with BOTH eval docs and every one of its 3
    shingles is contaminated (frac 1.0); T3 overlaps nothing and must
    be absent from the report."""
    from big_data_engineering_project_spark.operators.dedup import (
        contamination_report,
    )

    train = spark.createDataFrame(
        [
            Row(doc_id=1, text="a b c x"),
            Row(doc_id=2, text="a b c d e"),
            Row(doc_id=3, text="z z z z"),
        ]
    )
    ev = spark.createDataFrame(
        [Row(doc_id=100, text="a b c d"), Row(doc_id=101, text="c d e f")]
    )
    rep = {
        r["doc"]: r
        for r in contamination_report(train, ev, "doc_id", "text").collect()
    }
    assert set(rep) == {1, 2}
    assert rep[1]["n_shared_shingles"] == 1
    assert rep[1]["n_eval_docs"] == 1
    assert rep[1]["contaminated_frac"] == 0.5
    # T2: shingles {abc, bcd, cde}; E1 holds {abc, bcd}, E2 holds {cde}.
    assert rep[2]["n_shared_shingles"] == 3
    assert rep[2]["n_eval_docs"] == 2
    assert rep[2]["contaminated_frac"] == 1.0


def test_contamination_plan_broadcasts_eval_side(spark, sf_dir):
    """The eval inverted index must be on the broadcast side — the
    corpus scan joins it without a shuffle of the train side."""
    from big_data_engineering_project_spark.operators import dedup as dd
    from big_data_engineering_project_spark.operators.sampling import with_split

    docs = with_split(load_table(spark, sf_dir, "documents"), "text")
    rep = dd.contamination_report(
        docs.filter(F.col("split") == "train"),
        docs.filter(F.col("split") == "test"),
        "doc_id",
        "text",
    )
    plan = rep._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


# --- corpus statistics (unigram-LM proxy, collocations) -----------------------


def test_mean_token_freq_hand_checked(spark):
    """Corpus: d1='a a b', d2='b c' → counts a=2 b=2 c=1, N=5.
    d1 occurrences (a,a,b) → sum_freq 6, mean 6/(3·5)=0.4;
    d2 (b,c) → sum_freq 3, mean 3/(2·5)=0.3."""
    from big_data_engineering_project_spark.operators.text_analysis import (
        mean_token_freq,
    )

    docs = spark.createDataFrame(
        [Row(doc_id=1, text="a a b"), Row(doc_id=2, text="b c")]
    )
    rep = {r["doc"]: r for r in mean_token_freq(docs, "doc_id", "text").collect()}
    assert rep[1]["n_toks"] == 3 and rep[1]["sum_freq"] == 6
    assert rep[1]["mean_token_freq"] == 0.4
    assert rep[2]["n_toks"] == 2 and rep[2]["sum_freq"] == 3
    assert rep[2]["mean_token_freq"] == 0.3


def test_collocations_hand_checked(spark):
    """'x y x y x y' → bigrams xy=3, yx=2; W=6, B=5, c_x=c_y=3.
    lift(xy) = 3/5 · 6/3 · 6/3 = 2.4; yx = 2/5 · 2 · 2 = 1.6."""
    from big_data_engineering_project_spark.operators.text_analysis import (
        collocations,
    )

    docs = spark.createDataFrame([Row(doc_id=1, text="x y x y x y")])
    rows = collocations(docs, "text", min_count=2, k=5).collect()
    by_pair = {(r["term_a"], r["term_b"]): r for r in rows}
    assert by_pair[("x", "y")]["n_ab"] == 3
    assert abs(by_pair[("x", "y")]["lift"] - 2.4) < 1e-12
    assert by_pair[("y", "x")]["n_ab"] == 2
    assert abs(by_pair[("y", "x")]["lift"] - 1.6) < 1e-12
    # ranked by lift: xy first
    assert rows[0]["term_a"] == "x"


def test_collocations_min_count_floor(spark):
    """A pair appearing once (hapax pathology) is dropped."""
    from big_data_engineering_project_spark.operators.text_analysis import (
        collocations,
    )

    docs = spark.createDataFrame([Row(doc_id=1, text="p q p q rare pair")])
    pairs = {
        (r["term_a"], r["term_b"])
        for r in collocations(docs, "text", min_count=2, k=10).collect()
    }
    assert ("rare", "pair") not in pairs
    assert ("p", "q") in pairs


# --- mixing weights / sequence packing ---------------------------------------


def test_mixing_weights_sum_to_one_and_flatten(spark):
    rows = [Row(src="big", n=900), Row(src="small", n=100)]
    df = spark.createDataFrame(rows)
    out = {
        r["src"]: r for r in sampling.mixing_weights(df, "src", "n").collect()
    }
    total = out["big"]["weight"] + out["small"]["weight"]
    assert abs(total - 1.0) < 1e-12
    # α=0.5 tempering: the small stratum is upweighted vs its raw share
    assert out["small"]["weight"] > 0.1
    assert out["big"]["weight"] < 0.9
    # exact: w_small = sqrt(.1)/(sqrt(.9)+sqrt(.1))
    import math
    expect = math.sqrt(0.1) / (math.sqrt(0.9) + math.sqrt(0.1))
    assert abs(out["small"]["weight"] - expect) < 1e-12


def test_budget_mix_select_greedy_exact(spark):
    # en: docs 1..4 of 100 tokens; de: docs 5..6 of 50; xx: untargeted
    rows = [
        Row(doc_id=1, lang="en", n=100),
        Row(doc_id=2, lang="en", n=100),
        Row(doc_id=3, lang="en", n=100),
        Row(doc_id=4, lang="en", n=100),
        Row(doc_id=5, lang="de", n=50),
        Row(doc_id=6, lang="de", n=50),
        Row(doc_id=7, lang="xx", n=10),
    ]
    df = spark.createDataFrame(rows)
    # budget 500, en @ 500000 ppm -> 250 toks, de @ 100000 ppm -> 50 toks
    sel = sampling.budget_mix_select(
        df, "lang", "doc_id", "n", {"en": 500_000, "de": 100_000}, 500
    ).collect()
    got = {(r["stratum"], r["id"]): r for r in sel}
    # en: tok_before 0,100,200 < 250 -> docs 1,2,3 (3 crosses, included)
    assert {k for k in got if k[0] == "en"} == {("en", 1), ("en", 2), ("en", 3)}
    # de: tok_before 0 < 50 -> doc 5 only (6 has before=50, not < 50)
    assert {k for k in got if k[0] == "de"} == {("de", 5)}
    # untargeted stratum excluded entirely
    assert not [k for k in got if k[0] == "xx"]
    assert got[("en", 3)]["tok_before"] == 200
    assert got[("en", 3)]["stratum_budget"] == 250


def test_budget_mix_select_bucket_size_invariance(spark):
    rows = [
        Row(doc_id=i, lang="en" if i % 2 else "de", n=(i * 7) % 13 + 1)
        for i in range(1, 60)
    ]
    df = spark.createDataFrame(rows)
    t = {"en": 600_000, "de": 400_000}
    a = sorted(
        (r["stratum"], r["id"], r["tok_before"])
        for r in sampling.budget_mix_select(
            df, "lang", "doc_id", "n", t, 120, bucket_size=4
        ).collect()
    )
    b = sorted(
        (r["stratum"], r["id"], r["tok_before"])
        for r in sampling.budget_mix_select(
            df, "lang", "doc_id", "n", t, 120, bucket_size=4096
        ).collect()
    )
    assert a == b and len(a) > 0


def test_padding_waste_exact_and_sorted_wins(spark):
    # lengths: 10,1,10,1 — arrival batches (10,1),(10,1): pad 9+9=18
    # length_sorted batches (1,1),(10,10): pad 0
    rows = [
        Row(doc_id=1, n=10),
        Row(doc_id=2, n=1),
        Row(doc_id=3, n=10),
        Row(doc_id=4, n=1),
    ]
    out = {
        r["strategy"]: r
        for r in sampling.padding_waste(
            spark.createDataFrame(rows), "doc_id", "n", 2
        ).collect()
    }
    assert out["arrival"]["real_tokens"] == 22
    assert out["arrival"]["pad_slots"] == 18
    assert out["arrival"]["n_batches"] == 2
    assert out["length_sorted"]["pad_slots"] == 0
    assert abs(out["arrival"]["waste_frac"] - 18 / 40) < 1e-15


def test_padding_waste_remainder_batch(spark):
    # 3 docs, batch of 2: last batch has 1 doc -> zero pad for it
    rows = [Row(doc_id=1, n=5), Row(doc_id=2, n=3), Row(doc_id=3, n=7)]
    out = {
        r["strategy"]: r
        for r in sampling.padding_waste(
            spark.createDataFrame(rows), "doc_id", "n", 2
        ).collect()
    }
    # arrival: (5,3) pad 2; (7) pad 0
    assert out["arrival"]["pad_slots"] == 2
    assert out["arrival"]["n_batches"] == 2
    # sorted: (3,5) pad 2; (7) pad 0
    assert out["length_sorted"]["pad_slots"] == 2


def test_pack_assignments_spans(spark):
    rows = [
        Row(shard="a", doc_id=1, n=100),
        Row(shard="a", doc_id=2, n=28),     # fills pack 0 exactly
        Row(shard="a", doc_id=3, n=130),    # spans packs 1-2
        Row(shard="b", doc_id=1, n=5),      # other shard restarts at 0
    ]
    df = spark.createDataFrame(rows)
    out = {
        (r["shard"], r["doc_id"]): (r["start_pack"], r["start_offset"], r["end_pack"])
        for r in sampling.pack_assignments(
            df, "doc_id", "n", budget=128, shard_cols=("shard",)
        ).collect()
    }
    assert out[("a", 1)] == (0, 0, 0)
    assert out[("a", 2)] == (0, 100, 0)     # 100+28 = 128, ends at budget edge
    assert out[("a", 3)] == (1, 0, 2)       # starts clean on pack 1, spans 2
    assert out[("b", 1)] == (0, 0, 0)


def test_pack_budget_edge_no_empty_straddle(spark):
    # doc ending exactly at a pack boundary must NOT claim the next pack
    rows = [Row(shard="a", doc_id=1, n=128), Row(shard="a", doc_id=2, n=1)]
    df = spark.createDataFrame(rows)
    out = {
        r["doc_id"]: (r["start_pack"], r["end_pack"])
        for r in sampling.pack_assignments(
            df, "doc_id", "n", budget=128, shard_cols=("shard",)
        ).collect()
    }
    assert out[1] == (0, 0)
    assert out[2] == (1, 1)


def test_pack_assignments_drops_zero_token_docs(spark):
    # n_toks = 0 has no coherent placement (end_pack < start_pack, -1 at
    # shard start) — the operator drops such docs instead of emitting
    # negative pack indexes, and neighbors pack as if they were absent.
    rows = [
        Row(shard="a", doc_id=1, n=0),
        Row(shard="a", doc_id=2, n=100),
        Row(shard="a", doc_id=3, n=0),
        Row(shard="a", doc_id=4, n=30),
    ]
    df = spark.createDataFrame(rows)
    out = {
        r["doc_id"]: (r["start_pack"], r["start_offset"], r["end_pack"])
        for r in sampling.pack_assignments(
            df, "doc_id", "n", budget=128, shard_cols=("shard",)
        ).collect()
    }
    assert set(out) == {2, 4}
    assert out[2] == (0, 0, 0)
    assert out[4] == (0, 100, 1)


def test_editdist_threshold_banded_contract(spark):
    # The -1-above-τ contract q_editdist_neardups relies on: with the
    # threshold argument, levenshtein runs the banded DP and returns -1
    # for any pair strictly above τ, the exact distance otherwise.
    tau = 2
    df = spark.createDataFrame(
        [
            ("kitten", "kitten", 0),
            ("kitten", "sitten", 1),
            ("kitten", "sittin", 2),      # == τ: kept, exact value
            ("kitten", "sitting", -1),    # τ+1: banded DP bails to -1
        ],
        "a string, b string, expect int",
    )
    got = df.select(
        "expect", F.levenshtein("a", "b", tau).alias("d")
    ).collect()
    for r in got:
        assert r["d"] == r["expect"], (r["d"], r["expect"])


def test_editdist_neardups_planted_pair(spark, tmp_path):
    # End-to-end through the registered query: identical docs (distance
    # 0, same simhash bucket) are reported; a doc τ' > τ edits away from
    # everything reports nothing. The filler docs give the bucket join
    # negatives to reject.
    from big_data_engineering_project_spark.plans.queries_pipeline import (
        q_editdist_neardups,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        Row(doc_id=1, text=base, lang="en", source="s", n_chars=len(base)),
        Row(doc_id=2, text=base, lang="en", source="s", n_chars=len(base)),
        Row(
            doc_id=3,
            text="completely different content about spark query engines",
            lang="en",
            source="s",
            n_chars=54,
        ),
    ]
    spark.createDataFrame(rows).select(
        "doc_id", "text", "lang", "source", "n_chars"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = {
        (r["doc_a"], r["doc_b"]): r["dist"]
        for r in q_editdist_neardups(spark, str(tmp_path)).collect()
    }
    assert got == {(1, 2): 0}


def test_bigram_min_prob_hand_checked(spark):
    # Corpus: "a b", "a b", "a c d" →
    # bigrams: (a,b)×2, (a,c)×1, (c,d)×1; c(a·)=3, c(c·)=1
    # P(b|a)=2/3, P(c|a)=1/3, P(d|c)=1
    from big_data_engineering_project_spark.operators.text_analysis import (
        bigram_min_prob,
    )

    df = spark.createDataFrame(
        [Row(i=1, txt="a b"), Row(i=2, txt="a b"), Row(i=3, txt="a c d"),
         Row(i=4, txt="solo")],  # <2 tokens: absent from output
    )
    got = {
        r["doc"]: (r["n_distinct_bigrams"], r["min_bigram_p"])
        for r in bigram_min_prob(df, "i", "txt").collect()
    }
    assert set(got) == {1, 2, 3}
    assert got[1] == (1, 2 / 3)
    assert got[2] == (1, 2 / 3)
    assert got[3] == (2, 1 / 3)  # min(P(c|a)=1/3, P(d|c)=1)


def test_importance_weights_hand_checked(spark):
    # target: doc 1 ("x x y"); corpus adds doc 2 ("y z").
    # c_all: x=2, y=2, z=1 (N_all=5); c_tgt: x=2, y=1, z=0 (N_tgt=3)
    # doc1: dot_t = 2·2+1·1 = 5, dot_all = 2·2+1·2 = 6
    #   weight = (5/3)/(6/5) = 25/18
    # doc2: dot_t = 1·1+1·0 = 1, dot_all = 1·2+1·1 = 3
    #   weight = (1/3)/(3/5) = 5/9
    from big_data_engineering_project_spark.operators.text_analysis import (
        importance_weights,
    )

    df = spark.createDataFrame(
        [Row(i=1, txt="x x y", tgt=True), Row(i=2, txt="y z", tgt=False)]
    )
    got = {
        r["doc"]: (r["n_toks"], r["dot_target"], r["dot_all"], r["weight"])
        for r in importance_weights(df, "i", "txt", "tgt").collect()
    }
    assert got[1] == (3, 5, 6, (5 / 3) / (6 / 5))
    assert got[2] == (2, 1, 3, (1 / 3) / (3 / 5))


def test_importance_weights_empty_target_yields_null(spark):
    """Degenerate input guard: with NO target rows (n_tgt = 0) the
    weight must be NULL on both engines — Spark's non-ANSI division
    would return NULL while DuckDB returns inf, so an explicit
    CASE/when pins the cross-engine contract (ADVICE r5)."""
    from big_data_engineering_project_spark.operators.text_analysis import (
        importance_weights,
    )

    df = spark.createDataFrame(
        [Row(i=1, txt="x x y", tgt=False), Row(i=2, txt="y z", tgt=False)]
    )
    rows = importance_weights(df, "i", "txt", "tgt").collect()
    assert len(rows) == 2
    assert all(r["weight"] is None for r in rows)
    assert all(r["dot_target"] == 0 for r in rows)


def test_chunk_documents_offsets_and_overlap(spark):
    # 10 tokens, chunk 4, overlap 1 → stride 3 → starts 0,3,6,9
    from big_data_engineering_project_spark.operators.text_analysis import (
        chunk_documents,
    )

    txt = "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9"
    df = spark.createDataFrame([Row(i=1, txt=txt), Row(i=2, txt="a"),
                                Row(i=3, txt="   ")])  # doc 3: no tokens
    got = {
        (r["doc"], r["chunk_idx"]): (
            r["start_tok"], r["n_toks_chunk"], r["chunk_text"]
        )
        for r in chunk_documents(df, "i", "txt", 4, 1).collect()
    }
    assert got[(1, 0)] == (0, 4, "t0 t1 t2 t3")
    assert got[(1, 1)] == (3, 4, "t3 t4 t5 t6")
    assert got[(1, 2)] == (6, 4, "t6 t7 t8 t9")
    assert got[(1, 3)] == (9, 1, "t9")        # short last chunk
    assert got[(2, 0)] == (0, 1, "a")
    assert {d for d, _ in got} == {1, 2}       # empty doc absent
    import pytest as _pytest
    with _pytest.raises(ValueError):
        chunk_documents(df, "i", "txt", 4, 4)


def test_sliding_dup_coverage_shifted_duplicate(spark):
    # Doc A: w0..w19 (20 tokens). Doc B embeds A's tokens w2..w11 at a
    # DIFFERENT offset (after 3 junk tokens). With k=8, the shared
    # 10-token run yields repeated grams starting at A-positions 2,3,4
    # → interval union [2, 12) → 10 covered positions → coverage 0.5.
    # Fixed 10-token segments would MISS this (different alignment).
    from big_data_engineering_project_spark.operators.dedup import (
        sliding_dup_coverage,
    )

    a_toks = [f"w{i}" for i in range(20)]
    shared = a_toks[2:12]
    b_toks = ["x1", "x2", "x3"] + shared + ["y1", "y2"]
    df = spark.createDataFrame(
        [
            Row(i=1, txt=" ".join(a_toks)),
            Row(i=2, txt=" ".join(b_toks)),
            Row(i=3, txt="unique tokens only here nothing repeats at all ever"),
            Row(i=4, txt="too short"),  # < k tokens: absent
        ]
    )
    got = {
        r["doc"]: (r["n_toks"], r["n_dup_grams"], r["n_covered"],
                   r["dup_coverage"])
        for r in sliding_dup_coverage(df, "i", "txt", k=8).collect()
    }
    assert set(got) == {1, 2, 3}
    assert got[1] == (20, 3, 10, 0.5)
    # B: 15 tokens, repeated grams start at 3,4,5 → union [3, 13) = 10
    assert got[2] == (15, 3, 10, 10 / 15)
    assert got[3] == (9, 0, 0, 0.0)


def test_dup_span_excision_cuts_shared_passage(spark):
    # Same fixture geometry as the coverage test: doc A w0..w19, doc B
    # embeds A's w2..w11 at a different offset. Excision must cut
    # exactly the covered interval-union from BOTH docs and stitch the
    # remainder back together in order.
    from big_data_engineering_project_spark.operators.dedup import (
        dup_span_excision,
    )

    a_toks = [f"w{i}" for i in range(20)]
    shared = a_toks[2:12]
    b_toks = ["x1", "x2", "x3"] + shared + ["y1", "y2"]
    df = spark.createDataFrame(
        [
            Row(i=1, txt=" ".join(a_toks)),
            Row(i=2, txt=" ".join(b_toks)),
            Row(i=3, txt="unique tokens only here nothing repeats at all ever"),
            Row(i=4, txt="too short"),  # < k tokens: passes through
        ]
    )
    got = {
        r["doc"]: (r["n_toks"], r["n_kept"], r["cleaned_text"])
        for r in dup_span_excision(df, "i", "txt", k=8).collect()
    }
    assert set(got) == {1, 2, 3, 4}  # EVERY doc present, unlike coverage
    # A: covered [2, 12) excised → w0 w1 then w12..w19
    assert got[1] == (
        20, 10, " ".join(a_toks[:2] + a_toks[12:])
    )
    # B: covered [3, 13) excised → x1 x2 x3 y1 y2
    assert got[2] == (15, 5, "x1 x2 x3 y1 y2")
    assert got[3] == (9, 9, df.collect()[2]["txt"])  # untouched
    assert got[4] == (2, 2, "too short")  # < k: intact


def test_dup_span_excision_identical_docs_empty(spark):
    # Fully-duplicated docs excise to the empty string (not NULL);
    # token counts stay consistent (0 <= n_kept <= n_toks).
    from big_data_engineering_project_spark.operators.dedup import (
        dup_span_excision,
    )

    same = " ".join(f"t{i}" for i in range(12))
    df = spark.createDataFrame(
        [Row(i=1, txt=same), Row(i=2, txt=same),
         Row(i=3, txt="some entirely different and unrepeated sentence "
                      "with many fresh tokens")]
    )
    got = {r["doc"]: r for r in
           dup_span_excision(df, "i", "txt", k=8).collect()}
    assert got[1]["n_kept"] == 0 and got[1]["cleaned_text"] == ""
    assert got[2]["n_kept"] == 0 and got[2]["cleaned_text"] == ""
    assert got[3]["n_kept"] == got[3]["n_toks"]
    for r in got.values():
        assert 0 <= r["n_kept"] <= r["n_toks"]
        assert r["cleaned_text"] is not None


def test_dup_span_excision_interior_gap_preserved(spark):
    # Two disjoint duplicated runs inside one doc leave an interior
    # unique gap that must SURVIVE: doc C = [shared1(8)] + gap(3) +
    # [shared2(8)], where shared1/shared2 each also appear in other
    # docs. Exercises the multi-island gap-slicing path (head gap
    # empty, interior gap kept, tail gap empty).
    from big_data_engineering_project_spark.operators.dedup import (
        dup_span_excision,
    )

    s1 = [f"a{i}" for i in range(8)]
    s2 = [f"b{i}" for i in range(8)]
    gap = ["gap1", "gap2", "gap3"]
    df = spark.createDataFrame(
        [
            Row(i=1, txt=" ".join(s1 + gap + s2)),
            Row(i=2, txt=" ".join(["p1", "p2"] + s1 + ["q1", "q2"])),
            Row(i=3, txt=" ".join(["r1", "r2"] + s2 + ["s1", "s2"])),
        ]
    )
    got = {
        r["doc"]: (r["n_kept"], r["cleaned_text"])
        for r in dup_span_excision(df, "i", "txt", k=8).collect()
    }
    assert got[1] == (3, "gap1 gap2 gap3")
    assert got[2] == (4, "p1 p2 q1 q2")
    assert got[3] == (4, "r1 r2 s1 s2")


def test_compression_ratio_orders_redundancy(spark):
    from big_data_engineering_project_spark.operators.text_analysis import (
        compression_ratio,
    )

    rep = "spam " * 200
    prose = (
        "the quick brown fox jumps over one lazy dog while seventeen "
        "curious zebras wander across quiet meadows under amber skies "
        "gathering scattered acorns beside forgotten wooden fences near "
        "winding rivers that murmur softly through ancient mossy valleys"
    )
    df = spark.createDataFrame(
        [Row(i=1, txt=rep), Row(i=2, txt=prose), Row(i=3, txt=""),
         Row(i=4, txt=None)]
    )
    got = {r["doc"]: r["compression_ratio"]
           for r in compression_ratio(df, "i", "txt").collect()}
    # repetitive text compresses far below prose; empty/null → NULL
    assert got[1] < 0.1 < got[2] < 1.0
    assert got[3] is None and got[4] is None
    # deterministic: identical input → identical output across runs
    again = {r["doc"]: r["compression_ratio"]
             for r in compression_ratio(df, "i", "txt").collect()}
    assert got == again


def test_sliding_dup_coverage_identical_docs_fully_covered(spark):
    # Two identical docs: every gram repeats, coverage exactly 1.0;
    # coverage is always within [0, 1] on mixed corpora.
    from big_data_engineering_project_spark.operators.dedup import (
        sliding_dup_coverage,
    )

    same = " ".join(f"t{i}" for i in range(12))
    df = spark.createDataFrame(
        [Row(i=1, txt=same), Row(i=2, txt=same),
         Row(i=3, txt="some entirely different and unrepeated sentence "
                      "with many fresh tokens")]
    )
    got = {r["doc"]: r for r in
           sliding_dup_coverage(df, "i", "txt", k=8).collect()}
    assert got[1]["dup_coverage"] == 1.0 and got[2]["dup_coverage"] == 1.0
    assert got[1]["n_covered"] == 12
    for r in got.values():
        assert 0.0 <= r["dup_coverage"] <= 1.0
        assert r["n_covered"] <= r["n_toks"]


def test_hll_estimate_within_error_bound(spark):
    """q_hll_distinct_users (open-register replayable HLL, m=4096 →
    rsd ≈ 1.6%): the ACCURACY contract on top of the exact-oracle
    gate (which proves reproducibility, not closeness to the truth):
    the estimate must land within ±10% (~6σ) of the exact distinct
    count for every event type, at two SFs."""
    from big_data_engineering_project_spark.plans import REGISTRY

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        rows = REGISTRY["q_hll_distinct_users"].builder(spark, sf).collect()
        assert len(rows) >= 3
        for r in rows:
            exact, est = r["exact_distinct"], r["hll_estimate"]
            assert exact > 0
            assert abs(est - exact) / exact <= 0.10, (sf, r)


def test_ngram_jaccard_rs_planted_cross_match(spark):
    """R-S incremental dedup: a new doc nearly identical to a corpus
    doc must match across sides; identical pairs WITHIN one side must
    NOT appear (the R-S join never pairs corpus x corpus or new x
    new); jaccard of an exact cross copy is 1.0."""
    from big_data_engineering_project_spark.operators.dedup import (
        ngram_jaccard_rs,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    corpus = spark.createDataFrame(
        [
            (1, base),
            (2, base),  # duplicate INSIDE corpus — must not be output
            (3, "completely different text about spark partitions here"),
        ],
        "doc_id LONG, text STRING",
    )
    new = spark.createDataFrame(
        [
            (100, base),  # exact cross duplicate of 1 and 2
            (101, "unrelated fresh content that matches nothing at all"),
        ],
        "doc_id LONG, text STRING",
    )
    out = {
        (r["new_id"], r["corpus_id"]): r["jaccard"]
        for r in ngram_jaccard_rs(
            new, corpus, "doc_id", "text", threshold=0.5
        ).collect()
    }
    assert set(out) == {(100, 1), (100, 2)}
    assert all(j == 1.0 for j in out.values())


# --- BPE merge training -------------------------------------------------------


def _reference_bpe(texts, n_merges, min_freq=2):
    """Pure-Python Sennrich BPE on the word-frequency table with the
    operator's exact tie-break (freq DESC, left ASC, right ASC) and
    greedy left-to-right merge application."""
    from collections import Counter

    vocab = Counter()
    for t in texts:
        for w in t.lower().split(" "):
            if w:
                vocab[w] += 1
    seqs = {w: list(w) for w in vocab}
    merges = []
    for step in range(n_merges):
        pairs = Counter()
        for w, cnt in vocab.items():
            s = seqs[w]
            for i in range(len(s) - 1):
                pairs[(s[i], s[i + 1])] += cnt
        if not pairs:
            break
        (a, b), f = sorted(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )[0]
        if f < min_freq:
            break
        merges.append((step, a, b, f))
        for w in seqs:
            s, out, i = seqs[w], [], 0
            while i < len(s):
                if i < len(s) - 1 and s[i] == a and s[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            seqs[w] = out
    return merges


def test_bpe_merges_match_reference_implementation(spark):
    """The distributed trainer must reproduce the sequential reference
    EXACTLY — merge order, pairs and frequencies — including greedy
    overlap handling ('aaaa' + merge(a,a) -> [aa, aa], so (aa, aa) can
    become a later merge)."""
    from big_data_engineering_project_spark.operators.text_analysis import (
        bpe_train_merges,
    )

    texts = [
        "the cat sat on the mat",
        "the cats sat on the mats",
        "aaaa aaaa banana bandana",
        "low lower lowest slow slower",
        "the the the at at attic",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [
        (r["step"], r["left"], r["right"], r["freq"])
        for r in bpe_train_merges(df, "text", 10).orderBy("step").collect()
    ]
    want = _reference_bpe(texts, 10)
    assert got == want
    assert len(got) >= 5  # the fixture genuinely trains several merges


def test_bpe_merge_fold_greedy_overlap(spark):
    """_merge_pair_expr applies greedy left-to-right like the
    sequential algorithm: 'aaa' with merge (a,a) -> [aa, a]."""
    from pyspark.sql import functions as F

    from big_data_engineering_project_spark.operators.text_analysis import (
        _merge_pair_expr,
    )

    df = spark.createDataFrame(
        [(["a", "a", "a"],), (["a", "a", "a", "a"],), (["b", "a"],)],
        "syms array<string>",
    )
    out = [
        r["m"]
        for r in df.select(
            _merge_pair_expr(F.col("syms"), "a", "a").alias("m")
        ).collect()
    ]
    assert out == [["aa", "a"], ["aa", "aa"], ["b", "a"]]


def test_doc_lm_cost_hand_computed(spark):
    """Integer bigram costs on a 3-doc corpus: cost = (c_first*1e6)
    div c_ab, per-doc mean with multiplicity = one more integer div."""
    from big_data_engineering_project_spark.operators.text_analysis import (
        doc_lm_cost,
    )

    docs = spark.createDataFrame(
        [(1, "a b"), (2, "a c"), (3, "a b a b"), (4, "solo")],
        "doc_id LONG, text STRING",
    )
    got = {r["doc"]: r for r in doc_lm_cost(docs, "doc_id", "text").collect()}
    # corpus: c(a,b)=3, c(a,c)=1, c(b,a)=1; c_first: a=4, b=1
    cab = (4 * 1_000_000) // 3       # 1333333
    cac = (4 * 1_000_000) // 1       # 4000000
    cba = (1 * 1_000_000) // 1       # 1000000
    assert got[1]["avg_cost_units"] == cab and got[1]["n_bigrams"] == 1
    assert got[2]["avg_cost_units"] == cac
    assert got[3]["n_bigrams"] == 3
    assert got[3]["avg_cost_units"] == (2 * cab + cba) // 3
    assert 4 not in got  # single-token doc has no bigrams


def test_int8_topk_recall_and_quantization(spark, sf_dir):
    """Int8-quantized ranking keeps >= 0.8 recall@10 vs the exact
    cosine top-10 on the fixture; quantized components stay in
    [-127, 127] with at least one hitting +/-127 (the scale anchor);
    zero vectors are dropped."""
    from big_data_engineering_project_spark.operators import similarity
    from big_data_engineering_project_spark.sources.catalog import (
        load_table,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0).select("embedding")
    rest = emb.filter(F.col("vec_id") != 0)
    exact = {
        r["vec_id"]
        for r in similarity.brute_force_topk(rest, query, k=10).collect()
    }
    quant = {
        r["vec_id"]
        for r in similarity.int8_topk(rest, query, k=10).collect()
    }
    assert len(quant) == 10
    assert len(exact & quant) >= 8

    qz = similarity.int8_quantize(rest).limit(50).collect()
    for r in qz:
        assert max(abs(c) for c in r["qvec"]) == 127  # anchor hits the rail
        assert all(-127 <= c <= 127 for c in r["qvec"])

    zero = spark.createDataFrame(
        [(1, [0.0, 0.0, 0.0]), (2, [1.0, 0.0, 0.0])],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    kept = similarity.int8_quantize(zero).collect()
    assert [r["vec_id"] for r in kept] == [2]


def test_arrow_serve_paths_match_expression_folds(spark, sf_dir):
    """The Arrow/numpy serve scorers are pinned BIT-EQUAL to the
    expression-fold reference (r15 §4.2 optimization): int8_topk vs
    the fold `_fold_int8_topk`, on the fixture AND on a
    synthetic frame engineered to hit the rounding edge (components
    whose scaled value is exactly *.5 — Spark round() goes half-away-
    from-zero, numpy's default is half-to-even) and the zero-vector
    drop. The float cosine helper is pinned too, including the
    ANSI zero-denominator error (kept as a reference: the brute
    serve measured FASTER on the fold path, plans/r15/ab_arrow_serve)."""
    from big_data_engineering_project_spark.operators import similarity
    from big_data_engineering_project_spark.sources.catalog import (
        load_table,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0).select("embedding")
    rest = emb.filter(F.col("vec_id") != 0)

    # scale = 4/127; components 1.0 and 3.0 scale to exactly 31.75 /
    # 95.25 (dyadic rationals - exact in binary), exercising the
    # fractional-tie handling; the 4.0 anchor hits the +/-127 rail;
    # vec 3 is all-zero and must drop on both paths.
    synth = spark.createDataFrame(
        [
            (1, [4.0, 1.0, 3.0, -1.0]),
            (2, [2.0, -4.0, 1.0, 0.5]),
            (3, [0.0, 0.0, 0.0, 0.0]),
            (4, [1.0, 1.0, 1.0, 1.0]),
        ],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    sq = spark.createDataFrame(
        [([4.0, 1.0, 3.0, -1.0],)], "embedding ARRAY<DOUBLE>"
    )

    for vectors, q in ((rest, query), (synth, sq)):
        arrow = [tuple(r) for r in similarity.int8_topk(vectors, q, k=10).collect()]
        fold = [
            tuple(r)
            for r in similarity._fold_int8_topk(vectors, q, k=10).collect()
        ]
        assert arrow == fold and len(arrow) > 0

    # float-cosine helper vs the fold brute force (on the non-zero
    # rows: under ANSI SQL — the Spark 4 default the session runs —
    # a zero-norm vector makes BOTH paths raise on the 0.0 divide,
    # so the zero row is excluded here and the raise asserted below)
    nz = synth.filter(F.col("vec_id") != 3)
    exact_fold = [
        tuple(r)
        for r in similarity.brute_force_topk(nz, sq, k=10).collect()
    ]
    exact_arrow = [
        tuple(r)
        for r in similarity._arrow_cosine_topk(
            nz, sq, 10, "vec_id", "embedding"
        ).collect()
    ]
    assert exact_arrow == exact_fold and len(exact_fold) == 3
    import pytest

    for fn in (
        similarity.brute_force_topk,
        lambda v, q, k: similarity._arrow_cosine_topk(
            v, q, k, "vec_id", "embedding"
        ),
    ):
        with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
            fn(synth, sq, 10).collect()


def test_margin_knn_pairs_hub_suppression(spark):
    # A hub y-vector near EVERY x scores high raw cosine but its kNN
    # denominator is also high -> margin ~1; a mutual best pair with a
    # sparse neighborhood gets margin > hub's.
    from big_data_engineering_project_spark.operators import similarity

    def unit(v):
        n = sum(a * a for a in v) ** 0.5
        return [a / n for a in v]

    xs = [
        (0, unit([1.0, 0.0, 0.0, 0.2])),
        (1, unit([0.0, 1.0, 0.0, 0.2])),
        (2, unit([0.0, 0.0, 1.0, 0.2])),
    ]
    ys = [
        (10, unit([1.0, 0.05, 0.0, 0.2])),   # aligned with x0
        (11, unit([0.3, 0.3, 0.3, 0.9])),    # hub: near everything
        (12, unit([0.0, 0.9, 0.1, 0.2])),    # aligned with x1
        (13, unit([0.1, 0.1, 0.8, 0.2])),    # aligned with x2
    ]
    x_df = spark.createDataFrame(xs, "vec_id LONG, embedding ARRAY<DOUBLE>")
    y_df = spark.createDataFrame(ys, "vec_id LONG, embedding ARRAY<DOUBLE>")
    out = similarity.margin_knn_pairs(x_df, y_df, k=2, top_pairs=12).collect()
    assert len(out) == 12
    by_pair = {(r["id_x"], r["id_y"]): r for r in out}
    # aligned pairs out-margin the hub's pairings with the same x
    assert by_pair[(0, 10)]["margin"] > by_pair[(0, 11)]["margin"]
    assert by_pair[(1, 12)]["margin"] > by_pair[(1, 11)]["margin"]
    # margins are finite and the ordering is total
    margins = [(r["margin"], r["id_x"], r["id_y"]) for r in out]
    assert margins == sorted(margins, key=lambda t: (-t[0], t[1], t[2]))


def test_margin_knn_matches_python_reference(spark):
    import itertools

    from big_data_engineering_project_spark.operators import similarity

    import random as _random

    rng = _random.Random(7)
    xs = [(i, [rng.uniform(-1, 1) for _ in range(6)]) for i in range(4)]
    ys = [(100 + i, [rng.uniform(-1, 1) for _ in range(6)]) for i in range(9)]

    def cos(a, b):
        dot = 0.0
        for p, q in zip(a, b):
            dot = dot + p * q
        na = 0.0
        for p in a:
            na = na + p * p
        nb = 0.0
        for q in b:
            nb = nb + q * q
        return dot / ((na ** 0.5) * (nb ** 0.5))

    k = 3
    cc = {(i, j): cos(v, w) for (i, v), (j, w) in itertools.product(xs, ys)}
    from decimal import Decimal

    def dec(x):  # DECIMAL(18,12) cast, like both engines
        return Decimal(x).quantize(Decimal("1e-12"))

    # kNN ties broken by id: (cos desc, id asc) ordering
    sx = {}
    for i, _ in xs:
        ranked = sorted(((cc[(i, j)], -j) for j, _ in ys), reverse=True)[:k]
        sx[i] = sum(dec(c) for c, _ in ranked)
    sy = {}
    for j, _ in ys:
        ranked = sorted(((cc[(i, j)], -i) for i, _ in xs), reverse=True)[:k]
        sy[j] = sum(dec(c) for c, _ in ranked)
    expect = {
        (i, j): cc[(i, j)] / (float(sx[i] + sy[j]) / (2.0 * k))
        for (i, j) in cc
    }
    x_df = spark.createDataFrame(xs, "vec_id LONG, embedding ARRAY<DOUBLE>")
    y_df = spark.createDataFrame(ys, "vec_id LONG, embedding ARRAY<DOUBLE>")
    out = similarity.margin_knn_pairs(x_df, y_df, k=k, top_pairs=36).collect()
    assert len(out) == 36
    for r in out:
        assert abs(r["margin"] - expect[(r["id_x"], r["id_y"])]) < 1e-9


def test_mmr_select_diversifies_and_matches_reference(spark):
    from big_data_engineering_project_spark.operators import similarity

    def unit(v):
        n = sum(a * a for a in v) ** 0.5
        return [a / n for a in v]

    # item 1: best rel; item 2: clone of 1 (high rel, sim~1);
    # item 3: diverse, lower rel. MMR at k=2 must pick 1 then 3.
    cand = [
        ("q", 1, 0.95, unit([1.0, 0.0, 0.05])),
        ("q", 2, 0.94, unit([1.0, 0.01, 0.05])),
        ("q", 3, 0.60, unit([0.0, 1.0, 0.05])),
    ]
    df = spark.createDataFrame(
        cand, "key STRING, item LONG, rel DOUBLE, vec ARRAY<DOUBLE>"
    )
    out = sorted(
        (r["mmr_rank"], r["item"])
        for r in similarity.mmr_select(df, "key", "item", "rel", "vec", 2)
        .collect()
    )
    assert out == [(1, 1), (2, 3)]


def test_mmr_select_python_reference_parity(spark):
    import itertools
    import random as _random

    from big_data_engineering_project_spark.operators import similarity

    rng = _random.Random(11)
    items = [
        (f"k{key}", i, rng.uniform(0, 1),
         [rng.uniform(-1, 1) for _ in range(5)])
        for key in range(2)
        for i in range(8)
    ]

    def cos(a, b):
        dot = 0.0
        for p, q in zip(a, b):
            dot = dot + p * q
        na = 0.0
        for p in a:
            na = na + p * p
        nb = 0.0
        for q in b:
            nb = nb + q * q
        return dot / ((na ** 0.5) * (nb ** 0.5))

    k = 4
    expect = {}
    for key, group in itertools.groupby(
        sorted(items), key=lambda t: t[0]
    ):
        g = list(group)
        vec = {i: v for _, i, _, v in g}
        rel = {i: r for _, i, r, _ in g}
        sel = []
        first = sorted(rel, key=lambda i: (-rel[i], i))[0]
        sel.append((first, 0.5 * rel[first]))
        while len(sel) < k:
            best = None
            for i in rel:
                if i in [s for s, _ in sel]:
                    continue
                mx = max(cos(vec[i], vec[s]) for s, _ in sel)
                sc = 0.5 * rel[i] - 0.5 * mx
                cand_t = (-sc, i)
                if best is None or cand_t < best[0]:
                    best = (cand_t, i, sc)
            sel.append((best[1], best[2]))
        for rank, (i, sc) in enumerate(sel, 1):
            expect[(key, i)] = (rank, sc)

    df = spark.createDataFrame(
        items, "key STRING, item LONG, rel DOUBLE, vec ARRAY<DOUBLE>"
    )
    got = similarity.mmr_select(df, "key", "item", "rel", "vec", k).collect()
    assert len(got) == 2 * k
    for r in got:
        rank, sc = expect[(r["key"], r["item"])]
        assert r["mmr_rank"] == rank
        assert abs(r["mmr_score"] - sc) < 1e-12


def test_embedding_dim_covariance_matches_numpy(spark):
    import numpy as np

    from big_data_engineering_project_spark.operators import similarity

    rng = np.random.default_rng(3)
    m = rng.uniform(-0.6, 0.6, size=(40, 5))
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(m)],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    out = similarity.embedding_dim_covariance(df, dims=5).collect()
    assert len(out) == 15  # upper triangle of 5x5
    ref = np.cov(m, rowvar=False, ddof=1)
    for r in out:
        i, j = r["i"] - 1, r["j"] - 1
        assert r["n"] == 40
        # 2^-40 quantization ladder: error bounded well under 1e-9
        assert abs(r["cov"] - ref[i][j]) < 1e-9


def test_embedding_dim_covariance_partitioning_invariant(spark):
    import numpy as np

    from big_data_engineering_project_spark.operators import similarity

    rng = np.random.default_rng(9)
    m = rng.uniform(-1, 1, size=(64, 4))
    rows = [(i, [float(x) for x in row]) for i, row in enumerate(m)]
    a = similarity.embedding_dim_covariance(
        spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
        .repartition(1),
        dims=4,
    ).collect()
    b = similarity.embedding_dim_covariance(
        spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
        .repartition(16),
        dims=4,
    ).collect()
    assert sorted((r["i"], r["j"], r["cov"]) for r in a) == sorted(
        (r["i"], r["j"], r["cov"]) for r in b
    )


def test_gram_power_iteration_converges_on_gapped_fixture(spark):
    import numpy as np

    from big_data_engineering_project_spark.operators import similarity

    rng = np.random.default_rng(5)
    # spectral gap: vectors = strong direction u + small noise
    u = rng.normal(size=8)
    u /= np.linalg.norm(u)
    m = np.array(
        [2.0 * rng.normal() * u + 0.15 * rng.normal(size=8)
         for _ in range(200)]
    )
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(m)],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    out = similarity.gram_power_iteration(df, dims=8, iters=15).orderBy(
        "i"
    ).collect()
    x = np.array([r["eigvec_q"] for r in out], dtype=float)
    g = m.T @ m
    _, v = np.linalg.eigh(g)
    top = v[:, -1]
    cos = abs(x @ top / (np.linalg.norm(x) * np.linalg.norm(top)))
    assert cos > 0.999


def test_gram_power_iteration_partitioning_invariant(spark):
    import numpy as np

    from big_data_engineering_project_spark.operators import similarity

    rng = np.random.default_rng(17)
    rows = [
        (i, [float(x) for x in rng.uniform(-1, 1, size=6)])
        for i in range(64)
    ]
    a = similarity.gram_power_iteration(
        spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
        .repartition(1),
        dims=6,
        iters=10,
    ).orderBy("i").collect()
    b = similarity.gram_power_iteration(
        spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
        .repartition(16),
        dims=6,
        iters=10,
    ).orderBy("i").collect()
    assert [(r["i"], r["eigvec_q"]) for r in a] == [
        (r["i"], r["eigvec_q"]) for r in b
    ]


def test_bpe_encode_counts_matches_python_reference(spark):
    """Chained merge application (incl. dependent merges th→the,
    an→and) must match a pure-Python greedy reference word-for-word;
    docs with no tokens are absent; counts are per-doc sums over the
    word-level encoding."""
    from big_data_engineering_project_spark.operators.text_analysis import (
        bpe_encode_counts,
    )

    merges = [("t", "h"), ("th", "e"), ("a", "n"), ("an", "d")]

    def ref_word(w):
        syms = list(w)
        for a, b in merges:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return syms

    docs = [
        (1, "the thane and then theather"),
        (2, "band andthe sandhand"),
        (3, "xyz qqq"),
        (4, ""),  # no tokens: absent from output
    ]
    df = spark.createDataFrame(docs, "doc_id LONG, text STRING")
    got = {
        r["doc"]: (r["n_words"], r["n_bpe_tokens"])
        for r in bpe_encode_counts(df, "doc_id", "text", merges).collect()
    }
    for doc_id, text in docs:
        words = [w for w in text.lower().split() if w]
        if not words:
            assert doc_id not in got
            continue
        assert got[doc_id] == (
            len(words),
            sum(len(ref_word(w)) for w in words),
        ), (doc_id, [ref_word(w) for w in words])


def test_mixed_language_report_detects_segment_disagreement(spark):
    """A doc whose first segment votes English and second votes German
    must report majority en (priority tie-break), mix 0.5; pure docs
    report 0.0; an all-marker-free doc votes unknown; empty docs are
    absent. seg_tokens=4 keeps the fixture tiny."""
    from big_data_engineering_project_spark.operators.text_analysis import (
        mixed_language_report,
    )

    rows = [
        # seg1: the and of to (en), seg2: der die und das (de)
        (1, "the and of to der die und das"),
        # pure english, two segments
        (2, "the and of to the is a and"),
        # markers absent entirely -> unknown segments, mix 0.0
        (3, "zzz qqq www rrr"),
        (4, ""),  # absent
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    got = {
        r["doc"]: (
            r["n_segs"], r["majority_lang"], r["n_majority"],
            r["mix_fraction"],
        )
        for r in mixed_language_report(df, "doc_id", "text", 4).collect()
    }
    assert set(got) == {1, 2, 3}
    assert got[1] == (2, "en", 1, 0.5)
    assert got[2] == (2, "en", 2, 0.0)
    assert got[3] == (1, "unknown", 1, 0.0)
