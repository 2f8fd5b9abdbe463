"""Data-governance operators: erasure (right-to-be-forgotten)
propagation and audit.

A production warehouse built on the reference's sinks (Hive/Athena
batch tables, DynamoDB keyed upserts — `B/data_warehouse_design.py`,
`S/kinesis_processing_2.py`) must be able to DELETE a subject across
every table that references the subject key, including transitively
(customer -> orders -> lineitem), and prove it did — the GDPR/CCPA
erasure workflow. This module provides the two halves:

- `purge_split`: one relation's rows split into (purged, kept) by a
  tombstone key set — semi/anti joins on the key only, the same
  key-only-exchange discipline as the RI audit.
- `erasure_audit`: the auditable evidence — per relation, total /
  purged / kept row counts and distinct purged keys, each relation
  reduced to ONE row before the union (counters on the exchange,
  never fact rows).

Cascades are expressed by deriving child tombstone sets from parent
purges (`orders of tombstoned customers` -> order-key tombstones for
lineitem); each hop is a key-projected semi join, so the tombstone
frames stay key-sized at any corpus scale. Tombstone sets are usually
tiny — Spark/AQE broadcasts them on its own; no forced broadcast hint
(the frequent_pairs lesson: a hint removes the planner's freedom
exactly when the set ISN'T small).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def purge_split(
    df: DataFrame, key_col: str, tombstones: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Split one relation by tombstone membership: (purged, kept).
    `tombstones` is a single-column key frame. NULL keys are never
    purged (semi join can't match NULL) — they surface in the kept
    side and in the RI audit's null_keys, not here."""
    t = tombstones.select(F.col(tombstones.columns[0]).alias("__tk")).distinct()
    purged = df.join(t, df[key_col] == F.col("__tk"), "left_semi")
    kept = df.join(t, df[key_col] == F.col("__tk"), "left_anti")
    return purged, kept


def erasure_audit(
    relations: list[tuple[str, DataFrame, str, DataFrame]],
) -> DataFrame:
    """Audit evidence for an erasure run: one row per relation with
    total_rows / purged_rows / kept_rows / purged_keys. Each relation
    aggregates to a single row (left join of the key-distinct
    tombstones tags membership, then counters) before the union —
    the exchange carries counts, never fact rows.

    relations: (name, df, key_col, tombstones) — pass DERIVED
    tombstone sets for cascade children (e.g. the order keys of
    tombstoned customers for lineitem).
    """
    parts = []
    for name, df, key_col, tombstones in relations:
        t = (
            tombstones.select(
                F.col(tombstones.columns[0]).alias("__tk"),
                F.lit(1).alias("__hit"),
            )
            .distinct()
        )
        tagged = df.select(F.col(key_col).alias("__k")).join(
            t, F.col("__k") == F.col("__tk"), "left"
        )
        parts.append(
            tagged.agg(
                F.lit(name).alias("relation"),
                F.count(F.lit(1)).alias("total_rows"),
                F.coalesce(F.sum("__hit"), F.lit(0))
                .cast("long")
                .alias("purged_rows"),
                (
                    F.count(F.lit(1)) - F.coalesce(F.sum("__hit"), F.lit(0))
                )
                .cast("long")
                .alias("kept_rows"),
                F.countDistinct(
                    F.when(F.col("__hit") == 1, F.col("__k"))
                ).alias("purged_keys"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def dq_validate(df: DataFrame, rules: list[dict]) -> DataFrame:
    """Declarative data-quality assertion suite (the Great-
    Expectations shape, one pass): evaluate every rule against `df`
    and return one row per rule — (rule, kind, passed, observed,
    threshold). All rules compile into a SINGLE aggregation over one
    scan; nothing is evaluated per-rule-per-pass.

    Rule kinds (dict fields beyond `name`, `col`):
      not_null_rate   max_null_rate: observed null fraction <= bound
      unique          observed = n_rows - n_distinct (0 = unique)
      min_bound/max_bound  bound: observed min/max within bound
      accepted_values vals: observed = # rows OUTSIDE the value set

    `observed` and `threshold` are DOUBLEs; rates are one IEEE
    division of exact counts (mirrored by the oracle); bounds compare
    raw column values. A 100-TB run costs one scan regardless of the
    rule count — the audit twin of profile_table.
    """
    aggs: list = [F.count(F.lit(1)).alias("__n")]
    for i, r in enumerate(rules):
        c, kind = F.col(r["col"]), r["kind"]
        if kind == "not_null_rate":
            aggs.append(
                F.sum(F.when(c.isNull(), 1).otherwise(0)).alias(f"__a{i}")
            )
        elif kind == "unique":
            aggs.append(F.countDistinct(c).alias(f"__a{i}"))
        elif kind == "min_bound":
            aggs.append(F.min(c).cast("double").alias(f"__a{i}"))
        elif kind == "max_bound":
            aggs.append(F.max(c).cast("double").alias(f"__a{i}"))
        elif kind == "accepted_values":
            aggs.append(
                F.sum(
                    F.when(c.isin(*r["vals"]) | c.isNull(), 0).otherwise(1)
                ).alias(f"__a{i}")
            )
        else:
            raise ValueError(f"unknown rule kind {kind!r}")
    one = df.agg(*aggs)
    structs = []
    for i, r in enumerate(rules):
        kind = r["kind"]
        a, n = F.col(f"__a{i}"), F.col("__n")
        if kind == "not_null_rate":
            observed = a.cast("double") / n.cast("double")
            thr = F.lit(float(r["max_null_rate"]))
            passed = observed <= thr
        elif kind == "unique":
            observed = (n - a).cast("double")
            thr = F.lit(0.0)
            passed = observed <= thr
        elif kind == "min_bound":
            observed, thr = a, F.lit(float(r["bound"]))
            passed = observed >= thr
        elif kind == "max_bound":
            observed, thr = a, F.lit(float(r["bound"]))
            passed = observed <= thr
        else:  # accepted_values
            observed = a.cast("double")
            thr = F.lit(0.0)
            passed = observed <= thr
        structs.append(
            F.struct(
                F.lit(r["name"]).alias("rule"),
                F.lit(kind).alias("kind"),
                passed.alias("passed"),
                observed.cast("double").alias("observed"),
                thr.cast("double").alias("threshold"),
            )
        )
    # one row -> explode to one row per rule: a single plan branch, so
    # the scan provably runs once however many rules there are.
    return one.select(F.explode(F.array(*structs)).alias("__r")).select(
        "__r.*"
    )


def k_anonymity_audit(
    df: DataFrame,
    qi_cols: list[str],
    sensitive_col: str,
    k: int,
    l: int = 2,
) -> DataFrame:
    """Privacy-risk audit before a table is shared: k-anonymity and
    l-diversity per quasi-identifier equivalence class (Sweeney 2002;
    Machanavajjhala et al. 2006). A row is re-identifiable when its
    QI combination is shared by < k rows; a class leaks its sensitive
    attribute when it holds < l distinct sensitive values even if it
    is large (the homogeneity attack k-anonymity alone misses).

    Output: one row per equivalence class — (qi_cols..., class_size,
    sensitive_diversity, below_k, below_l) — the release-gate
    evidence table; the release decision is `WHERE below_k OR
    below_l` being empty. Plan: ONE partial-aggregable groupBy over
    the QI columns (count + count distinct sensitive); the exchange
    carries QI values + counters, never full rows — the same
    counters-only discipline as erasure_audit. NULL QI values form
    their own class (NULL-keyed grouping is exactly how a release
    would be joined back); NULL sensitive values count as one
    distinct leak-relevant value.
    """
    return (
        df.groupBy(*qi_cols)
        .agg(
            F.count(F.lit(1)).cast("long").alias("class_size"),
            (
                F.countDistinct(F.col(sensitive_col))
                + F.max(F.col(sensitive_col).isNull().cast("int"))
            )
            .cast("long")
            .alias("sensitive_diversity"),
        )
        .withColumn("below_k", F.col("class_size") < int(k))
        .withColumn("below_l", F.col("sensitive_diversity") < int(l))
    )


def source_quality_gate(
    df: DataFrame,
    id_col: str,
    text_col: str,
    source_col: str,
    min_docs: int,
    min_mean_quality: float,
    max_dup_rate: float,
) -> DataFrame:
    """Source/domain-level curation gate (the RefinedWeb/C4 URL-level
    filtering shape): aggregate per-source quality evidence and PASS/
    FAIL each source against explicit thresholds — corpus curation
    drops whole sources (spam domains, auto-generated mirrors), not
    just individual documents, because source-level signals are far
    more stable than per-doc ones.

    Per source: doc count, mean composite quality (text_analysis.
    quality_score_cols), and exact-duplicate rate (fraction of the
    source's docs whose full-text fingerprint occurs >1 times
    CORPUS-WIDE — a mirror site's docs are duplicated elsewhere, which
    per-source grouping alone would miss). passed = n_docs >=
    min_docs AND mean_quality >= min_mean_quality AND dup_rate <=
    max_dup_rate (small sources fail closed: too little evidence).

    Determinism (hash-compared doubles): per-doc quality is quantized
    onto the 2^20 integer ladder row-locally and SUMMED AS LONGS, so
    the mean is one double division of combine-order-independent
    integers — the AUC-family discipline. Scale shape: quality and
    fingerprint are row-local projections; the dup join ships (source,
    q_int, fp) — 24 bytes a row, never text; the fingerprint count is
    a map-side-combined groupBy; the final per-source rollup is a
    second partial agg. No windows, no driver collects."""
    return source_gate_finish(
        source_gate_state(df, id_col, text_col, source_col),
        min_docs,
        min_mean_quality,
        max_dup_rate,
    )


def source_gate_state(
    df: DataFrame, id_col: str, text_col: str, source_col: str
) -> DataFrame:
    """The gate's MERGEABLE sufficient-statistics frame: one row per
    (source, full-text fingerprint) with doc count and ladder-quality
    sum — counts and sums ADD per cell, so two days' states merge by
    one groupBy-sum and a streaming maintainer folds per-batch states
    the same way (streaming/scd2.py:run_source_gate_stream). The
    fingerprint must stay a CELL KEY (not pre-aggregated away):
    corpus-wide duplicate accounting needs an fp's total across every
    source and every batch, which only the cell granularity preserves
    — a mirror copy arriving three batches later still flips both
    sides to duplicates. State size is O(distinct (source, fp)) ≈
    O(distinct docs) at 32 bytes a row — the price of EXACT
    corpus-wide dup rates; an approximate deployment would swap the
    fp column for a KMV/HLL register per source and accept estimate
    error (sketches.py has both).

    NULL-text docs COUNT toward min_docs: their fingerprint is
    coalesced to the -1 sentinel (the poly hash is mod-P non-negative,
    so -1 cannot collide with a real fingerprint) instead of staying
    NULL, which a downstream equi-join on __fp would silently drop —
    understating a source's n_docs exactly when the corpus carries
    empty-body docs. Two NULL-text docs share the sentinel cell and
    therefore count as corpus-wide duplicates of each other (empty
    bodies are duplicates); their NULL quality contributes nothing to
    __sq, so they dilute mean_quality — both deliberate: junk rows
    should push a source TOWARD failing the gate, not vanish from
    it."""
    from big_data_engineering_project_spark.operators.text_analysis import (
        fingerprint_col,
        quality_score_cols,
    )

    q = quality_score_cols(F.col(text_col))["quality"]
    return (
        df.select(
            F.col(source_col).alias("source"),
            F.floor(q * F.lit(1048576.0)).cast("long").alias("__q"),
            F.coalesce(
                fingerprint_col(F.col(text_col)), F.lit(-1).cast("long")
            ).alias("__fp"),
        )
        .groupBy("source", "__fp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("__n"),
            F.sum("__q").cast("long").alias("__sq"),
        )
    )


def source_gate_finish(
    state: DataFrame,
    min_docs: int,
    min_mean_quality: float,
    max_dup_rate: float,
) -> DataFrame:
    """Gate verdicts from a (possibly merged) state frame — the
    shared finish for the batch operator and the streaming
    maintainer, so stream ≡ batch is the same arithmetic over equal
    states. Corpus-wide fp totals re-aggregate the cell table (never
    the raw docs); every downstream row count is bounded by distinct
    fingerprints."""
    fp_tot = state.groupBy("__fp").agg(F.sum("__n").alias("__n_fp"))
    joined = state.join(fp_tot, "__fp")
    agg = joined.groupBy("source").agg(
        F.sum("__n").cast("long").alias("n_docs"),
        F.sum("__sq").cast("long").alias("__sum_q"),
        F.sum(
            F.when(F.col("__n_fp") > 1, F.col("__n")).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("n_dup_docs"),
    )
    mean_q = F.col("__sum_q").cast("double") / (
        F.col("n_docs").cast("double") * F.lit(1048576.0)
    )
    dup_rate = F.col("n_dup_docs").cast("double") / F.col("n_docs").cast(
        "double"
    )
    return agg.select(
        "source",
        "n_docs",
        mean_q.alias("mean_quality"),
        "n_dup_docs",
        dup_rate.alias("dup_rate"),
        (
            (F.col("n_docs") >= F.lit(int(min_docs)))
            & (mean_q >= F.lit(float(min_mean_quality)))
            & (dup_rate <= F.lit(float(max_dup_rate)))
        ).alias("passed"),
    )
