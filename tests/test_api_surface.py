"""Coverage for the small public API combinators that no registered
query routes through — they are part of the importable surface a user
of the engine composes with, so they get direct semantic tests."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Row
from pyspark.sql import functions as F

from big_data_engineering_project_spark.sources.catalog import load_table


def test_date_parts_known_timestamp(spark):
    from big_data_engineering_project_spark.functions.datetime_ops import (
        date_parts,
    )

    df = spark.createDataFrame(
        [Row(ts=dt.datetime(2024, 3, 7, 15, 42, 1))]
    )
    parts = date_parts(F.col("ts"))
    got = df.select(
        *[v.alias(k) for k, v in parts.items()]
    ).first()
    assert (got["year"], got["month"], got["day"], got["hour"]) == (
        2024, 3, 7, 15,
    )


def test_group_sum_and_null_default(spark):
    from big_data_engineering_project_spark.functions.math_ops import (
        null_default,
    )
    from big_data_engineering_project_spark.operators.analytics import group_sum

    df = spark.createDataFrame(
        [Row(k="a", v=1), Row(k="a", v=2), Row(k="b", v=None)]
    )
    got = {
        r["k"]: r["total"]
        for r in group_sum(
            df, "k", null_default(F.col("v"), 0), "total"
        ).collect()
    }
    assert got == {"a": 3, "b": 0}


def test_punct_ratio(spark):
    from big_data_engineering_project_spark.functions.text import punct_ratio

    df = spark.createDataFrame([Row(s="ab,."), Row(s="abcd"), Row(s="")])
    got = [r["p"] for r in df.select(punct_ratio(F.col("s")).alias("p")).collect()]
    assert got[0] == 2 / 4 and got[1] == 0.0 and got[2] == 0.0


def test_detect_anomalies_per_group(spark):
    from big_data_engineering_project_spark.operators.anomaly import (
        detect_anomalies_per_group,
    )

    rows = [Row(g="a", v=float(x)) for x in (10, 11, 9, 10, 11, 9, 100)]
    rows += [Row(g="b", v=float(x)) for x in (5, 5, 5, 5, 6)]
    got = detect_anomalies_per_group(
        spark.createDataFrame(rows), "g", "v", threshold=2.0
    ).collect()
    assert [(r["g"], r["v"]) for r in got] == [("a", 100.0)]


def test_quality_filter_and_serving_query(spark, sf_dir):
    from big_data_engineering_project_spark.operators.serving import (
        quality_filter,
        serving_query,
    )

    df = spark.createDataFrame(
        [
            Row(x="1.5", y="2"),
            Row(x=None, y="2"),
            Row(x="", y="2"),
            Row(x="abc", y="2"),
        ]
    )
    kept = quality_filter(df, ["x", "y"]).collect()
    assert [r["x"] for r in kept] == ["1.5"]

    events = load_table(spark, sf_dir, "events")
    out = serving_query(spark, events)
    assert out.count() > 0
    assert dict(out.dtypes).get("score") == "double"


def test_clear_hashed_memo_unpersists(spark, sf_dir):
    """The shared shingle table is memoized per session and persisted;
    caches.clear_memos() unpersists it and the next call rebuilds."""
    from big_data_engineering_project_spark.caches import clear_memos
    from big_data_engineering_project_spark.plans import queries_pipeline as qp

    hashed = qp._shared_hashed(spark, sf_dir, 3)
    hashed.count()
    assert hashed.storageLevel.useMemory
    assert qp._shared_hashed(spark, sf_dir, 3) is hashed
    clear_memos()
    assert not hashed.storageLevel.useMemory
    assert qp._shared_hashed(spark, sf_dir, 3) is not hashed


def test_default_driver_memory_stays_below_physical_memory(monkeypatch):
    """The driver heap default leaves headroom on this host and on
    small and large ones: half of physical memory, at most 24g."""
    import os

    from big_data_engineering_project_spark import session

    def mb(setting: str) -> int:
        assert setting.endswith("m"), setting
        return int(setting[:-1])

    page, pages = os.sysconf("SC_PAGE_SIZE"), os.sysconf("SC_PHYS_PAGES")
    assert 0 < mb(session.default_driver_memory()) < page * pages // 2**20
    for gib, want in ((2, 1024), (15, 7680), (512, 24 * 1024)):
        phys = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": gib * 2**30 // 4096}
        monkeypatch.setattr(session.os, "sysconf", phys.__getitem__)
        assert mb(session.default_driver_memory()) == want < gib * 1024
