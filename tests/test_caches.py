"""The single cache lifecycle in caches.py: the pin FIFO and the memo
LRU keep their bounds, unpersist what they drop, and drop memos whose
staleness stamp no longer matches the running context."""

from __future__ import annotations

from big_data_engineering_project_spark import caches
from big_data_engineering_project_spark.sources.catalog import load_table


def _persisted(df) -> bool:
    return df.storageLevel.useMemory or df.storageLevel.useDisk


def test_pin_fifo_and_memo_lru_hold_bounds_and_unpersist_evicted(spark):
    caches.clear_all_owned_caches()
    frames = [spark.range(i + 1) for i in range(caches.PIN_BOUND + 1)]
    for df in frames:
        assert caches.pin(df) is df
    assert not _persisted(frames[0]), "the oldest pin is evicted"
    assert all(_persisted(df) for df in frames[1:])
    caches.clear_all_owned_caches()
    assert not any(_persisted(df) for df in frames)

    caches.clear_memos()
    builds = []

    def build(v):
        builds.append(v)
        return v

    first = caches.memo(("t_lru", "frame"), lambda: spark.range(3).persist())
    for i in range(caches.MEMO_BOUND):
        assert caches.memo(("t_lru", i), lambda i=i: build(i)) == i
    assert not _persisted(first), "the least recently used entry is evicted"
    # every later entry is still a hit; the evicted one rebuilds
    builds.clear()
    for i in range(1, caches.MEMO_BOUND):
        caches.memo(("t_lru", i), lambda i=i: build(i))
    assert builds == []
    caches.memo(("t_lru", "frame"), lambda: build("frame"))
    assert builds == ["frame"]
    caches.clear_memos()


def test_stale_stamp_drops_and_unpersists_memo(spark, monkeypatch):
    caches.clear_memos()
    df = caches.memo(("t_stale",), lambda: spark.range(5).persist())
    assert df.count() == 5 and _persisted(df)
    assert caches.memo(("t_stale",), lambda: None) is df
    # a restarted gateway or SparkContext changes the stamp
    monkeypatch.setattr(caches, "_stamp", (object(), object()))
    assert caches.memo(("t_stale",), lambda: "rebuilt") == "rebuilt"
    assert not _persisted(df)
    caches.clear_memos()


def test_new_session_gets_its_own_load_table_frame(spark, sf_dir):
    sibling = spark.newSession()
    sibling.conf.set("spark.sql.session.timeZone", "America/New_York")
    a = load_table(spark, sf_dir, "region")
    b = load_table(sibling, sf_dir, "region")
    assert a is not b
    assert b.sparkSession is sibling
    assert load_table(sibling, sf_dir, "region") is b
    assert load_table(spark, sf_dir, "region") is a
    # each session got its own ensure_engine_confs pass
    assert sibling.conf.get("spark.sql.session.timeZone") == "UTC"
    assert b.count() == a.count()
