"""The one owner of pinned frames and driver-side memos.

Every module that keeps a frame in executor memory past its own call,
or memoizes a plan or expression on the driver, does it through the
two functions here:

- `pin(df)` persists `df` at the DataFrame default level
  (MEMORY_AND_DISK_DESER: it spills, so a pinned frame is materialized
  once and never recomputed while pinned) and appends it to one FIFO.
  Past `PIN_BOUND` frames the oldest is unpersisted. Operators pin
  internal frames that several branches of a returned lazy plan
  consume — shingle tables, range-shuffled rank frames, graph
  iteration inputs, bounded summaries — because the returned frame
  cannot unpersist what it still reads. Only frames smaller than a
  fact table may be pinned: node/edge, pair, category or summary
  cardinality, never a scan of the corpus. A query may pin fewer than
  `PIN_BOUND` frames, so a builder never evicts its own pins before
  they are read (`tests/test_queries.py` checks this per builder).
- `clear_all_owned_caches()` unpersists every pin. Always safe: a plan
  still referencing a reclaimed frame recomputes it. The bench and
  the oracle sweep call it between queries.
- `memo(key, build)` returns `build()` once per key from one LRU of
  `MEMO_BOUND` entries: unresolved Column trees (py4j construction of
  a large expression costs 0.1-1+ s per builder call; the interleaved
  A/B in plans/r15/ab_expr_memo.json measured 1.80x on
  q_dedup_minhash_lsh), table scan plans, and the persisted shingle
  and split frames several queries share. A key names everything its
  value depends on; a caller whose value belongs to one SparkSession
  puts `id(spark)` in the key (the value references the session, so
  the id cannot be reused while the entry lives).
- The memo is stamped with the identities of the py4j gateway and the
  active SparkContext, read without a py4j call. When either changes
  (a stopped and restarted context), every entry is dropped, since
  its Java handles belong to the old one.
- An entry that is evicted or goes stale is dropped, and unpersisted
  if it is a persisted frame. `clear_memos()` drops them all; it is
  separate from `clear_all_owned_caches()` because re-planning every
  scan and re-shingling per query is the driver cost the memo removes.
"""

from __future__ import annotations

import threading
from collections import OrderedDict, deque
from typing import Callable, TypeVar

from py4j.protocol import Py4JError
from pyspark import SparkContext
from pyspark.sql import DataFrame

T = TypeVar("T")

PIN_BOUND = 8
# A full registry sweep leaves about 30 entries behind.
MEMO_BOUND = 256

_LOCK = threading.RLock()
_PINS: deque[DataFrame] = deque()
_MEMO: OrderedDict[tuple, object] = OrderedDict()
_stamp: tuple = (None, None)


def _unpersist(value: object) -> None:
    if isinstance(value, DataFrame) and value.is_cached:
        try:
            value.unpersist()
        except Py4JError:  # the context that persisted it is gone
            pass


def pin(df: DataFrame) -> DataFrame:
    """Persist `df` (unless it already is) and own it until it is
    evicted or `clear_all_owned_caches()` runs."""
    if not df.is_cached:
        df.persist()
    with _LOCK:
        _PINS.append(df)
        while len(_PINS) > PIN_BOUND:
            _unpersist(_PINS.popleft())
    return df


def clear_all_owned_caches() -> None:
    """Unpersist every pin. Memos survive."""
    with _LOCK:
        while _PINS:
            _unpersist(_PINS.pop())


def memo(key: tuple, build: Callable[[], T]) -> T:
    """The value memoized under `key`, built by `build()` on a miss.
    `build` may call `memo` itself."""
    global _stamp
    with _LOCK:
        gateway, sc = SparkContext._gateway, SparkContext._active_spark_context
        if _stamp[0] is not gateway or _stamp[1] is not sc:
            clear_memos()
            _stamp = (gateway, sc)
        if key in _MEMO:
            _MEMO.move_to_end(key)
            return _MEMO[key]  # type: ignore[return-value]
        value = build()
        _MEMO[key] = value
        while len(_MEMO) > MEMO_BOUND:
            _unpersist(_MEMO.popitem(last=False)[1])
        return value


def clear_memos() -> None:
    """Drop every memo entry, unpersisting persisted frames."""
    with _LOCK:
        while _MEMO:
            _unpersist(_MEMO.popitem()[1])
