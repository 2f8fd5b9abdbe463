"""Process-wide memo for immutable unresolved Column trees.

Driver-side py4j expression construction is a real cost at bench and
production-session scale: every Column operation is one synchronous
py4j roundtrip (~0.1-1 ms depending on host), so a builder that
assembles a few hundred expression nodes burns 0.1-1+ s of pure
driver time PER CALL — per bench rep, per streaming start, per sweep
entry (r14 measured text_profile_col at ~0.8 s/call; the committed
r15 interleaved A/B, plans/r15/ab_expr_memo.json, measured the memo
1.80x faster on q_dedup_minhash_lsh, 1.61x on q_minhash_calibration
and a wash on q_pretrain_pipeline). An unresolved Column is an
immutable expression tree bound to no plan, so ONE instance can serve
every plan in the process. This module is the shared memo the
per-operator memos (text_profile_named was the first) hang off:

- keys are (gateway_token, *caller key): a restarted JVM gateway in
  the same Python process gets fresh trees instead of stale java refs
  (the _TEXT_PROFILE_MEMO discipline, r14 ADVICE);
- values are Columns or tuples of Columns — never DataFrames, never
  data: memoizing an expression OBJECT cannot change any result, and
  nothing is cached across executions (the plan re-executes from the
  parquet inputs every time it is used).
"""

from __future__ import annotations

from typing import Callable, TypeVar

T = TypeVar("T")

_MEMO: dict[tuple, object] = {}


def _gateway_token() -> int:
    from pyspark import SparkContext

    return id(SparkContext._gateway)


def memo_expr(key: tuple, build: Callable[[], T]) -> T:
    """Return the memoized expression for `key`, building it once per
    (gateway, key). `build` must construct an immutable unresolved
    Column (or tuple thereof) from constants and fixed column NAMES
    only — anything referencing a caller's DataFrame must stay
    per-call."""
    full = (_gateway_token(), *key)
    hit = _MEMO.get(full)
    if hit is None:
        for stale in [k for k in _MEMO if k[0] != full[0]]:
            _MEMO.pop(stale, None)
        hit = build()
        _MEMO[full] = hit
    return hit  # type: ignore[return-value]
