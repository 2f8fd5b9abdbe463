"""Per-record stateful stamps over a stream: `applyInPandasWithState`
maps that carry per-key state across micro-batches, checkpointed with
the query, where a window aggregate would only give per-key TOTALS.

- `with_session_idx`: gap-based session index per user;
- `cusum_alarm_stream`: one-sided CUSUM drift alarms per key.

The hot path's running author count (T4, `kinesis_processing_2.py:
42-43,98-100`) is not here: `streaming.pipeline.stamp_author_counts`
folds it in the JVM inside the foreachBatch body, from per-batch
`(author, total)` deltas kept in the checkpoint — a count needs no
per-group Python, and its batch twin is plain `row_number()`.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import LongType, StructField, StructType


def with_session_idx(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    gap_seconds: int,
    order_col: str = "seq",
    out_col: str = "session_idx",
) -> DataFrame:
    """Streaming gap-based sessionization: stamp every record with its
    user's session index, continuing across micro-batches.

    Exact streaming counterpart of `operators.behavior.sessionize`
    (tested stream ≡ batch): per-user state is (last event epoch-µs,
    sessions started so far); each batch the group's rows are walked
    in arrival order and a new session starts when the gap from the
    previous event exceeds `gap_seconds`. State is partitioned by the
    shuffle and checkpointed with the query — unbounded users scale
    horizontally, unlike F.session_window which only yields session
    AGGREGATES (this yields per-record stamps, which window-aggregate
    streaming cannot express).

    At 100 TB-scale streams the state per user is two longs — the
    state store stays tiny no matter the event volume.
    """
    from big_data_engineering_project_spark.sources.catalog import (
        ensure_package_on_executors,
    )

    ensure_package_on_executors(df.sparkSession)
    out_schema = StructType(df.schema.fields + [StructField(out_col, LongType())])
    state_schema = StructType(
        [StructField("last_us", LongType()), StructField("n_sessions", LongType())]
    )
    gap_us = gap_seconds * 1_000_000

    def stamp(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        last_us, n_sessions = state.get if state.exists else (None, 0)
        # Concat-then-sort (not per-chunk): Arrow may split one group's
        # micro-batch into multiple chunks in shuffle-arrival order;
        # cross-chunk ordering must be restored before gap detection or
        # session indexes go wrong for >10k-row user batches.
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks).sort_values(order_col)
            idxs = []
            # normalize to ns before the int cast: Arrow may hand the
            # column over as datetime64[us], where astype(int64) would
            # yield µs and the //1000 below would silently produce ms
            for us in (
                pd.to_datetime(pdf[ts_col])
                .astype("datetime64[ns]")
                .astype("int64")
                // 1000
            ).tolist():
                if last_us is None or us - last_us > gap_us:
                    n_sessions += 1
                idxs.append(n_sessions - 1)
                last_us = us
            pdf[out_col] = idxs
            yield pdf
        state.update((last_us, n_sessions))

    return df.groupBy(user_col).applyInPandasWithState(
        stamp,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def cusum_alarm_stream(
    df: DataFrame,
    stats: DataFrame,
    key_col: str,
    ts_col: str,
    id_col: str,
    value_col: str,
    k_half_sigmas: int = 1,
    h_sigma: int = 4,
    scale: int = 1_000_000,
) -> DataFrame:
    """Streaming twin of `operators.anomaly.cusum_drift`: per-key
    one-sided CUSUM drift alarms over a stream, with the detector
    parameters FROZEN from a training window (`cusum_stats`) — the
    production deployment shape (you never re-estimate mu/sigma from
    the stream you are alarming on).

    The batch operator's closed form needs the whole prefix; the
    stream keeps the textbook recursion s = max(0, s + y) as ONE
    BIGINT per key in `applyInPandasWithState` — the closed form and
    the recursion are the same function, so stream ≡ batch holds
    EXACTLY (both integer, no float anywhere past the frozen stats).

    Stats join is stream-static (broadcast; group-cardinality-sized),
    so the stateful operator's shuffle carries only the stream rows;
    state is 8 bytes per key forever. Rows within a micro-batch are
    processed in (ts, id) order; cross-batch order is the source's
    arrival order (same contract as with_session_idx).

    Emits ALARM rows only: (key, id, ts, value, cusum_micro,
    threshold_micro).
    """
    import math

    from big_data_engineering_project_spark.sources.catalog import (
        ensure_package_on_executors,
    )

    ensure_package_on_executors(df.sparkSession)
    from pyspark.sql import functions as F

    enriched = df.join(F.broadcast(stats), key_col)
    in_fields = {f.name: f for f in enriched.schema.fields}
    out_schema = StructType(
        [
            in_fields[key_col],
            in_fields[id_col],
            in_fields[ts_col],
            in_fields[value_col],
            StructField("cusum_micro", LongType()),
            StructField("threshold_micro", LongType()),
        ]
    )
    state_schema = StructType([StructField("s", LongType())])

    def stamp(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        s = state.get[0] if state.exists else 0
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks).sort_values([ts_col, id_col])
            mu = int(pdf["mu_u"].iloc[0])
            sigma = int(pdf["sigma_u"].iloc[0])
            slack = (sigma * k_half_sigmas) // 2
            threshold = sigma * h_sigma
            out_rows = []
            for row in pdf.itertuples(index=False):
                vu = math.floor(getattr(row, value_col) * scale)
                s = max(0, s + vu - mu - slack)
                if s > threshold:
                    out_rows.append(
                        (
                            getattr(row, key_col),
                            getattr(row, id_col),
                            getattr(row, ts_col),
                            getattr(row, value_col),
                            s,
                            threshold,
                        )
                    )
            if out_rows:
                yield pd.DataFrame(
                    out_rows,
                    columns=[
                        key_col, id_col, ts_col, value_col,
                        "cusum_micro", "threshold_micro",
                    ],
                )
        state.update((s,))

    return enriched.groupBy(key_col).applyInPandasWithState(
        stamp,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
