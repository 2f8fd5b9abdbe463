"""Structured Streaming hot path (SURVEY.md §2.11, §3.1).

The reference's speed layer is a hand-rolled Kinesis poll loop
(`kinesis_processing_2.py:121-198`): ≤100 records/batch, per-record
Python enrichment, cross-batch author counts in a dict, per-batch
z-score anomaly detection, per-record DynamoDB writes, no
checkpointing (at-least-once at best).

Spark-first, that collapses to ONE Structured Streaming query:
file JSON source (micro-batch caps ≡ T1/O7) → native column
enrichment (UD3 decomposed; §2.10) → foreachBatch: author counts
folded in the JVM from checkpointed per-batch deltas (T4), typed
Parquet append (K3/T6) + per-batch anomalies (T5) — with
checkpointing for exactly-once (T8, the upgrade the reference
lacks).
"""

from big_data_engineering_project_spark.streaming.pipeline import (
    STREAM_SCHEMA,
    enrich_stream,
    run_hot_path,
    stream_source,
)

__all__ = [
    "STREAM_SCHEMA",
    "enrich_stream",
    "run_hot_path",
    "stream_source",
]
