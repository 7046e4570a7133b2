"""Structured Streaming extension (beyond-reference capability).

The reference has no streaming at all — its closest analog is batch
re-synchronization polled to convergence
(`workers/syncronization.worker/src/Program.fs:26-100`; SURVEY §2.11).
Here streams are first-class: event-time windowed aggregations with
watermarks over the ``events`` table, plus a custom stateful operator
via ``applyInPandasWithState``.
"""

from hobbes_spark.streaming.source import stream_events, stream_parquet
from hobbes_spark.streaming.windows import (
    session_agg,
    sliding_agg,
    tumbling_agg,
)
from hobbes_spark.streaming.stateful import running_user_totals
from hobbes_spark.streaming.dedup import stream_exact_dedup, stream_fingerprint_dedup
from hobbes_spark.streaming.joins import interval_join
from hobbes_spark.streaming.ingest import (
    minhash_ingest_writer,
    read_signature_store,
)
from hobbes_spark.streaming.sinks import idempotent_parquet_writer

__all__ = [
    "idempotent_parquet_writer",
    "stream_events",
    "stream_parquet",
    "tumbling_agg",
    "sliding_agg",
    "session_agg",
    "running_user_totals",
    "stream_exact_dedup",
    "stream_fingerprint_dedup",
    "interval_join",
]
