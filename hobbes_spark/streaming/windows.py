"""Event-time windowed aggregations with watermarks.

All three shapes are declarative ``groupBy(window(...))`` plans —
Catalyst/the streaming engine handle incremental state, late-data
eviction and recovery. The same functions work on *batch* DataFrames
(Spark evaluates ``window``/``session_window`` identically), which is
how the tests establish correctness: replay the stream, compare with
the batch run.

Scale notes: state size is bounded by the watermark horizon; the
shuffle is keyed by (window, *keys) so it scales out with executors.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["tumbling_agg", "sliding_agg", "session_agg"]


def _default_aggs() -> list[Column]:
    return [
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value").alias("sum_value"),
        F.avg("value").alias("avg_value"),
    ]


def _windowed(
    df: DataFrame,
    window_col: Column,
    keys: Sequence[str],
    aggs: Sequence[Column] | None,
    watermark: str | None,
    ts_col: str,
) -> DataFrame:
    if watermark is not None and df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    out = (
        df.groupBy(window_col.alias("win"), *[F.col(k) for k in keys])
        .agg(*(aggs or _default_aggs()))
        .withColumn("win_start", F.col("win.start"))
        .withColumn("win_end", F.col("win.end"))
        .drop("win")
    )
    return out


def tumbling_agg(
    df: DataFrame,
    duration: str = "1 hour",
    keys: Sequence[str] = ("event_type",),
    aggs: Sequence[Column] | None = None,
    watermark: str | None = "1 hour",
    ts_col: str = "ts",
) -> DataFrame:
    """Non-overlapping event-time windows (the reference's closest analog
    is batch group-by on date parts, `Git.fs:12-17` — this is the same
    computation made incremental)."""
    return _windowed(df, F.window(ts_col, duration), keys, aggs, watermark, ts_col)


def sliding_agg(
    df: DataFrame,
    duration: str = "1 hour",
    slide: str = "15 minutes",
    keys: Sequence[str] = ("event_type",),
    aggs: Sequence[Column] | None = None,
    watermark: str | None = "1 hour",
    ts_col: str = "ts",
) -> DataFrame:
    """Overlapping windows — the streaming form of the reference's
    ``moving`` reduction (SURVEY §2.8), keyed by event-time instead of
    row ordinal."""
    return _windowed(df, F.window(ts_col, duration, slide), keys, aggs, watermark, ts_col)


def session_agg(
    df: DataFrame,
    gap: str = "30 minutes",
    keys: Sequence[str] = ("user_id",),
    aggs: Sequence[Column] | None = None,
    watermark: str | None = "1 hour",
    ts_col: str = "ts",
) -> DataFrame:
    """Session windows: rows within ``gap`` of each other merge into one
    variable-length window per key group."""
    return _windowed(df, F.session_window(ts_col, gap), keys, aggs, watermark, ts_col)
