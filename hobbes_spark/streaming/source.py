"""Streaming source for the driver's ``events`` table.

``events.ts`` is a timezone-less microsecond parquet timestamp
(TIMESTAMP_NTZ under Spark 4's inference); older driver datasets used
TIMESTAMP(NANOS), which a stock session rejects outright — the
``nanosAsLong`` escape hatch plus an in-plan conversion keeps those
readable too (same treatment as ``Pipeline.table``). The file source is
the scale path: on a real cluster the directory would be a landing zone
receiving files, and the ``maxFilesPerTrigger`` option bounds
per-microbatch work.
"""

from __future__ import annotations

import hashlib
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def stream_events(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """``readStream`` over an events parquet file/directory.

    ``path`` may be ``{sf_dir}/events.parquet`` or a directory of
    event files. Returns a streaming DataFrame with a proper
    ``ts: timestamp`` column.
    """
    return normalize_ts(stream_parquet(spark, path, max_files_per_trigger))


def stream_parquet(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """``readStream`` over any parquet file/directory with the file's
    own schema — the generic twin of :func:`stream_events` for tables
    without an event-time column (e.g. a landing zone of document
    files); :func:`stream_events` delegates here, so the
    single-file-symlink-dir workaround has ONE spelling. Batch
    curation operators are stateless Column expressions, so they run
    UNCHANGED on the returned stream; only aggregations need
    streaming-specific handling downstream.

    The schema comes from the same once-per-listing resolver as
    ``read_parquet_any_ts``, which also flips ``nanosAsLong`` for a
    TIMESTAMP(NANOS) source (a stock session rejects it otherwise); the
    stream then carries those columns as raw nanosecond longs."""
    from hobbes_spark.pipeline import _read_raw_parquet

    static, _ = _read_raw_parquet(spark, path)
    # FileStreamSource wants a directory (its basePath); a single-file
    # table is exposed through a symlink dir.
    if os.path.isfile(path):
        path = _symlink_dir(path)
    reader = spark.readStream.schema(static.schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def _symlink_dir(path: str) -> str:
    """The directory holding one symlink to the file ``path``, named
    after the file's absolute path, so every stream over one file
    shares one directory instead of leaving a new one per call.
    Concurrent callers may race to create it; a link that already
    points at the file is theirs and is reused."""
    target = os.path.abspath(path)
    digest = hashlib.md5(target.encode()).hexdigest()
    d = os.path.join(tempfile.gettempdir(), f"hb_stream_{digest}")
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, os.path.basename(target))
    try:
        os.symlink(target, link)
    except FileExistsError:
        if os.readlink(link) != target:
            raise
    return d


def normalize_ts(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Normalize the event-time column to an instant (TIMESTAMP):

    * nanosecond long (legacy nanos parquet under ``nanosAsLong``) →
      microsecond timestamp;
    * TIMESTAMP_NTZ (plain micros parquet under Spark 4's inference) →
      pinned as UTC wall-clock. Watermarks and stream-stream join
      conditions REQUIRE an instant (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE
      otherwise), and doing it here — at the one shared source — fixes
      every downstream watermark operator at once, rather than
      special-casing each (the round-2 interval_join patch, kept as a
      safety for batch-side inputs that don't come through here).
    """
    if ts_col not in df.columns:
        return df
    dtype = dict(df.dtypes)[ts_col]
    if dtype == "bigint":
        return df.withColumn(ts_col, F.expr(f"timestamp_micros(`{ts_col}` div 1000)"))
    if dtype == "timestamp_ntz":
        return df.withColumn(ts_col, F.to_utc_timestamp(F.col(ts_col), "UTC"))
    return df


def source_scaled_partitions(
    spark: SparkSession,
    *paths: str,
    bytes_per_partition: int = 32 << 20,
    floor: int = 2,
) -> int:
    """Scale-adaptive shuffle/state partition count for a bounded
    stream replay, derived from the SOURCE's on-disk size (optimization
    guide §2 — partitioning must come from input scale, not a constant
    tuned for local mode or the cluster): ``ceil(total_bytes /
    bytes_per_partition)`` clamped to ``[floor, session shuffle
    default]``.

    Why it exists: a streaming query pins ``spark.sql.shuffle.
    partitions`` into its checkpoint at first start and every stateful
    operator then commits one state-store file per partition per
    micro-batch. For a corpus-sized landing zone the session/cluster
    default is right; for a small bounded replay the same default makes
    per-batch state commits the dominant cost (measured at sf0.1:
    stream_interval_join 8.3 s → 3.0 s, stream_restart_dedup 7.1 s →
    3.8 s going 32 → 8 state partitions). The cap at the session
    default means a real deployment's cluster-set value is never
    exceeded — this only scales DOWN when the source is demonstrably
    small, and ``SPARK_GRAFT_SHUFFLE_PARTITIONS`` still parameterizes
    the ceiling."""
    total = 0
    for p in paths:
        if os.path.isfile(p):
            total += os.path.getsize(p)
        elif os.path.isdir(p):
            for root, _dirs, files in os.walk(p):
                total += sum(
                    os.path.getsize(os.path.join(root, f))
                    for f in files
                    if not f.startswith((".", "_"))
                )
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    want = -(-total // bytes_per_partition)  # ceil
    return max(min(cap, int(want)), min(floor, cap))
