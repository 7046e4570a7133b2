"""Streaming sinks with exactly-once semantics on plain parquet.

Structured Streaming's file sink is exactly-once only through its own
log; production pipelines that need to own the layout (partitioned
object-storage paths, compaction, downstream-readable directories) use
``foreachBatch`` — which is AT-LEAST-ONCE: after a crash between "batch
written" and "offset committed", the same batch id is replayed. The
standard recipe (Spark docs, Structured Streaming programming guide,
"foreachBatch" section) is to make the write idempotent by keying the
physical layout on ``batch_id`` and overwriting only that key on
replay. No Delta/Iceberg needed: dynamic partition overwrite on a
``_batch_id`` partition column gives replace-not-duplicate semantics on
any parquet-compatible store.

At 100 TB the same shape holds: each microbatch lands as one partition
directory; a replayed batch atomically rewrites its own directory and
nothing else; readers see append-only growth keyed by batch.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "idempotent_parquet_writer",
    "start_idempotent_sink",
    "quality_gated_writer",
]


def idempotent_parquet_writer(
    path: str, extra_partition_cols: list[str] | None = None
) -> Callable[[DataFrame, int], None]:
    """Return a ``foreachBatch`` function writing each microbatch to
    ``path`` partitioned by ``_batch_id`` (+ optional business
    partitions, e.g. a date column).

    Replaying a batch id rewrites exactly that partition (dynamic
    partition overwrite), so retries cannot duplicate rows — the pair
    (checkpointed offsets, batch-keyed overwrite) is the exactly-once
    contract.
    """
    parts = ["_batch_id", *(extra_partition_cols or [])]

    def write(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("_batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*parts)
            .parquet(path)
        )

    return write


def start_idempotent_sink(
    stream_df: DataFrame,
    path: str,
    checkpoint: str,
    extra_partition_cols: list[str] | None = None,
    available_now: bool = True,
):
    """Wire a streaming DataFrame into the idempotent parquet sink with
    a checkpoint. ``available_now=True`` drains the current backlog and
    stops (backfill mode); ``False`` runs continuously."""
    writer = idempotent_parquet_writer(path, extra_partition_cols)
    builder = (
        stream_df.writeStream.foreachBatch(writer)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        builder = builder.trigger(availableNow=True)
    return builder.start()


def quality_gated_writer(
    path: str,
    checks: list,
    report_path: str,
    fail_action: str = "quarantine",
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` quality gate: validate every microbatch with the
    declarative checks (functions/validate.py) BEFORE publishing it.

    Per batch: the one-pass validation report lands under
    ``report_path`` keyed by batch id (idempotent overwrite, same
    exactly-once recipe as idempotent_parquet_writer); a clean batch
    publishes to ``path``; a failing batch either goes to
    ``<path>_quarantine`` (``fail_action='quarantine'`` — the pipeline
    keeps flowing, bad data is parked for triage) or raises
    (``'fail'`` — the stream stops and the checkpoint holds position,
    so the fixed pipeline resumes AT the bad batch, nothing skipped).

    The report itself is the monitoring feed: a streaming job's data
    contract, continuously enforced, one aggregate pass per batch."""
    from hobbes_spark.functions.validate import validate

    if fail_action not in ("quarantine", "fail"):
        raise ValueError(f"fail_action must be quarantine/fail, got {fail_action!r}")

    def write(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.localCheckpoint(eager=True)  # validate + publish read it twice
        spark = batch_df.sparkSession
        # ONE validation scan: the report is a handful of rows (one per
        # check) — collect it, decide in Python, and write it back from
        # the collected rows, instead of executing the report plan twice
        # (once for the parquet write, once for a min() agg)
        rows = validate(batch_df, checks).collect()
        (
            spark.createDataFrame(
                rows, "check string, n_violations bigint, passed boolean"
            )
            .withColumn("_batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(report_path)
        )
        # fail CLOSED: a check whose result is NULL (indeterminate —
        # e.g. a custom check without the built-ins' empty-safe
        # coalesce) must gate the batch, not slip past a NULL-skipping
        # min()
        ok = all(r["passed"] is True for r in rows)
        target = path if ok else f"{path}_quarantine"
        if not ok and fail_action == "fail":
            raise RuntimeError(
                f"quality gate failed for batch {batch_id}; report at {report_path}"
            )
        (
            batch_df.withColumn("_batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(target)
        )
        # a REPLAY whose verdict flipped (time-dependent check) must not
        # leave this batch in both targets: clear the opposite one's
        # partition after the decisive write
        other = f"{path}_quarantine" if ok else path
        _delete_partition(spark, other, batch_id)

    return write


def _delete_partition(spark, base_path: str, batch_id: int) -> None:
    """Remove ``<base_path>/_batch_id=<id>`` if present (Hadoop FS API,
    so object stores work like local disks)."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(f"{base_path}/_batch_id={batch_id}")
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(p):
        fs.delete(p, True)
