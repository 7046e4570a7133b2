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

This module holds that rule once, for every ``foreachBatch`` writer in
the package:

* :func:`write_batch` — THE batch-keyed write; every sink and every
  ingest store table goes through it.
* :func:`store_writer` — THE store guard for stores a query extends
  batch by batch (the MinHash / HLL / count-min ingests in
  ``streaming/ingest.py``): parameters pinned in ``<store>/_meta`` and
  a refusal to rewind, checked once per query run, then one
  :func:`write_batch` per store table and the batch id recorded in
  ``<store>/_batches``.

At 100 TB the same shape holds: each microbatch lands as one partition
directory; a replayed batch atomically rewrites its own directory and
nothing else; readers see append-only growth keyed by batch.
"""

from __future__ import annotations

import functools
from collections.abc import Callable, Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "write_batch",
    "idempotent_parquet_writer",
    "quality_gated_writer",
    "store_writer",
]


def write_batch(
    df: DataFrame,
    batch_id: int,
    path: str,
    extra_partition_cols: Sequence[str] = (),
) -> None:
    """Write ``df`` as batch ``batch_id`` of the parquet table at
    ``path``: partitioned by ``_batch_id`` (+ optional business
    partitions), dynamic partition overwrite. Replaying a batch id
    rewrites exactly that batch's partition and nothing else."""
    (
        df.withColumn("_batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_batch_id", *extra_partition_cols)
        .parquet(path)
    )


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
    return functools.partial(
        write_batch, path=path, extra_partition_cols=extra_partition_cols or ()
    )


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
        write_batch(
            spark.createDataFrame(
                rows, "check string, n_violations bigint, passed boolean"
            ),
            batch_id,
            report_path,
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
        write_batch(batch_df, batch_id, target)
        # a REPLAY whose verdict flipped (time-dependent check) must not
        # leave this batch in both targets: clear the opposite one's
        # partition after the decisive write
        other = f"{path}_quarantine" if ok else path
        _delete_partition(spark, other, batch_id)

    return write


# the per-batch commit record of a store_writer store
_BATCHES = "_batches"


def store_writer(
    store_dir: str,
    params: Mapping[str, object],
    guard_table: str,
    step: Callable[[DataFrame, int], Mapping[str, DataFrame]],
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` function for a store that a query extends batch
    by batch under ``store_dir``.

    Once per query run (parameters and store identity cannot change for
    the lifetime of the query, so re-reading ``_meta`` and the
    partition listing per microbatch would be pure overhead) it pins
    ``params`` in ``<store>/_meta`` (:func:`_check_store_meta`) and
    refuses a batch id that would rewind the store
    (:func:`_assert_batch_monotonic`). Then every batch, ``step(batch_df,
    batch_id)`` returns ``{table: df}`` and each ``df`` is written as
    that batch of ``<store>/<table>`` by :func:`write_batch`, in the
    order given; last, the batch id is recorded as an empty
    ``<store>/_batches/_batch_id=<id>`` directory, so a batch that wrote
    no rows (and so no partition) still moves the store's high-water
    mark. ``guard_table`` keeps guarding stores written before that
    record existed: its ``_batch_id`` partitions count toward the mark
    too."""
    validated = False

    def write(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal validated
        spark = batch_df.sparkSession
        if not validated:
            _check_store_meta(spark, store_dir, params)
            _assert_batch_monotonic(spark, store_dir, guard_table, batch_id)
            validated = True
        for table, df in step(batch_df, batch_id).items():
            write_batch(df, batch_id, f"{store_dir}/{table}")
        p, fs = _hadoop_path(spark, f"{store_dir}/{_BATCHES}/_batch_id={batch_id}")
        fs.mkdirs(p)

    return write


def _check_store_meta(
    spark: SparkSession, store_dir: str, params: Mapping[str, object]
) -> None:
    """Pin the store parameters on first write; refuse to mix.

    Sketches and signatures are only comparable when their parameters
    match: restarting an ingest with different ones (MinHash width or
    hash family, HLL ``lgk``, count-min depth/width) would silently
    interleave incompatible state in the store and every later rollup or
    banding pass over it would be garbage. The metadata rows are
    ``(key, str(value))`` sorted by key, written through Spark (mode=ignore
    ⇒ first writer wins), so any filesystem the store itself lives on
    works — no local-FS assumption."""
    meta_path = f"{store_dir}/_meta"
    pinned = [(k, str(v)) for k, v in sorted(params.items())]
    if not _path_exists(spark, meta_path):
        (
            spark.createDataFrame(pinned, "key string, value string")
            .coalesce(1)
            .write.mode("ignore")
            .json(meta_path)
        )
        return
    existing = {
        r["key"]: r["value"]
        for r in spark.read.schema("key string, value string").json(meta_path).collect()
    }
    mismatches = {
        k: (existing.get(k), v) for k, v in pinned if existing.get(k) != v
    }
    if mismatches:
        raise ValueError(
            f"ingest store {store_dir!r} was created with different "
            f"parameters; refusing to mix incompatible sketch/signature "
            f"state (stored vs requested): {mismatches}"
        )


def _assert_batch_monotonic(
    spark: SparkSession, store_dir: str, table: str, batch_id: int
) -> None:
    """Refuse a batch id that would REWIND the store. Micro-batch
    semantics only ever legitimately replay the LAST (possibly
    uncommitted) batch, so an incoming id strictly below the store's
    max means the query is running a FRESH checkpoint against an
    existing store: its epoch counter restarted at 0, its
    ``_batch_id < N`` base reads would hide the whole existing corpus,
    and its dynamic overwrites would silently clobber old partitions —
    permanent data loss with no error. The max is taken over the
    ``_batch_id=`` directories of ``<store>/_batches`` and
    ``<store>/<table>``: two directory listings, no Spark job."""
    seen = [
        *_partition_batch_ids(spark, f"{store_dir}/{_BATCHES}"),
        *_partition_batch_ids(spark, f"{store_dir}/{table}"),
    ]
    max_seen = max(seen, default=None)
    if max_seen is not None and batch_id < max_seen:
        raise ValueError(
            f"ingest store {store_dir!r} already holds batches up to "
            f"{max_seen} but this query is at batch {batch_id} — it is "
            "running a NEW checkpoint against an OLD store, which would "
            "hide the existing base and overwrite its partitions. Point "
            "the query at its original checkpoint, or start a fresh "
            "store directory."
        )


def _partition_batch_ids(spark: SparkSession, path: str) -> list[int]:
    """The ids of the ``_batch_id=<id>`` directories directly under
    ``path``; empty when ``path`` does not exist."""
    p, fs = _hadoop_path(spark, path)
    if not fs.exists(p):
        return []
    names = (st.getPath().getName() for st in fs.listStatus(p) if st.isDirectory())
    return [int(n.split("=", 1)[1]) for n in names if n.startswith("_batch_id=")]


def _hadoop_path(spark: SparkSession, path: str):
    """``(Path, FileSystem)`` for ``path`` through the Hadoop FS API, so
    object stores work like local disks."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p, p.getFileSystem(spark._jsc.hadoopConfiguration())


def _path_exists(spark: SparkSession, path: str) -> bool:
    """Whether ``path`` exists yet — the one "store not created yet"
    probe. A missing path means an empty store / first batch; every
    other read failure stays an error at the read itself."""
    p, fs = _hadoop_path(spark, path)
    return bool(fs.exists(p))


def _delete_partition(spark: SparkSession, base_path: str, batch_id: int) -> None:
    """Remove ``<base_path>/_batch_id=<id>`` if present (deleting a
    missing path is a no-op that returns false)."""
    p, fs = _hadoop_path(spark, f"{base_path}/_batch_id={batch_id}")
    fs.delete(p, True)
