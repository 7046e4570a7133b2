"""SparkSession factory with scale-appropriate defaults.

Local testing runs ``local[N]``; the same settings are what we would ship
on a real cluster (AQE, skew-join handling, Arrow transfers).  Nothing here
is specific to single-node execution.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "hobbes_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Defaults honour the driver environment: ``SPARK_GRAFT_CPUS`` sets local
    parallelism (default: the host's core count), shuffle partitions
    default to the same so a local run does not create thousands of tiny
    tasks.  On a real cluster these would be set by the deployment (and
    AQE coalesces shuffle partitions anyway).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(max(cpus, 8)))
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime coalescing, skew-join splitting, dynamic join strategy.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        # Arrow for any pandas_udf / toPandas boundary.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.session.timeZone", "UTC")
        # The reference's `int(...)` cast FAILS on bad input (strict);
        # Spark 4 ANSI default matches that semantics. Keep ANSI on.
        .config("spark.sql.ansi.enabled", "true")
        # Read parquet TIMESTAMP(NANOS) as long (older driver datasets);
        # Pipeline.table converts to microsecond timestamps in-plan.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Spill-awareness: cap scan-side partition size so a task's
        # working set fits executor memory at any input scale (AQE then
        # coalesces small shuffle partitions back up). 128 MiB is the
        # upstream default, pinned here so deployments don't inherit a
        # surprise from cluster-wide overrides.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # FAIR scheduling so concurrent job submitters (sync's DAG
        # thread pool, notebook users) interleave stages instead of
        # convoying behind one long job. Single-submitter workloads
        # (bench, the gate) see FIFO-identical behavior — fairness
        # only arbitrates when two pools hold runnable tasks.
        .config("spark.scheduler.mode", "FAIR")
    )
    return builder.getOrCreate()
