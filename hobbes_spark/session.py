"""SparkSession factory with scale-appropriate defaults.

Local testing runs ``local[N]``; the same settings are what we would ship
on a real cluster (AQE, skew-join handling, Arrow transfers).  Nothing here
is specific to single-node execution.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Generated classes Spark keeps compiled (`spark.sql.codegen.cache.maxEntries`,
# default 100). One pass over the 23 bench queries compiles ~310 distinct
# classes and one over the whole 257-query catalog ~2,770 (sf0.001 and
# sf0.01); an LRU smaller than a cyclic working set never hits, so at the
# default every pass over the bench queries recompiled ~340 classes.
# 8192 is ~3x the catalog.
CODEGEN_CACHE_ENTRIES = 8192


def get_spark(
    app_name: str = "hobbes_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Defaults honour the driver environment: ``SPARK_GRAFT_CPUS`` sets local
    parallelism (default: the host's core count), shuffle partitions
    default to ``max(cpus, 8)`` so a local run does not create thousands
    of tiny tasks.  On a real cluster these would be set by the deployment
    (and AQE coalesces shuffle partitions anyway).

    Static confs (the codegen class cache) take effect only in the call
    that starts the JVM; a session built before this one keeps Spark's
    defaults.
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
        # Static: read once, by the call that starts the JVM.
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # AQE numbers codegen stages in the order its query stages
        # finish, which varies run to run; with the stage id in the
        # class name the same pipeline compiles again under a new name.
        .config("spark.sql.codegen.useIdInClassName", "false")
    )
    return builder.getOrCreate()


def codegen_compiles(spark: SparkSession) -> int:
    """Generated classes Janino has compiled in this JVM so far (driver
    and, on ``local[N]``, task threads). A repeated query whose classes
    are all cached leaves it unchanged."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())
