"""SparkSession factory with scale-appropriate defaults.

Local testing runs on local[N]; the configs are the ones that matter at
cluster scale too (AQE, adaptive skew handling, Arrow for pandas UDFs,
sane shuffle partitioning).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "search-engine-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 1)
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(8, int(cpus) if cpus.isdigit() else 32)
    # scaling-measurement hook (tools/scaling_campaign.py): e.g.
    # -XX:ActiveProcessorCount=N so the JVM sizes GC/JIT thread pools for
    # the measured core budget instead of the host's — without it a
    # local[4] run borrows the whole host's GC parallelism and the N->4N
    # comparison undercounts the 4-core cost
    java_opts = os.environ.get("SPARK_GRAFT_JAVA_OPTS", "")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
    )
    if java_opts:
        builder = builder.config("spark.driver.extraJavaOptions", java_opts)
    builder = (
        builder
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        # local[N] runs every task inside the driver JVM: size the heap for
        # N concurrent task slots + cached data or 32-thread runs spill
        # where 8-thread runs don't (observed 2x regression on the
        # forward-index agg at 8g)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    return builder.getOrCreate()
