"""SparkSession factory with scale-oriented defaults.

Local mode runs on the host's usable cores (``local_cpus``); the other
defaults are expressed so they transfer to a real cluster: AQE on
(runtime re-planning + skew-join handling), explicit shuffle
partitioning, Arrow for the few Python UDF boundaries, UTC session
timezone (oracle parity with DuckDB).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def local_cpus() -> str:
    """The local-mode core count: ``$SPARK_GRAFT_CPUS`` when set (the
    deployment override), else the cores this process may run on."""
    return (os.environ.get("SPARK_GRAFT_CPUS")
            or str(len(os.sched_getaffinity(0))))


def get_spark(app_name: str = "dotnetvectorsearch-spark",
              shuffle_partitions: int | None = None) -> SparkSession:
    cpus = local_cpus()
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus != "*" else 32
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Coalesce post-shuffle partitions to the advisory size instead of
        # maximizing parallelism: fewer tasks on small shuffles (~10% off
        # end-to-end locally), and at real scale the advisory target (64M)
        # governs anyway.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
                "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        # Best-effort: ask for INT64 TIMESTAMP(NANOS) parquet columns
        # (events.ts) as long. Spark 4.1 IGNORES this flag and reads
        # timestamp_ntz instead — nothing may rely on it; all event-time
        # code branches on the actual column dtype (functions/time.py).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()
