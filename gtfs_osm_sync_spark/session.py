"""SparkSession factory tuned for this engine.

Local mode for tests/bench; the same config block is what we'd pass to
``spark-submit`` on a real cluster (AQE, skew join, Arrow). Shuffle
partitions default to the core count — at cluster scale this is set to
~2-3x total cores instead.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """Half the host's physical memory, capped at 24g: the local-mode
    JVM heap holds the driver and every executor task, and a larger
    heap lets one process take most of a small host."""
    half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (2 << 20)
    return f"{min(half_mb, 24 * 1024)}m"


def get_spark(
    cpus: int | None = None,
    app_name: str = "gtfs_osm_sync_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    cpus: local[N] parallelism (default: $SPARK_GRAFT_CPUS or all cores).
    The driver heap is $SPARK_GRAFT_DRIVER_MEM, else half the host's
    physical memory capped at 24g.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_memory())

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # the default 64MB advisory size coalesces compute-heavy row
        # streams onto too few tasks (measured: BENCH/BASELINE.md)
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
