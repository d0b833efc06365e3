"""SparkSession construction tuned for this engine.

Local-mode defaults follow the sandbox contract (local[N], single JVM); the
same config block is what we'd pass to spark-submit on a real cluster, with
shuffle partitions sized to total cores.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_MAX_DRIVER_MIB = 64 * 1024


def driver_memory_for(total_bytes: int | None) -> str:
    """Driver heap for a machine with ``total_bytes`` of physical memory:
    half of it, capped at 64g (64g when the total is unknown). A larger
    heap lets the one local-mode JVM outgrow the machine and be OOM-killed."""
    if not total_bytes:
        return f"{_MAX_DRIVER_MIB}m"
    return f"{min(total_bytes // 2 // 2**20, _MAX_DRIVER_MIB)}m"


def _physical_memory() -> int | None:
    """MemTotal in bytes (physical pages × page size), None if unknown."""
    try:
        return os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    except (AttributeError, OSError, ValueError):
        return None


def get_spark(
    app_name: str = "spark_validate",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    cores defaults to $SPARK_GRAFT_CPUS or 32. Shuffle partitions default to
    the core count — at cluster scale this would be ~2-3× total executor
    cores; AQE coalesces small post-shuffle partitions either way. The
    driver heap is $SPARK_VALIDATE_DRIVER_MEM, else half the machine's
    memory capped at 64g (``driver_memory_for``).
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = cores
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # catalog tables (saveAsTable / table: reads) land here instead of
        # ./spark-warehouse; on an Iceberg deployment the catalog config
        # replaces this (see io/readers.py)
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_VALIDATE_WAREHOUSE", "/tmp/spark_validate_warehouse"),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_VALIDATE_DRIVER_MEM") or driver_memory_for(_physical_memory()),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
