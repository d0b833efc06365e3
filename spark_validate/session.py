"""SparkSession construction tuned for this engine.

Local-mode defaults follow the sandbox contract (local[N], single JVM); the
same config block is what we'd pass to spark-submit on a real cluster, with
shuffle partitions sized to total cores.
"""

from __future__ import annotations

import logging
import os
import weakref

from pyspark.sql import SparkSession

logger = logging.getLogger(__name__)

_MAX_DRIVER_MIB = 64 * 1024

# Spark keeps at most this many compiled classes per JVM (default 100). One
# op compiles more distinct classes than that (121 for perfbench's
# model_monitor op, univariate drift + CBPE; 151 for its run_suite op), so
# a 100-entry LRU evicts the op's own classes and every op recompiles them,
# and the JIT warms the new bytecode again. The whole oracle sweep
# (tools/check_oracle.py), the largest long-lived session in the repo,
# compiles 2090 distinct classes and ends with about 200 MB of Metaspace,
# 5 MB more than at 100 entries; 4000 covers it with headroom.
CODEGEN_CACHE_CONF = "spark.sql.codegen.cache.maxEntries"
CODEGEN_CACHE_ENTRIES = 4000


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
        # static: only session creation can size it (see CODEGEN_CACHE_ENTRIES)
        .config(CODEGEN_CACHE_CONF, str(CODEGEN_CACHE_ENTRIES))
        # the cache is keyed by source text; a stage id in the class name
        # (ids follow the order adaptive execution plans stages in) would
        # make a rerun's identical stage miss it
        .config("spark.sql.codegen.useIdInClassName", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def shuffle_partitions(spark) -> int:
    """``spark.sql.shuffle.partitions`` as an int. Platforms with
    auto-optimized shuffles set it to 'auto'; the session's default
    parallelism stands in for it there."""
    parts = str(spark.conf.get("spark.sql.shuffle.partitions"))
    return int(parts) if parts.isdigit() else spark.sparkContext.defaultParallelism


_codegen_cache_checked: "weakref.WeakSet" = weakref.WeakSet()


def warn_small_codegen_cache(spark) -> bool:
    """Warn, once per session, when the session caches fewer compiled
    classes than ``CODEGEN_CACHE_ENTRIES``: a caller-built session, or one
    ``getOrCreate`` reused (it ignores static confs). The conf is static, so
    only a new session can raise it. True when this call warned."""
    if spark in _codegen_cache_checked:
        return False
    _codegen_cache_checked.add(spark)
    size = int(spark.conf.get(CODEGEN_CACHE_CONF, "100"))
    if size >= CODEGEN_CACHE_ENTRIES:
        return False
    logger.warning(
        "%s is %d, below the engine's %d: once a run's generated classes "
        "outnumber it, every run recompiles them. It is a static conf; set "
        "it when the session is created (session.get_spark does).",
        CODEGEN_CACHE_CONF, size, CODEGEN_CACHE_ENTRIES,
    )
    return True


def jvm_compile_counters(spark) -> tuple:
    """(Janino class compiles, HotSpot JIT milliseconds) of the driver JVM
    so far; the difference of two readings is the compile cost in between."""
    jvm = spark.sparkContext._jvm
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
    jit_ms = jvm.java.lang.management.ManagementFactory.getCompilationMXBean().getTotalCompilationTime()
    return int(compiles), int(jit_ms)
