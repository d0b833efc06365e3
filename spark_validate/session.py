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

# The driver JVM compiles with C1 only. A run_suite process, a spark-submit
# job or a benchmark run does a few ops and exits, so most of what C2
# compiles is paid for and never paid back; in local mode this JVM is the
# whole engine (planning, codegen, tasks, py4j). perfbench on a 4-core box,
# 10 alternating pairs each, default -> this profile (medians): cpu_s
# 7.69 -> 4.41 s (model_monitor) and 7.56 -> 4.74 s (runner_recurring),
# setup_s 0.9-1.1 s lower on both; run_s rises 2.74 -> 3.00 s and
# 2.94 -> 2.99 s. In a 60 s run C2 costs less CPU per op from about the
# sixth op on and runs steady ops in 1.9 s wall against 2.7 s, so a
# long-lived session passes -XX:TieredStopAtLevel=4 to keep C2 (the test
# suite does). C1 alone reserves a 48 MB code cache, which this engine fills
# by its fourth op; the sweeper then flushes compiled methods and C1
# compiles them again (an op of 7.4 CPU-s among ops of 4), so the profile
# reserves the 240 MB that tiered compilation reserves. Java floating point
# is strict, so the JIT tier changes no value.
JAVA_OPTIONS_CONF = "spark.driver.extraJavaOptions"
JIT_PROFILE = "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m"


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


def driver_java_options(caller: str | None) -> str:
    """``JIT_PROFILE`` followed by the caller's driver JVM options. HotSpot
    takes the last occurrence of a flag, so a caller's own
    ``-XX:TieredStopAtLevel`` overrides the profile."""
    return f"{JIT_PROFILE} {caller}" if caller else JIT_PROFILE


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
    memory capped at 64g (``driver_memory_for``). A JVM this call launches
    runs ``JIT_PROFILE``; ``extra_conf``'s ``spark.driver.extraJavaOptions``
    is appended to it (``driver_java_options``).
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
    conf = dict(extra_conf or {})
    conf[JAVA_OPTIONS_CONF] = driver_java_options(conf.get(JAVA_OPTIONS_CONF))
    for k, v in conf.items():
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


_sessions_checked: "weakref.WeakSet" = weakref.WeakSet()


def jvm_input_arguments(spark) -> list:
    """The options the driver JVM was started with."""
    runtime = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
    return [str(a) for a in runtime.getInputArguments()]


def warn_untuned_session(spark) -> bool:
    """Warn, once per session, where the session lacks what ``get_spark``
    sets up: a codegen cache of ``CODEGEN_CACHE_ENTRIES`` classes, and a
    driver JVM started with a ``-XX:TieredStopAtLevel`` flag. Either comes
    from a caller-built session (spark-submit, a notebook) or a reused
    ``getOrCreate``, and only a new session can change it. An explicit flag
    of any level is a choice and passes. True when this call warned."""
    if spark in _sessions_checked:
        return False
    _sessions_checked.add(spark)
    warned = False
    size = int(spark.conf.get(CODEGEN_CACHE_CONF, "100"))
    if size < CODEGEN_CACHE_ENTRIES:
        logger.warning(
            "%s is %d, below the engine's %d: once a run's generated classes "
            "outnumber it, every run recompiles them. It is a static conf; set "
            "it when the session is created (session.get_spark does).",
            CODEGEN_CACHE_CONF, size, CODEGEN_CACHE_ENTRIES,
        )
        warned = True
    if not any(a.startswith("-XX:TieredStopAtLevel=") for a in jvm_input_arguments(spark)):
        logger.warning(
            "the driver JVM was started without -XX:TieredStopAtLevel: a short "
            "run pays for C2 compiles it never uses. Start the driver with "
            "--driver-java-options '%s' (session.get_spark does), or with "
            "-XX:TieredStopAtLevel=4 to keep C2 in a long-lived session.",
            JIT_PROFILE,
        )
        warned = True
    return warned


def jvm_compile_counters(spark) -> tuple:
    """(Janino class compiles, HotSpot JIT milliseconds) of the driver JVM
    so far; the difference of two readings is the compile cost in between."""
    jvm = spark.sparkContext._jvm
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
    jit_ms = jvm.java.lang.management.ManagementFactory.getCompilationMXBean().getTotalCompilationTime()
    return int(compiles), int(jit_ms)
