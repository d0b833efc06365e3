"""Session set-up: driver-heap sizing, the driver JVM options, the
untuned-session warning and the shuffle-partition helper (pure, with stub
sessions), the options of the test session's own JVM, and compiled-class
reuse on the test session."""

import logging
from types import SimpleNamespace

from spark_validate.session import (
    CODEGEN_CACHE_CONF,
    CODEGEN_CACHE_ENTRIES,
    JIT_PROFILE,
    driver_java_options,
    driver_memory_for,
    jvm_input_arguments,
    shuffle_partitions,
    warn_untuned_session,
)

GIB = 2**30


def test_driver_memory_is_half_the_machine():
    assert driver_memory_for(16 * GIB) == "8192m"
    assert driver_memory_for(15 * GIB + 123) == "7680m"
    assert driver_memory_for(3 * GIB) == "1536m"


def test_driver_memory_caps_at_64g():
    assert driver_memory_for(128 * GIB) == "65536m"
    assert driver_memory_for(1024 * GIB) == "65536m"


def test_driver_memory_unknown_machine_keeps_64g():
    assert driver_memory_for(None) == "65536m"
    assert driver_memory_for(0) == "65536m"


# ---- driver JVM options


def test_driver_java_options_without_caller_is_the_profile():
    assert JIT_PROFILE.split() == ["-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=240m"]
    assert driver_java_options(None) == JIT_PROFILE
    assert driver_java_options("") == JIT_PROFILE


def test_driver_java_options_appends_the_caller():
    assert driver_java_options("-XX:ActiveProcessorCount=4") == f"{JIT_PROFILE} -XX:ActiveProcessorCount=4"


def test_driver_java_options_caller_tier_comes_last():
    # HotSpot applies the last occurrence of a flag: the caller's level wins
    opts = driver_java_options("-Dx=1 -XX:TieredStopAtLevel=4").split()
    assert opts == [*JIT_PROFILE.split(), "-Dx=1", "-XX:TieredStopAtLevel=4"]


def test_session_jvm_runs_profile_then_caller_options(spark):
    """The test session passes -XX:TieredStopAtLevel=4 (conftest); the JVM
    get_spark launched lists the profile first and runs at level 4 with the
    profile's code cache."""
    args = jvm_input_arguments(spark)
    assert set(JIT_PROFILE.split()) <= set(args)
    assert args.index("-XX:TieredStopAtLevel=1") < args.index("-XX:TieredStopAtLevel=4")
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    hotspot = mf.getPlatformMXBean(
        spark.sparkContext._jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    assert hotspot.getVMOption("TieredStopAtLevel").getValue() == "4"
    assert hotspot.getVMOption("ReservedCodeCacheSize").getValue() == str(240 * 2**20)


# ---- untuned-session warning and shuffle-partition helper (stub sessions)


class _StubContext:
    defaultParallelism = 7

    def __init__(self, jvm_args):
        runtime = SimpleNamespace(getInputArguments=lambda: list(jvm_args))
        factory = SimpleNamespace(getRuntimeMXBean=lambda: runtime)
        self._jvm = SimpleNamespace(java=SimpleNamespace(lang=SimpleNamespace(management=SimpleNamespace(
            ManagementFactory=factory))))


class _StubSession:
    def __init__(self, jvm_args=("-Xmx3g", *JIT_PROFILE.split()), **conf):
        self.conf = conf  # dict.get(key, default) is RuntimeConfig.get's shape
        self.sparkContext = _StubContext(jvm_args)


def test_small_codegen_cache_warns_once_per_session(caplog):
    small = _StubSession(**{CODEGEN_CACHE_CONF: "100"})
    with caplog.at_level(logging.WARNING, logger="spark_validate.session"):
        assert warn_untuned_session(small) is True
        assert warn_untuned_session(small) is False  # once per session
        assert warn_untuned_session(_StubSession(**{CODEGEN_CACHE_CONF: "100"})) is True
    assert len(caplog.records) == 2
    assert CODEGEN_CACHE_CONF in caplog.records[0].getMessage()


def test_sized_or_unset_codegen_cache():
    assert warn_untuned_session(_StubSession(**{CODEGEN_CACHE_CONF: str(CODEGEN_CACHE_ENTRIES)})) is False
    assert warn_untuned_session(_StubSession(**{CODEGEN_CACHE_CONF: "100000"})) is False
    # an unset conf means Spark's default of 100
    assert warn_untuned_session(_StubSession()) is True


def test_jvm_without_tier_flag_warns_once(caplog):
    tuned = {CODEGEN_CACHE_CONF: str(CODEGEN_CACHE_ENTRIES)}
    default_jit = _StubSession(jvm_args=("-Xmx3g", "-Dspark.app=x"), **tuned)
    with caplog.at_level(logging.WARNING, logger="spark_validate.session"):
        assert warn_untuned_session(default_jit) is True
        assert warn_untuned_session(default_jit) is False  # once per session
    assert len(caplog.records) == 1
    assert "TieredStopAtLevel" in caplog.records[0].getMessage()


def test_explicit_tier_flag_is_silent(caplog):
    tuned = {CODEGEN_CACHE_CONF: str(CODEGEN_CACHE_ENTRIES)}
    with caplog.at_level(logging.WARNING, logger="spark_validate.session"):
        profile = JIT_PROFILE.split()
        for args in (profile, [*profile, "-XX:TieredStopAtLevel=4"], ["-XX:TieredStopAtLevel=4"]):
            assert warn_untuned_session(_StubSession(jvm_args=args, **tuned)) is False
    assert caplog.records == []


def test_untuned_session_warns_for_both(caplog):
    with caplog.at_level(logging.WARNING, logger="spark_validate.session"):
        assert warn_untuned_session(_StubSession(jvm_args=())) is True
    assert len(caplog.records) == 2


def test_shuffle_partitions_falls_back_to_default_parallelism():
    assert shuffle_partitions(_StubSession(**{"spark.sql.shuffle.partitions": "12"})) == 12
    assert shuffle_partitions(_StubSession(**{"spark.sql.shuffle.partitions": "auto"})) == 7


# ---- compiled classes are reused across ops


def test_second_monitoring_pass_compiles_nothing(spark):
    """A drift fit+calculate and a CBPE fit+estimate hold more generated
    classes than Spark's default 100-entry cache. With the session's cache
    sized by get_spark, running the same pass again finds every class
    compiled: zero Janino compiles."""
    from pyspark.sql import functions as F

    from spark_validate.chunking import SizeBasedChunker
    from spark_validate.drift.univariate import UnivariateDriftCalculator
    from spark_validate.performance.cbpe import CBPE
    from spark_validate.session import jvm_compile_counters

    u = F.pmod(F.col("id") * F.lit(2654435761), F.lit(1000)) / F.lit(1000.0)
    v = F.pmod(F.col("id") * F.lit(40503), F.lit(997)) / F.lit(997.0)
    df = spark.range(4000).select(
        "id",
        u.alias("score"),
        (v < u * u).cast("int").alias("y_true"),
        (u > 0.5).cast("int").alias("y_pred"),
        (u * 10 + v).alias("x"),
    )
    ref, ana = df.filter("id < 2000"), df.filter("id >= 2000")

    def monitoring_pass():
        chunker = SizeBasedChunker(chunk_size=500, order_by=["id"])
        drift = UnivariateDriftCalculator(
            column_names=["x"], continuous_methods=["jensen_shannon"], chunker=chunker
        ).fit(ref)
        drift.calculate(ana).collect()
        drift.release_cache()
        est = CBPE(
            metrics=("roc_auc",), y_true="y_true", y_pred="y_pred", y_pred_proba="score", chunker=chunker
        ).fit(ref)
        est.estimate(ana.drop("y_true")).collect()

    before = jvm_compile_counters(spark)[0]
    monitoring_pass()
    first = jvm_compile_counters(spark)[0]
    monitoring_pass()
    second = jvm_compile_counters(spark)[0]
    assert second - first == 0, f"second pass compiled {second - first} classes (first: {first - before})"
