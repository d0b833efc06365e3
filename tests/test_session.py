"""Session set-up: driver-heap sizing, the codegen-cache warning and the
shuffle-partition helper (pure, with stub sessions), and compiled-class
reuse on the test session."""

import logging

from spark_validate.session import (
    CODEGEN_CACHE_CONF,
    CODEGEN_CACHE_ENTRIES,
    driver_memory_for,
    shuffle_partitions,
    warn_small_codegen_cache,
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


# ---- codegen cache warning and shuffle-partition helper (stub sessions)


class _StubContext:
    defaultParallelism = 7


class _StubSession:
    def __init__(self, **conf):
        self.conf = conf  # dict.get(key, default) is RuntimeConfig.get's shape
        self.sparkContext = _StubContext()


def test_small_codegen_cache_warns_once_per_session(caplog):
    small = _StubSession(**{CODEGEN_CACHE_CONF: "100"})
    with caplog.at_level(logging.WARNING, logger="spark_validate.session"):
        assert warn_small_codegen_cache(small) is True
        assert warn_small_codegen_cache(small) is False  # once per session
        assert warn_small_codegen_cache(_StubSession(**{CODEGEN_CACHE_CONF: "100"})) is True
    assert len(caplog.records) == 2
    assert CODEGEN_CACHE_CONF in caplog.records[0].getMessage()


def test_sized_or_unset_codegen_cache():
    assert warn_small_codegen_cache(_StubSession(**{CODEGEN_CACHE_CONF: str(CODEGEN_CACHE_ENTRIES)})) is False
    assert warn_small_codegen_cache(_StubSession(**{CODEGEN_CACHE_CONF: "100000"})) is False
    # an unset conf means Spark's default of 100
    assert warn_small_codegen_cache(_StubSession()) is True


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
