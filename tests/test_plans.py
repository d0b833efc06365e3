"""Physical-plan regression guards — the scale properties the engine is
designed around, asserted on the actual Catalyst output so they cannot
silently rot:

* no row-at-a-time Python UDFs anywhere (Arrow-only Python surface),
* no Python at all on the monitoring path: drift, realized performance and
  CBPE plans hold no Python UDF and no Python-RDD leaf (``ExistingRDD``);
  driver-built tables are ``LocalTableScan``s,
* no cartesian products in any query plan,
* predicate pushdown + column pruning reach the parquet scan,
* small dimension joins broadcast,
* the scalable row index never collapses to a single-task global sort.
"""

import os

import pytest

SF_DIR = os.environ.get("SPARK_VALIDATE_TEST_SF", "/root/testdata/sf0.001")


def plan_str(df, mode: str = "formatted") -> str:
    jvm = df.sparkSession._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )


@pytest.fixture(scope="module")
def entry_queries():
    import __spark_entry__ as entry

    return entry.queries()


def test_no_row_python_udfs_or_cartesians_anywhere(spark, entry_queries):
    """Every driver-contract query compiles without BatchEvalPython (row-wise
    Python, the 10-100x-slower-than-Arrow path) and without CartesianProduct
    (the quadratic join that kills any 100TB run)."""
    offenders = {}
    for name, fn in entry_queries.items():
        p = plan_str(fn(spark, SF_DIR))
        bad = [m for m in ("BatchEvalPython", "CartesianProduct") if m in p]
        if bad:
            offenders[name] = bad
    assert not offenders, f"scale-hostile operators in plans: {offenders}"


PYTHON_OPERATORS = ("ExistingRDD", "ArrowEvalPython", "BatchEvalPython")


@pytest.fixture(scope="module")
def model_frame(spark):
    """Reference (id < 3000) and analysis rows from ``spark.range``, so the
    only leaves the input brings are Range scans. Labels follow score²,
    which leaves the scores miscalibrated."""
    from pyspark.sql import functions as F

    u = F.pmod(F.col("id") * F.lit(2654435761), F.lit(1000)) / F.lit(1000.0)
    v = F.pmod(F.col("id") * F.lit(40503), F.lit(997)) / F.lit(997.0)
    w = F.pmod(F.col("id") * F.lit(69069), F.lit(991)) / F.lit(991.0)
    raw = [u * u + 0.05, (1 - u) * v + 0.05, w * (1 - v) + 0.05]
    tot = raw[0] + raw[1] + raw[2]
    cls = F.when(v < raw[0] / tot, "a").when(v < (raw[0] + raw[1]) / tot, "b").otherwise("c")
    pred = F.when((raw[0] >= raw[1]) & (raw[0] >= raw[2]), "a").when(raw[1] >= raw[2], "b").otherwise("c")
    return spark.range(6000).select(
        "id",
        (F.col("id") < 3000).alias("is_ref"),
        u.alias("score"),
        (v < u * u).cast("int").alias("y_true"),
        (u > 0.5).cast("int").alias("y_pred"),
        (u * 10 + v).alias("x"),
        F.element_at(F.array(*[F.lit(c) for c in "abcd"]), (F.col("id") % 4 + 1).cast("int")).alias("cat"),
        *[(r / tot).alias(f"p_{c}") for r, c in zip(raw, "abc")],
        cls.alias("y_true_mc"),
        pred.alias("y_pred_mc"),
    )


def _assert_no_python(df):
    p = plan_str(df)
    bad = [m for m in PYTHON_OPERATORS if m in p]
    assert not bad, f"Python on the monitoring path: {bad}\n{p}"


def test_univariate_drift_plans_run_no_python(model_frame):
    from spark_validate.chunking import SizeBasedChunker
    from spark_validate.drift.univariate import UnivariateDriftCalculator

    calc = UnivariateDriftCalculator(
        column_names=["x", "cat"],
        continuous_methods=["jensen_shannon"],
        categorical_methods=["jensen_shannon", "hellinger", "chi2"],
        chunker=SizeBasedChunker(chunk_size=1000, order_by=["id"]),
    ).fit(model_frame.filter("is_ref"))
    res = calc.calculate(model_frame.filter("NOT is_ref"))
    assert set(r.column_name for r in res.select("column_name").distinct().collect()) == {"x", "cat"}
    _assert_no_python(res)
    calc.release_cache()


def test_performance_calculator_plan_runs_no_python(model_frame):
    from spark_validate.chunking import SizeBasedChunker
    from spark_validate.performance.calculator import PerformanceCalculator

    calc = PerformanceCalculator(
        metrics=("roc_auc", "f1", "accuracy"),
        y_true="y_true",
        y_pred="y_pred",
        y_pred_proba="score",
        chunker=SizeBasedChunker(chunk_size=1000, order_by=["id"]),
    ).fit(model_frame.filter("is_ref"))
    _assert_no_python(calc.calculate(model_frame.filter("NOT is_ref")))


def test_performance_calculator_multiclass_plan_runs_no_python(model_frame):
    from spark_validate.chunking import SizeBasedChunker
    from spark_validate.performance.calculator import PerformanceCalculator

    calc = PerformanceCalculator(
        metrics=("roc_auc", "average_precision", "f1", "accuracy", "business_value", "confusion_matrix"),
        y_true="y_true_mc",
        y_pred="y_pred_mc",
        y_pred_proba={c: f"p_{c}" for c in "abc"},
        problem_type="multiclass_classification",
        business_value_matrix=[[1.0, -1.0, 0.0], [-1.0, 2.0, 0.0], [0.0, 0.0, 3.0]],
        chunker=SizeBasedChunker(chunk_size=1000, order_by=["id"]),
    ).fit(model_frame.filter("is_ref"))
    _assert_no_python(calc.calculate(model_frame.filter("NOT is_ref")))


def test_cbpe_binary_plan_runs_no_python(model_frame):
    from spark_validate.calibration import IsotonicCalibrator
    from spark_validate.chunking import SizeBasedChunker
    from spark_validate.performance.cbpe import CBPE

    est = CBPE(
        metrics=("roc_auc", "accuracy"),
        y_true="y_true",
        y_pred="y_pred",
        y_pred_proba="score",
        chunker=SizeBasedChunker(chunk_size=1000, order_by=["id"]),
    ).fit(model_frame.filter("is_ref"))
    assert isinstance(est._calibrator, IsotonicCalibrator)
    _assert_no_python(est.estimate(model_frame.filter("NOT is_ref").drop("y_true")))


def test_cbpe_multiclass_plan_runs_no_python(model_frame):
    from spark_validate.calibration import IsotonicCalibrator
    from spark_validate.chunking import SizeBasedChunker
    from spark_validate.performance.cbpe import CBPE

    est = CBPE(
        metrics=("accuracy", "f1"),
        y_true="y_true_mc",
        y_pred="y_pred_mc",
        y_pred_proba={c: f"p_{c}" for c in "abc"},
        problem_type="multiclass_classification",
        chunker=SizeBasedChunker(chunk_size=1000, order_by=["id"]),
    ).fit(model_frame.filter("is_ref"))
    assert any(isinstance(c, IsotonicCalibrator) for c in est._calibrators.values())
    _assert_no_python(est.estimate(model_frame.filter("NOT is_ref").drop("y_true_mc")))


# ---- query budgets: each fit's SQL executions, pinned so a later change
# cannot add passes over the reference silently


def _sql_executions(spark) -> int:
    """Id of the newest SQL execution in the status store, once the listener
    bus has drained (every execution an action started is then recorded).
    The id, unlike ``executionsCount()``, keeps counting after the store
    starts evicting old executions (``spark.sql.ui.retainedExecutions``)
    in a long test session."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    done = spark._jsparkSession.sharedState().statusStore().executionsList()
    return done.last().executionId() if done.nonEmpty() else -1


def _fit_executions(spark, calc, reference) -> int:
    before = _sql_executions(spark)
    calc.fit(reference)
    return _sql_executions(spark) - before


@pytest.fixture(scope="module")
def weekly_reference(model_frame):
    """The reference rows with an hourly timestamp: weekly period chunks
    assign without a query of their own."""
    from pyspark.sql import functions as F

    return model_frame.filter("is_ref").withColumn("ts", F.timestamp_seconds(F.col("id") * 3600))


def _weekly():
    from spark_validate.chunking import chunker_for

    return chunker_for(chunk_period="W", timestamp_column="ts")


def test_cbpe_binary_fit_query_budget(spark, weekly_reference):
    """One aggregate (row count, sampling-error counts, AUROC sample size),
    one collect shared by the calibrator and the AUROC components, one
    threshold collect."""
    from spark_validate.performance.cbpe import CBPE

    est = CBPE(
        metrics=("roc_auc", "accuracy"),
        y_true="y_true",
        y_pred="y_pred",
        y_pred_proba="score",
        chunker=_weekly(),
    )
    assert _fit_executions(spark, est, weekly_reference) == 3


def test_cbpe_multiclass_fit_query_budget(spark, weekly_reference):
    from spark_validate.performance.cbpe import CBPE

    est = CBPE(
        metrics=("roc_auc", "average_precision", "f1"),
        y_true="y_true_mc",
        y_pred="y_pred_mc",
        y_pred_proba={c: f"p_{c}" for c in "abc"},
        problem_type="multiclass_classification",
        chunker=_weekly(),
    )
    assert _fit_executions(spark, est, weekly_reference) == 3


def test_performance_calculator_binary_fit_query_budget(spark, weekly_reference):
    """Class-free binary fit: the sampling-error aggregate, the AUROC rank
    sample and the threshold collect."""
    from spark_validate.performance.calculator import PerformanceCalculator

    calc = PerformanceCalculator(
        metrics=("roc_auc", "f1", "accuracy", "business_value", "confusion_matrix"),
        y_true="y_true",
        y_pred="y_pred",
        y_pred_proba="score",
        business_value_matrix=[[0.0, -1.0], [-2.0, 5.0]],
        chunker=_weekly(),
    )
    assert _fit_executions(spark, calc, weekly_reference) == 3


def test_performance_calculator_multiclass_fit_query_budget(spark, weekly_reference):
    """The class-list collect, then as binary."""
    from spark_validate.performance.calculator import PerformanceCalculator

    calc = PerformanceCalculator(
        metrics=("roc_auc", "f1", "accuracy", "business_value", "confusion_matrix"),
        y_true="y_true_mc",
        y_pred="y_pred_mc",
        y_pred_proba={c: f"p_{c}" for c in "abc"},
        problem_type="multiclass_classification",
        business_value_matrix=[[1.0, -1.0, 0.0], [-1.0, 2.0, 0.0], [0.0, 0.0, 3.0]],
        chunker=_weekly(),
    )
    assert _fit_executions(spark, calc, weekly_reference) == 4


def test_performance_calculator_regression_fit_query_budget(spark, weekly_reference):
    """The sampling-error aggregate and the threshold collect: regression
    samples no scored rows."""
    from spark_validate.performance.calculator import PerformanceCalculator

    calc = PerformanceCalculator(
        metrics=("mae", "mape", "mse", "msle", "rmse", "rmsle"),
        y_true="score",
        y_pred="x",
        problem_type="regression",
        chunker=_weekly(),
    )
    assert _fit_executions(spark, calc, weekly_reference) == 2


def test_univariate_drift_fit_query_budget(spark, weekly_reference):
    """Threshold pass over the reference chunks, moments, histogram."""
    from spark_validate.drift.univariate import UnivariateDriftCalculator

    calc = UnivariateDriftCalculator(
        column_names=["x"], continuous_methods=["jensen_shannon"], chunker=_weekly()
    )
    assert _fit_executions(spark, calc, weekly_reference) == 3
    calc.release_cache()


@pytest.mark.parametrize("extra", ["psi", "kolmogorov_smirnov"])
def test_univariate_drift_multi_method_fit_query_budget(spark, weekly_reference, extra):
    """Four executions when psi or KS is fitted next to JS and Hellinger:
    the three of the JS-only fit plus one.

    * psi: the threshold pass reads the cached chunk histogram for two bin
      specs (doane and psi), so ``_calc_continuous`` materializes it with an
      eager ``count()`` first.
    * kolmogorov_smirnov: under the default ``computation='auto'`` a
      reference below 10k rows takes the exact path, which collects the raw
      reference column (``toPandas``)."""
    from spark_validate.drift.univariate import UnivariateDriftCalculator

    calc = UnivariateDriftCalculator(
        column_names=["x"],
        continuous_methods=("jensen_shannon", "hellinger", extra),
        chunker=_weekly(),
    )
    assert _fit_executions(spark, calc, weekly_reference) == 4
    calc.release_cache()


def test_univariate_drift_mixed_threshold_fit_query_budget(spark, weekly_reference):
    """A {method: threshold} dict of mixed types unions its grouped fits
    into the one threshold collect."""
    from spark_validate.drift.univariate import UnivariateDriftCalculator
    from spark_validate.thresholds import MedianAbsoluteDeviationThreshold, QuantileThreshold

    calc = UnivariateDriftCalculator(
        column_names=["x"],
        continuous_methods=["jensen_shannon", "hellinger"],
        chunker=_weekly(),
        threshold={"jensen_shannon": QuantileThreshold(), "hellinger": MedianAbsoluteDeviationThreshold()},
    )
    assert _fit_executions(spark, calc, weekly_reference) == 3
    calc.release_cache()


def test_scan_pushdown_and_column_pruning(spark, entry_queries):
    """The chunked stats query must push its reference-period timestamp
    filter into the parquet scan and read only the referenced columns —
    at 100TB a full-width unpushed scan is the whole job's cost."""
    p = plan_str(entry_queries["chunk_column_stats"](spark, SF_DIR))
    pushed = [l for l in p.splitlines() if "PushedFilters" in l]
    assert pushed and any("l_shipdate" in l and "[]" not in l.replace("[],", "") for l in pushed), pushed
    schemas = [l for l in p.splitlines() if "ReadSchema" in l]
    assert schemas
    for line in schemas:
        # lineitem has 16 columns; the stats pass needs the order key + the
        # analyzed columns only
        n_cols = line.split("struct<", 1)[1].count(":")
        assert n_cols <= 6, f"scan reads {n_cols} columns: {line}"


def test_referential_check_broadcasts_small_dimension(spark, entry_queries):
    """Orphan detection against a small reference manifest must be a
    broadcast anti/semi join, not a sort-merge shuffle of the fact table."""
    p = plan_str(entry_queries["referential_orphans"](spark, SF_DIR))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_scalable_row_index_has_no_single_partition_exchange(spark, lineitem):
    """strategy='scalable' must not funnel the table through one task the
    way a global window/sort would (Exchange SinglePartition)."""
    from spark_validate.chunking import with_row_index

    df = with_row_index(lineitem, ["l_shipdate", "l_orderkey", "l_linenumber"], "scalable")
    p = plan_str(df)
    assert "SinglePartition" not in p, p
    # the sort strategy (kept for tiny data) IS the single-task shape
    df_sort = with_row_index(lineitem, ["l_shipdate", "l_orderkey", "l_linenumber"], "sort")
    assert "SinglePartition" in plan_str(df_sort)


def test_drift_histogram_cache_lifecycle(spark, lineitem):
    """The shared per-method histogram is persisted during calculate (its
    branches are NOT deduped by ReuseExchange — measured 2.2x slower without
    the cache) and MUST be released by release_cache(): a leaked persist per
    calculator accumulates executor memory over a long suite."""
    from spark_validate.chunking import SizeBasedChunker
    from spark_validate.drift.univariate import UnivariateDriftCalculator

    import time

    def cached_ids():
        return {r.id() for r in spark.sparkContext._jsc.sc().getRDDStorageInfo()}

    order = ["l_shipdate", "l_orderkey", "l_linenumber"]
    ref = lineitem.filter("l_shipdate < DATE'1998-07-01'")
    ana = lineitem.filter("l_shipdate >= DATE'1998-07-01'")
    # Identity-based via the delta of cached RDD ids, not a global count:
    # other tests' non-blocking unpersists drain asynchronously on the shared
    # session, so global counts are racy — but their ids can only DISAPPEAR
    # from storage, never appear, so ids new since `before` belong to this
    # calculator. (df.rdd.id() can't be used directly: the Python-facing
    # .rdd wrapper is a different RDD than the JVM-cached one.)
    before = cached_ids()
    calc = UnivariateDriftCalculator(
        column_names=["l_extendedprice", "l_quantity"],
        continuous_methods=["jensen_shannon", "hellinger", "psi", "wasserstein"],
        chunker=SizeBasedChunker(chunk_size=2000, order_by=order),
    ).fit(ref)
    res = calc.calculate(ana)
    assert res.count() > 0
    # shared histogram lives while results are read
    live = cached_ids() - before
    assert live and len(calc._live_caches) > 0
    calc.release_cache()
    for _ in range(50):  # release is unpersist(blocking=False) — poll
        if not (live & cached_ids()):
            break
        time.sleep(0.2)
    assert not (live & cached_ids())  # and is fully released afterwards


def test_catalog_table_partition_pruning_and_append(spark):
    """Iceberg-shaped evidence (north rule: the input IS a catalog table):
    the image table materialized as a fmt-partitioned catalog table is read
    through the ``table:`` form, and a fmt filter prunes AT THE SCAN — the
    file index serves only the matching partition directories, the sandbox
    analog of Iceberg metadata pruning. Results append back via the
    ``table:`` sink."""
    from pyspark.sql import functions as F

    from spark_validate.image import synth_image_table
    from spark_validate.io import read_table, save_catalog_table, write_results

    img = synth_image_table(spark, 2000, n_partitions=4, dup_rate=0.0, orphan_rate=0.0)
    save_catalog_table(img, "sv_imgcat", partition_by=["fmt"])

    full = read_table(spark, "table:sv_imgcat")
    fmts = [r[0] for r in full.select("fmt").distinct().collect()]
    assert len(fmts) >= 3
    one = read_table(spark, "table:sv_imgcat").filter(F.col("fmt") == fmts[0]).select("image_id", "w")
    # 1) plan: partition filter present at the scan node
    plan = one._jdf.queryExecution().executedPlan().toString()
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and any("fmt" in l for l in pf), plan
    # 2) files: the pruned scan serves a strict subset of the table's files
    assert 0 < len(one.inputFiles()) < len(full.inputFiles())
    # 3) results append back through the table: sink (V2 writeTo on Iceberg,
    #    insertInto fallback on the builtin catalog)
    res = one.groupBy().agg(F.count(F.lit(1)).cast("long").alias("n")).select(
        F.lit(str(fmts[0])).alias("fmt"), "n"
    )
    spark.sql("DROP TABLE IF EXISTS sv_imgcat_results")
    write_results(res, "table:sv_imgcat_results")
    write_results(res, "table:sv_imgcat_results")  # second write = true append
    out = spark.read.table("sv_imgcat_results").collect()
    assert len(out) == 2 and all(r["n"] == one.count() for r in out)
    spark.sql("DROP TABLE IF EXISTS sv_imgcat")
    spark.sql("DROP TABLE IF EXISTS sv_imgcat_results")


def test_read_source_time_travel_plumbing(spark, tmp_path):
    """Snapshot-pinned source config: read_source's dict form carries
    Iceberg time-travel args (snapshot-id / as-of-timestamp reader options)
    and arbitrary reader options. The container has no Iceberg jar, so the
    observable contract is (a) generic options demonstrably reach the
    reader (pathGlobFilter prunes files), (b) time-travel args are
    harmless no-ops on the builtin-catalog stand-in tables (unknown v1
    options are ignored), keeping one config portable across both."""
    from pyspark.sql import functions as F

    from spark_validate.io import read_source, save_catalog_table

    df = spark.range(100).select(F.col("id"), (F.col("id") % 4).alias("part"))
    df.write.mode("overwrite").partitionBy("part").parquet(str(tmp_path / "src"))

    # (a) options reach the path reader: glob restricted to two partitions
    got = read_source(
        spark,
        {"path": str(tmp_path / "src"), "format": "parquet",
         "options": {"pathGlobFilter": "*.parquet", "recursiveFileLookup": "false"}},
    )
    assert got.count() == 100
    two = read_source(
        spark,
        {"path": str(tmp_path / "src") + "/part=[01]", "format": "parquet"},
    )
    assert two.count() == 50

    # (b) snapshot args no-op on a builtin catalog table (Iceberg would
    # honor them; v1 relations ignore unknown reader options)
    save_catalog_table(df, "sv_tt_probe", partition_by=["part"])
    pinned = read_source(
        spark,
        {"path": "table:sv_tt_probe", "snapshot_id": 42,
         "as_of_timestamp": 1700000000000},
    )
    assert pinned.count() == 100
    spark.sql("DROP TABLE IF EXISTS sv_tt_probe")


def test_read_table_csv_user_options_override_defaults(spark, tmp_path):
    """The CSV convenience defaults (header, inferSchema) must lose to
    caller-supplied options — regression: they were applied after the
    options dict and silently clobbered it."""
    from spark_validate.io import read_source

    p = str(tmp_path / "d.csv")
    with open(p, "w") as f:
        f.write("10,20\n30,40\n")
    headerless = read_source(spark, {"path": p, "options": {"header": "false"}})
    assert headerless.count() == 2  # first row is DATA, not a header
    defaulted = read_source(spark, {"path": p})
    assert defaulted.count() == 1  # default header=True consumes row one
