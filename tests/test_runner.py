"""Runner: config → checks → results/violations/lineage; store; resume."""

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from spark_validate.io import FittedStore
from spark_validate.runner import run_suite


@pytest.fixture()
def workspace(tmp_path, spark):
    rng = np.random.default_rng(11)
    n = 3000
    pdf = pd.DataFrame(
        {
            "image_id": [f"id{i:05d}" for i in range(n)],
            "w": rng.choice([64, 128, 256], n),
            "h": rng.choice([64, 128, 256], n),
            "fmt": rng.choice(["jpeg", "png"], n),
            "part": rng.choice(["p0", "p1", "p2", "p3"], n),
            "phash": rng.integers(0, 2**40, n),
        }
    )
    ref = pdf.iloc[: n // 2]
    ana = pdf.iloc[n // 2 :].copy()
    ana.loc[ana.index[:20], "fmt"] = "bmp"  # domain violations
    spark.createDataFrame(ref).write.mode("overwrite").parquet(str(tmp_path / "ref"))
    spark.createDataFrame(ana).write.mode("overwrite").parquet(str(tmp_path / "ana"))
    spark.createDataFrame(ref[["phash"]].drop_duplicates()).write.mode("overwrite").parquet(
        str(tmp_path / "manifest")
    )
    return tmp_path


def _config(ws):
    return {
        "run_id": "testrun",
        "output_dir": str(ws / "out"),
        "store_dir": str(ws / "store"),
        "reference": str(ws / "ref"),
        "analysis": str(ws / "ana"),
        "chunking": {"partition_columns": ["part"]},
        "checks": [
            {"type": "column_stats", "columns": ["w", "h"], "metrics": ["missing_rate", "avg", "min", "max"]},
            {"type": "domain", "columns": ["fmt"], "domain": ["jpeg", "png", "webp"]},
            {"type": "uniqueness", "keys": ["image_id"], "salt_buckets": 4},
            {"type": "referential", "column": "phash", "manifest": str(ws / "manifest")},
            {"type": "drift", "columns": ["w"], "continuous_methods": ["kolmogorov_smirnov"]},
        ],
    }


def test_run_suite_end_to_end(spark, workspace):
    report = run_suite(spark, _config(workspace))
    assert set(report) == {
        "column_stats__w_h",
        "domain__fmt",
        "uniqueness__image_id",
        "referential__phash",
        "drift__w",
    }
    assert report["domain__fmt"]["alerts"] > 0  # injected bmp rows
    res = spark.read.parquet(str(workspace / "out" / "results"))
    assert res.filter(F.col("check") == "domain__fmt").count() == 4  # one per partition chunk
    lin = spark.read.parquet(str(workspace / "out" / "lineage"))
    assert lin.filter(F.col("status") == "complete").count() >= 5 * 4
    v = spark.read.parquet(str(workspace / "out" / "violations"))
    assert v.filter(F.col("check") == "domain__fmt").count() == 20
    # north-rule per-partition verdict rollup: one row per chunk across the
    # whole suite; the bmp-injected partitions fail, so not all pass
    verd = spark.read.parquet(str(workspace / "out" / "verdicts")).toPandas()
    assert len(verd) == 4 and (verd["checks_run"] == 5).all()
    assert verd["n_alerts"].sum() > 0 and not verd["passed"].all()


def test_fitted_store_roundtrip(spark, workspace, tmp_path):
    from spark_validate.calculators import ColumnStatsCalculator
    from spark_validate.chunking import PartitionChunker

    ref = spark.read.parquet(str(workspace / "ref"))
    calc = ColumnStatsCalculator(["w"], metrics=("avg",), chunker=PartitionChunker(columns=["part"]))
    calc.fit(ref)
    store = FittedStore(str(tmp_path / "st"))
    store.save("k", calc.get_state())
    calc2 = ColumnStatsCalculator(["w"], metrics=("avg",), chunker=PartitionChunker(columns=["part"]))
    calc2.set_state(store.load("k"))
    a = calc.calculate(ref).orderBy("chunk_key").toPandas()
    b = calc2.calculate(ref).orderBy("chunk_key").toPandas()
    assert np.allclose(a["value"], b["value"])
    assert np.allclose(a["upper_threshold"], b["upper_threshold"])


def test_resume_skips_completed_partitions(spark, workspace):
    cfg = _config(workspace)
    run_suite(spark, cfg)  # first run completes everything
    report2 = run_suite(spark, cfg)  # rerun same run_id → all partitions skipped
    for name, rep in report2.items():
        assert rep["skipped_partitions"] == 4, name
        assert rep["fitted_from_store"] or name in (
            "domain__fmt",
            "uniqueness__image_id",
            "referential__phash",
        ), name


def test_database_writer_sqlite_roundtrip(spark, workspace, tmp_path):
    """DatabaseWriter parity (ref nannyml/io/db/database_writer.py:19-133):
    a run row is inserted per write and every metric row links to it; the
    metric table carries the reference's flattened DbMetric columns."""
    import sqlite3

    cfg = _config(workspace)
    cfg["output_dir"] = str(tmp_path / "out")
    cfg["checks"] = cfg["checks"][:2]  # column_stats + domain
    db_path = tmp_path / "metrics.db"
    cfg["database"] = {"connection_string": f"sqlite:///{db_path}", "model_name": "img_model"}
    report = run_suite(spark, cfg)
    for name, rep in report.items():
        assert rep["db_rows"] == rep["rows"], name
        assert "db_error" not in rep, rep

    conn = sqlite3.connect(db_path)
    try:
        runs = conn.execute("SELECT id, run_id, model_name FROM runs ORDER BY id").fetchall()
        assert len(runs) == 2
        assert {r[2] for r in runs} == {"img_model"}
        n_metrics = conn.execute("SELECT COUNT(*) FROM metrics").fetchone()[0]
        assert n_metrics == sum(rep["rows"] for rep in report.values())
        # every metric row joins back to its run; alerts round-trip as 0/1
        orphan = conn.execute(
            "SELECT COUNT(*) FROM metrics m LEFT JOIN runs r ON m.run_id = r.id WHERE r.id IS NULL"
        ).fetchone()[0]
        assert orphan == 0
        alerts = conn.execute(
            "SELECT COUNT(*) FROM metrics WHERE alert = 1 AND metric_name = 'unseen_values_rate'"
        ).fetchone()[0]
        assert alerts > 0  # the injected bmp rows alert through to the DB
    finally:
        conn.close()


def test_database_writer_bad_url_surfaces_in_report(spark, workspace, tmp_path):
    cfg = _config(workspace)
    cfg["output_dir"] = str(tmp_path / "out2")
    cfg["checks"] = cfg["checks"][:1]
    cfg["database"] = {"connection_string": "postgres://nope"}
    report = run_suite(spark, cfg)
    (rep,) = report.values()
    assert "db_error" in rep and "unsupported connection string" in rep["db_error"]


def test_phash_dedup_check_in_runner(spark, workspace, tmp_path):
    """Config-driven perceptual near-dup check: chunk metrics alert on
    involvement rate, violations carry the pair + Hamming distance."""
    import pandas as pd

    ana = pd.read_parquet(workspace / "ana")
    twins = ana.head(12).copy()
    twins["image_id"] = twins["image_id"] + "_tw"
    twins["phash"] = twins["phash"] ^ 3  # 2 bit flips
    spark.createDataFrame(pd.concat([ana, twins])).write.mode("overwrite").parquet(
        str(tmp_path / "ana2")
    )
    cfg = _config(workspace)
    cfg["output_dir"] = str(tmp_path / "out3")
    cfg["analysis"] = str(tmp_path / "ana2")
    cfg["checks"] = [{"type": "phash_dedup", "column": "phash", "id_column": "image_id"}]
    report = run_suite(spark, cfg)
    rep = report["phash_dedup__phash"]
    assert rep["alerts"] > 0
    v = spark.read.parquet(str(tmp_path / "out3" / "violations")).toPandas()
    assert (v["violation_kind"] == "near_duplicate").all()
    assert len(v) >= 12  # each twin pair appears for the id_a side
    assert v["observed_value"].str.contains("@h=2").all()


def test_runner_performance_and_cbpe_with_target_join(spark, tmp_path):
    """Estimator check types + the reference runner's delayed-target join
    (nannyml/runner.py:299-305): realized performance needs y_true joined
    back from the targets table; CBPE estimates without it."""
    from spark_validate.datasets import load_synthetic_car_loan_dataset

    ref, ana, tgt = load_synthetic_car_loan_dataset(spark, n_rows=12_000, n_parts=4)
    base = tmp_path / "perf"
    ref.write.mode("overwrite").parquet(str(base / "ref"))
    ana.write.mode("overwrite").parquet(str(base / "ana"))
    tgt.write.mode("overwrite").parquet(str(base / "tgt"))
    cfg = {
        "run_id": "perfrun",
        "output_dir": str(base / "out"),
        "reference": str(base / "ref"),
        "analysis": str(base / "ana"),
        "analysis_targets": str(base / "tgt"),
        "target_join_column": "id",
        "chunking": {"chunk_period": "W", "timestamp_column": "timestamp"},
        "checks": [
            {
                "type": "performance",
                "metrics": ["accuracy", "roc_auc"],
                "y_true": "repaid",
                "y_pred_proba": "y_pred_proba",
            },
            {"type": "cbpe", "metrics": ["accuracy"], "y_true": "repaid"},
        ],
    }
    report = run_suite(spark, cfg)
    assert set(report) == {"performance__accuracy_roc_auc", "cbpe__accuracy"}
    res = spark.read.parquet(str(base / "out" / "results")).toPandas()
    perf = res[(res.check == "performance__accuracy_roc_auc") & (res.method == "accuracy")]
    est = res[(res.check == "cbpe__accuracy") & (res.method == "accuracy")]
    assert len(perf) > 0 and len(est) > 0
    assert perf["value"].between(0.5, 1).all()
    # the estimate tracks realized accuracy on the same chunks
    j = perf.set_index("chunk_key")["value"].to_frame("real").join(
        est.set_index("chunk_key")["value"].to_frame("est"), how="inner"
    )
    assert len(j) > 0
    assert (j["real"] - j["est"]).abs().max() < 0.1


def test_cbpe_and_dle_store_roundtrip(spark, tmp_path):
    """Estimator fitted state JSON-round-trips through the FittedStore and
    a store-loaded instance estimates identically (reference stores fitted
    estimators too, nannyml/runner.py:169-202)."""
    import json

    from spark_validate.chunking import SizeBasedChunker
    from spark_validate.datasets import load_synthetic_car_loan_dataset, load_synthetic_car_price_dataset
    from spark_validate.performance.cbpe import CBPE
    from spark_validate.performance.dle import DLE

    ref, ana, _ = load_synthetic_car_loan_dataset(spark, n_rows=8000, n_parts=4)
    ch = SizeBasedChunker(chunk_size=1000, order_by=["id"])
    est = CBPE(metrics=("accuracy", "roc_auc"), y_true="repaid", chunker=ch).fit(ref)
    st = json.loads(json.dumps(est.get_state()))  # JSON-safe
    est2 = CBPE(metrics=("accuracy", "roc_auc"), y_true="repaid", chunker=ch).set_state(st)
    a = est.estimate(ana).orderBy("chunk_index", "method").toPandas()
    b = est2.estimate(ana).orderBy("chunk_index", "method").toPandas()
    np.testing.assert_allclose(a["value"], b["value"])
    assert (a["alert"].fillna(False) == b["alert"].fillna(False)).all()

    rref, rana, _ = load_synthetic_car_price_dataset(spark, n_rows=8000, n_parts=4)
    feats = ["car_age", "km_driven", "price_new", "accident_count"]
    dle = DLE(metrics=("mae", "rmse"), feature_column_names=feats, chunker=ch).fit(rref)
    st = json.loads(json.dumps(dle.get_state()))
    dle2 = DLE(metrics=("mae", "rmse"), feature_column_names=feats, chunker=ch).set_state(st)
    a = dle.estimate(rana).orderBy("chunk_index", "method").toPandas()
    b = dle2.estimate(rana).orderBy("chunk_index", "method").toPandas()
    np.testing.assert_allclose(a["value"], b["value"])


def test_runner_estimators_fit_from_store_on_rerun(spark, tmp_path):
    from spark_validate.datasets import load_synthetic_car_loan_dataset

    ref, ana, _ = load_synthetic_car_loan_dataset(spark, n_rows=6000, n_parts=4)
    base = tmp_path / "st"
    ref.write.mode("overwrite").parquet(str(base / "ref"))
    ana.write.mode("overwrite").parquet(str(base / "ana"))
    cfg = {
        "run_id": "storerun",
        "output_dir": str(base / "out"),
        "store_dir": str(base / "store"),
        "reference": str(base / "ref"),
        "analysis": str(base / "ana"),
        "chunking": {"chunk_period": "W", "timestamp_column": "timestamp"},
        "checks": [{"type": "cbpe", "metrics": ["accuracy"], "y_true": "repaid"}],
    }
    r1 = run_suite(spark, cfg)
    assert not r1["cbpe__accuracy"]["fitted_from_store"]
    r2 = run_suite(spark, cfg)
    assert r2["cbpe__accuracy"]["fitted_from_store"]  # calibrator loaded, no refit


def test_second_run_compiles_nothing(spark, workspace):
    """A rerun under a new run_id compiles no class: the per-run epoch and
    compile counts reach the lineage rows as data, not as literals that
    code generation would inline."""
    import time

    from spark_validate.session import jvm_compile_counters

    cfg = _config(workspace)
    run_suite(spark, cfg)
    time.sleep(1.1)  # the next run's epoch second differs
    before = jvm_compile_counters(spark)[0]
    run_suite(spark, dict(cfg, run_id="testrun2"))
    assert jvm_compile_counters(spark)[0] - before == 0
    lineage = spark.read.parquet(str(workspace / "out" / "lineage"))
    epochs = {r.run_id: r.checkpoint_epoch for r in lineage.select("run_id", "checkpoint_epoch").distinct().collect()}
    assert epochs["testrun2"] > epochs["testrun"]


def test_database_writer_jdbc_frame_matches_sqlite_schema(spark, workspace):
    """Both backends must write the same DbMetric column names — a config
    switch from sqlite to jdbc must not silently rename columns."""
    from spark_validate.calculators import ColumnStatsCalculator
    from spark_validate.chunking import PartitionChunker
    from spark_validate.io.db import DatabaseWriter

    ref = spark.read.parquet(str(workspace / "ref"))
    calc = ColumnStatsCalculator(["w"], metrics=("avg",), chunker=PartitionChunker(columns=["part"]))
    res = calc.fit(ref).calculate(ref)
    frame = DatabaseWriter("jdbc:postgresql://x/y")._metric_frame(res, run_id="r1")
    assert set(frame.columns) >= {
        "run_id", "chunk_key", "chunk_index", "start_timestamp", "end_timestamp",
        "timestamp", "period", "column_name", "metric_name", "value",
        "lower_threshold", "upper_threshold", "alert",
    }
    row = frame.first()
    assert row["metric_name"] == "avg" and row["run_id"] == "r1"
    # partition chunks carry no timestamps; the column still exists, typed
    assert dict(frame.dtypes)["timestamp"] == "timestamp"


def test_run_suite_from_catalog_tables(spark, workspace):
    """North-rule input shape: reference and analysis come from PARTITIONED
    catalog tables read through the ``table:`` form (the sandbox stand-in
    for Iceberg), end-to-end through the runner with partition chunking."""
    from spark_validate.io import save_catalog_table

    save_catalog_table(
        spark.read.parquet(str(workspace / "ref")), "sv_runner_ref", partition_by=["part"]
    )
    save_catalog_table(
        spark.read.parquet(str(workspace / "ana")), "sv_runner_ana", partition_by=["part"]
    )
    cfg = _config(workspace)
    cfg["reference"] = "table:sv_runner_ref"
    cfg["analysis"] = "table:sv_runner_ana"
    cfg["output_dir"] = str(workspace / "out_cat")
    cfg["store_dir"] = str(workspace / "store_cat")
    report = run_suite(spark, cfg)
    assert report["domain__fmt"]["alerts"] > 0
    res = spark.read.parquet(str(workspace / "out_cat" / "results"))
    assert res.filter(F.col("check") == "domain__fmt").count() == 4
    spark.sql("DROP TABLE IF EXISTS sv_runner_ref")
    spark.sql("DROP TABLE IF EXISTS sv_runner_ana")


def test_path_templating_and_scheduling_loop(spark, workspace):
    """Reference parity for the CLI's scheduling loop + jinja-style output
    path templates (nannyml/cli/run.py:23-58, config.py:154-170): templated
    dirs render per run, the interval loop re-runs with unique run_ids."""
    import datetime

    from spark_validate.runner import render_path_template, run_scheduled

    now = datetime.datetime(2026, 8, 17, 9, 7)
    assert (
        render_path_template("/out/{{year}}/{{month}}/{{day}}/{{hour}}{{minute}}", now)
        == "/out/2026/08/17/0907"
    )
    assert render_path_template("/out/{{ weeknumber }}", now) == "/out/34"

    cfg = _config(workspace)
    cfg["checks"] = cfg["checks"][:1]
    cfg["output_dir"] = str(workspace / "out_{{year}}")
    cfg["scheduling"] = {"interval_seconds": 60}
    seen = []

    def fake_run(spark_, c):
        seen.append((c["run_id"], c["output_dir"]))
        return {"ok": {"rows": 1}}

    sleeps = []
    reports = run_scheduled(spark, cfg, run_fn=fake_run, sleep_fn=sleeps.append, max_runs=3)
    assert len(reports) == 3
    assert [r for r, _ in seen] == ["testrun__0", "testrun__1", "testrun__2"]
    assert all(d.endswith(f"out_{datetime.date.today().year}") for _, d in seen)
    assert sleeps == [60, 60]
    # one-off (no scheduling block) runs exactly once with the original id
    cfg2 = _config(workspace)
    cfg2["checks"] = cfg2["checks"][:1]
    seen.clear()
    reports = run_scheduled(spark, cfg2, run_fn=fake_run, sleep_fn=sleeps.append)
    assert len(reports) == 1 and seen[0][0] == "testrun"


def test_text_dedup_check_in_runner(spark, workspace, tmp_path):
    """Config-driven text near-dup check: cluster discovery is global, the
    chunk metric is the per-chunk drop rate, violations name the cluster."""
    import pandas as pd

    rng = np.random.default_rng(3)
    n = 400
    base = pd.DataFrame(
        {
            "image_id": [f"d{i:04d}" for i in range(n)],
            "part": rng.choice(["p0", "p1"], n),
            "caption": [
                " ".join(f"tok{x}" for x in rng.integers(0, 10**9, 12)) for _ in range(n)
            ],
        }
    )
    twins = base.head(8).copy()
    twins["image_id"] = twins["image_id"] + "_tw"
    twins["caption"] = twins["caption"] + " extra"
    spark.createDataFrame(pd.concat([base, twins])).write.mode("overwrite").parquet(
        str(tmp_path / "docs")
    )
    cfg = {
        "run_id": "textdedup",
        "output_dir": str(tmp_path / "outt"),
        "store_dir": str(tmp_path / "storet"),
        "reference": str(tmp_path / "docs"),
        "analysis": str(tmp_path / "docs"),
        "chunking": {"partition_columns": ["part"]},
        "checks": [
            {
                "type": "text_dedup",
                "column": "caption",
                "id_column": "image_id",
                "threshold": 0.5,
            }
        ],
    }
    report = run_suite(spark, cfg)
    rep = report["text_dedup__caption"]
    assert rep["alerts"] > 0
    v = spark.read.parquet(str(tmp_path / "outt" / "violations")).toPandas()
    assert (v["violation_kind"] == "near_duplicate").all()
    assert len(v) == 8  # exactly the non-canonical twin of each planted pair
    assert v["observed_value"].str.contains("size=2").all()
    assert v["row_id"].str.endswith("_tw").all()  # min-id canonical keeps the original


def test_payload_header_check_in_runner(spark, tmp_path):
    """Config-driven structural header check: per-chunk violation rate
    alerts on planted magic/dim corruption, violations carry the issue kind
    and the observed header hex; a clean run stays silent."""
    from spark_validate.image.synth import synth_image_table

    synth_image_table(
        spark, 1200, n_partitions=3, dup_rate=0.0, orphan_rate=0.0, seed=5
    ).write.mode("overwrite").parquet(str(tmp_path / "ref"))
    synth_image_table(
        spark, 1200, n_partitions=3, dup_rate=0.0, orphan_rate=0.0,
        corrupt_magic_rate=0.03, dim_mismatch_rate=0.03, seed=6,
    ).write.mode("overwrite").parquet(str(tmp_path / "ana"))
    cfg = {
        "run_id": "hdr",
        "output_dir": str(tmp_path / "out"),
        "reference": str(tmp_path / "ref"),
        "analysis": str(tmp_path / "ana"),
        "chunking": {"chunk_number": 4, "order_by": ["image_id"]},
        "checks": [{"type": "payload_header", "column": "bytes"}],
    }
    report = run_suite(spark, cfg)
    rep = report["payload_header__bytes"]
    assert rep["alerts"] > 0
    v = spark.read.parquet(str(tmp_path / "out" / "violations")).toPandas()
    kinds = set(v["violation_kind"])
    assert kinds == {"magic_mismatch", "dim_mismatch"}
    # observed_value is the first header bytes: corrupt magic is visible
    assert (
        v.loc[v.violation_kind == "magic_mismatch", "observed_value"].str.startswith("DEADBEEF").all()
    )
    assert (
        v.loc[v.violation_kind == "dim_mismatch", "observed_value"].str.startswith("53564930").all()
    )

    cfg2 = dict(cfg, output_dir=str(tmp_path / "out_clean"), analysis=str(tmp_path / "ref"))
    report2 = run_suite(spark, cfg2)
    assert report2["payload_header__bytes"]["alerts"] == 0


def test_schema_check_in_runner(spark, workspace, tmp_path):
    """Config-driven schema contract: a type mismatch in the contract shows
    up as per-chunk schema_violations alerts; required-null enforcement
    rides the same check."""
    cfg = _config(workspace)
    cfg["output_dir"] = str(tmp_path / "out_schema")
    cfg["checks"] = [
        {
            "type": "schema",
            "name": "schema_contract",
            "expected": {
                "image_id": "string",
                "w": "int",  # workspace synthesizes bigint → type_mismatch
                "h": "bigint",
                "fmt": "string",
                "part": "string",
                "phash": "bigint",
            },
            "required": ["image_id"],
        }
    ]
    report = run_suite(spark, cfg)
    rep = report["schema_contract"]
    assert rep["alerts"] > 0  # every chunk carries the schema_violations alert
    res = spark.read.parquet(str(tmp_path / "out_schema" / "results")).toPandas()
    meta = res[res.method == "schema_violations"]
    assert (meta["value"] == 1.0).all() and bool(meta["alert"].all())
    nulls = res[res.method == "required_null_rate"]
    assert (nulls["value"] == 0.0).all() and not bool(nulls["alert"].any())


def test_phash_decontamination_check_in_runner(spark, workspace, tmp_path):
    """Config-driven image eval-leakage check: corpus rows perceptually
    near a benchmark manifest alert and land in violations with bench id +
    Hamming distance."""
    import pandas as pd

    ana = pd.read_parquet(workspace / "ana")
    bench = ana.head(6)[["image_id", "phash"]].copy()
    bench["image_id"] = [f"bench{i}" for i in range(len(bench))]
    bench["phash"] = bench["phash"] ^ 2  # 1 bit away from 6 corpus rows
    spark.createDataFrame(bench).write.mode("overwrite").parquet(str(tmp_path / "bench"))

    cfg = _config(workspace)
    cfg["output_dir"] = str(tmp_path / "out_decon")
    cfg["checks"] = [
        {
            "type": "phash_decontamination",
            "column": "phash",
            "id_column": "image_id",
            "benchmark": str(tmp_path / "bench"),
            "max_hamming": 4,
        }
    ]
    report = run_suite(spark, cfg)
    rep = report["phash_decontamination__phash"]
    assert rep["alerts"] > 0
    v = spark.read.parquet(str(tmp_path / "out_decon" / "violations")).toPandas()
    assert (v["violation_kind"] == "benchmark_near_match").all()
    assert set(ana.head(6)["image_id"]) <= set(v["row_id"])
    assert v["observed_value"].str.contains("@h=1").all()


def test_derived_columns(spark, workspace):
    """Config-declared virtual columns (SQL expressions over the physical
    schema) are checkable like physical columns — range + stats over
    aspect = w/h and pixels = w*h — and shadowing a real column is refused."""
    from spark_validate.runner import apply_derived_columns

    cfg = {
        "run_id": "derived",
        "output_dir": str(workspace / "out_derived"),
        "store_dir": str(workspace / "store_derived"),
        "reference": str(workspace / "ref"),
        "analysis": str(workspace / "ana"),
        "derived_columns": {"aspect": "w / h", "pixels": "CAST(w AS BIGINT) * h"},
        "chunking": {"partition_columns": ["part"]},
        "checks": [
            {"type": "range", "columns": ["aspect"]},
            {"type": "column_stats", "columns": ["pixels"], "metrics": ["avg", "max"]},
        ],
    }
    report = run_suite(spark, cfg)
    assert report["range__aspect"]["rows"] == 4  # one per partition chunk
    res = spark.read.parquet(str(workspace / "out_derived" / "results"))
    mx = (
        res.filter((F.col("column_name") == "pixels") & (F.col("method") == "max"))
        .agg(F.max("value"))
        .first()[0]
    )
    assert mx == 256 * 256

    with pytest.raises(ValueError, match="shadow"):
        apply_derived_columns(spark.read.parquet(str(workspace / "ana")), {"w": "h"})
    # Spark resolves columns case-insensitively by default — so must the guard
    with pytest.raises(ValueError, match="shadow"):
        apply_derived_columns(spark.read.parquet(str(workspace / "ana")), {"W": "h"})
    # derived columns may reference earlier derived columns (config order)
    chained = apply_derived_columns(
        spark.read.parquet(str(workspace / "ana")),
        {"pixels": "CAST(w AS BIGINT) * h", "log_pixels": "ln(pixels)"},
    )
    assert {"pixels", "log_pixels"} <= set(chained.columns)
    assert chained.filter("abs(log_pixels - ln(pixels)) > 1e-12").count() == 0


def test_violations_sample_rate(spark, workspace):
    """violations_sample_rate keeps a deterministic hash-threshold subset of
    exploded violation rows (identical across reruns) while per-chunk rates
    in results/ stay exact."""
    base = {
        "run_id": "vsample",
        "store_dir": str(workspace / "store_vs"),
        "reference": str(workspace / "ref"),
        "analysis": str(workspace / "ana"),
        "chunking": {"partition_columns": ["part"]},
        "checks": [{"type": "domain", "columns": ["fmt"], "domain": ["jpeg", "png", "webp"]}],
    }
    full_cfg = {**base, "output_dir": str(workspace / "out_vfull")}
    run_suite(spark, full_cfg)
    full = spark.read.parquet(str(workspace / "out_vfull" / "violations"))
    n_full = full.count()
    assert n_full == 20  # the injected bmp rows

    s_cfg = {**base, "output_dir": str(workspace / "out_vs"), "violations_sample_rate": 0.5}
    run_suite(spark, s_cfg)
    rows = lambda df: sorted(
        (r["chunk_key"], r["column_name"], r["violation_kind"], r["observed_value"])
        for r in df.collect()
    )
    sampled1 = rows(spark.read.parquet(str(workspace / "out_vs" / "violations")))
    assert 0 < len(sampled1) < n_full
    # per-chunk RATES are computed from the full data, not the sample
    res_full = spark.read.parquet(str(workspace / "out_vfull" / "results"))
    res_s = spark.read.parquet(str(workspace / "out_vs" / "results"))
    vals = lambda df: sorted((r["chunk_key"], r["value"]) for r in df.collect())
    assert vals(res_full) == vals(res_s)

    # a fresh run over the same data keeps the IDENTICAL subset (the sample
    # is a pure function of the rows, not of run_id or partitioning)
    s_cfg2 = {**base, "run_id": "vsample2", "output_dir": str(workspace / "out_vs2"),
              "violations_sample_rate": 0.5}
    run_suite(spark, s_cfg2)
    again = rows(spark.read.parquet(str(workspace / "out_vs2" / "violations")))
    assert again == sampled1


def test_fused_matches_standalone(spark, workspace):
    """The suite's fused shared-scan pass returns row-for-row what each
    check's own build_check → fit → calculate gives on the same data."""
    from spark_validate.runner import _unique_check_names, build_check, build_chunker

    ws = workspace
    chunking = {"partition_columns": ["part"]}
    checks = [
        {"type": "column_stats", "columns": ["w", "h"],
         "metrics": ["missing_rate", "avg", "min", "max", "std"]},
        {"type": "missing", "columns": ["w"]},
        {"type": "range", "columns": ["w", "h"]},
        {"type": "domain", "columns": ["fmt"], "domain": ["jpeg", "png", "webp"]},
        {"type": "zscore_outliers", "columns": ["w"], "z": 2.0},
        {"type": "cardinality", "columns": ["fmt"], "exact": False},
        {"type": "iqr_outliers", "columns": ["h"], "k": 1.5},
        {"type": "quantiles", "columns": ["w"], "exact": True},
        {"type": "phash_drift", "fold": 4096, "n_bins": 32},
    ]
    run_suite(spark, {
        "run_id": "fusedrun",
        "output_dir": str(ws / "out_f"),
        "store_dir": str(ws / "store_f"),
        "reference": str(ws / "ref"),
        "analysis": str(ws / "ana"),
        "chunking": chunking,
        "checks": checks,
    })
    ref = spark.read.parquet(str(ws / "ref"))
    ana = spark.read.parquet(str(ws / "ana"))
    parts = []
    for name, check_cfg in zip(_unique_check_names(checks), checks):
        calc = build_check(spark, check_cfg, build_chunker(chunking))
        if check_cfg["type"] not in ("domain", "cardinality", "quantiles"):  # no fitted state
            calc.fit(ref)
        parts.append(calc.calculate(ana).toPandas().assign(check=name))
    key = ["check", "chunk_key", "column_name", "method"]
    s = pd.concat(parts).sort_values(key).reset_index(drop=True)
    f = (
        spark.read.parquet(str(ws / "out_f" / "results")).toPandas()
        .sort_values(key).reset_index(drop=True)
    )
    assert len(f) == len(s) and len(f) > 0
    pd.testing.assert_frame_equal(
        f[s.columns], s, check_exact=False, check_dtype=False, rtol=1e-12, atol=1e-12
    )


def test_fused_plan_single_scan(spark, workspace):
    """The fused pass issues ONE aggregation over the fact table: every
    fusable check's result projects from the same persisted wide frame."""
    from spark_validate.calculators import ColumnStatsCalculator
    from spark_validate.checks import DomainCheck, NumericalRangeCalculator
    from spark_validate.chunking import PartitionChunker
    from spark_validate.fused import fused_calculate

    ref = spark.read.parquet(str(workspace / "ref"))
    ana = spark.read.parquet(str(workspace / "ana"))
    chunker = PartitionChunker(columns=["part"])
    stats = ColumnStatsCalculator(["w"], metrics=("avg",), chunker=chunker).fit(ref)
    rng = NumericalRangeCalculator(["w", "h"], chunker=chunker).fit(ref)
    dom = DomainCheck(["fmt"], domain=["jpeg", "png", "webp"], chunker=chunker)
    results, wide = fused_calculate(
        {"stats": stats, "range": rng, "domain": dom}, ana, chunker
    )
    try:
        plan = results["range"]._jdf.queryExecution().executedPlan().toString()
        # the check result reads the cached wide aggregate, not the parquet scan
        assert "InMemoryTableScan" in plan or "Scan parquet" not in plan
        for name, df in results.items():
            assert df.count() > 0, name
    finally:
        wide.unpersist()


def test_database_model_upsert_and_table_per_check(spark, workspace, tmp_path):
    """Reference entity parity: models upserted by name (one row across
    runs), runs carry model_id FK, and table_per_check writes one metrics
    table per calculator (`nannyml/io/db/entities.py:25-120`)."""
    import sqlite3

    db = tmp_path / "m.db"
    cfg = {
        "run_id": "dbrun",
        "output_dir": str(workspace / "out_db"),
        "store_dir": str(workspace / "store_db"),
        "reference": str(workspace / "ref"),
        "analysis": str(workspace / "ana"),
        "chunking": {"partition_columns": ["part"]},
        "database": {
            "connection_string": f"sqlite:///{db}",
            "table": "metrics",
            "model_name": "image_catalog",
            "table_per_check": True,
        },
        "checks": [
            {"type": "missing", "columns": ["w"]},
            {"type": "domain", "columns": ["fmt"], "domain": ["jpeg", "png", "webp"]},
        ],
    }
    run_suite(spark, cfg)
    cfg2 = dict(cfg, run_id="dbrun2", output_dir=str(workspace / "out_db2"),
                store_dir=str(workspace / "store_db2"))
    run_suite(spark, cfg2)
    conn = sqlite3.connect(db)
    try:
        assert conn.execute("SELECT count(*) FROM models").fetchone()[0] == 1
        runs = conn.execute("SELECT model_id FROM runs").fetchall()
        assert len(runs) == 4 and all(r[0] == 1 for r in runs)  # 2 checks × 2 suite runs
        tables = {r[0] for r in conn.execute(
            "SELECT name FROM sqlite_master WHERE type='table'").fetchall()}
        assert {"metrics_missing__w", "metrics_domain__fmt"} <= tables
        n = conn.execute("SELECT count(*) FROM metrics_missing__w").fetchone()[0]
        assert n > 0
    finally:
        conn.close()


def test_database_config_missing_connection_string_raises(spark, workspace):
    """A database block without connection_string fails fast with an
    actionable message (not a KeyError deep in run_suite)."""
    cfg = _config(workspace)
    cfg["checks"] = cfg["checks"][:1]
    cfg["database"] = {"url": "sqlite:///nope.db"}
    with pytest.raises(ValueError, match="connection_string"):
        run_suite(spark, cfg)


def test_runner_plots_artifact(spark, workspace, tmp_path):
    """plots: true renders one SVG per check next to results (the reference
    quick-start's result.plot() last mile, blueprints/metrics.py:16-160)."""
    cfg = _config(workspace)
    cfg["output_dir"] = str(tmp_path / "out")
    cfg["checks"] = cfg["checks"][:2]
    cfg["plots"] = True
    report = run_suite(spark, cfg)
    for name, rep in report.items():
        assert "plot_error" not in rep, rep
        path = rep["plot"]
        assert path.endswith(f"{name}.svg") and os.path.exists(path)
        body = open(path).read()
        assert body.startswith("<svg") and "</svg>" in body


def test_runner_distributions_and_plots_cli(spark, workspace, tmp_path):
    """distributions config writes (x, density) / (value, freq) frames to
    the distributions sink and renders ridgeline + stacked-bar SVGs; the
    plots CLI picks them up and links them from index.html (reference
    result.plot(kind='distribution'), blueprints/distributions.py)."""
    cfg = _config(workspace)
    cfg["output_dir"] = str(tmp_path / "out")
    cfg["checks"] = cfg["checks"][:1]
    cfg["plots"] = True
    cfg["distributions"] = {"continuous": ["w"], "categorical": ["fmt"]}
    report = run_suite(spark, cfg)
    for dname, cols in (
        ("distribution_continuous__w", {"x", "density", "cdf"}),
        ("distribution_categorical__fmt", {"value", "freq"}),
    ):
        assert report[dname]["rows"] > 0 and "error" not in report[dname]
        frame = spark.read.parquet(str(tmp_path / "out" / "distributions" / f"check={dname}"))
        assert cols <= set(frame.columns)
        body = open(report[dname]["plot"]).read()
        assert body.startswith("<svg")
    # CLI renders distributions from the sink and indexes them
    from spark_validate.plots.__main__ import main as plots_main

    rc = plots_main([str(tmp_path / "out" / "results"), str(tmp_path / "plots2")])
    assert rc == 0
    idx = open(str(tmp_path / "plots2" / "index.html")).read()
    assert "distribution_continuous__w" in idx and "distribution_categorical__fmt" in idx
    assert os.path.exists(str(tmp_path / "plots2" / "distribution_continuous__w.svg"))


def test_repetition_check_in_runner(spark, workspace, tmp_path):
    """Gopher-style repetition filter as a config check: per-chunk rate of
    over-limit docs per rule, violation rows name the rule + observed frac."""
    import pandas as pd

    rng = np.random.default_rng(7)
    n = 200
    cap = [" ".join(f"tok{x}" for x in rng.integers(0, 10**9, 20)) for _ in range(n)]
    df = pd.DataFrame(
        {
            "image_id": [f"d{i:04d}" for i in range(n)],
            "part": ["p0" if i < n // 2 else "p1" for i in range(n)],
            "caption": cap,
        }
    )
    # plant 5 highly repetitive docs in p1 (one word repeated -> every frac = max)
    df.loc[df.index[-5:], "caption"] = "spam spam spam spam spam spam spam spam"
    spark.createDataFrame(df).write.mode("overwrite").parquet(str(tmp_path / "docs"))
    cfg = {
        "run_id": "rep",
        "output_dir": str(tmp_path / "outr"),
        "store_dir": str(tmp_path / "storer"),
        "reference": str(tmp_path / "docs"),
        "analysis": str(tmp_path / "docs"),
        "chunking": {"partition_columns": ["part"]},
        "checks": [
            {"type": "repetition", "column": "caption", "id_column": "image_id"}
        ],
    }
    report = run_suite(spark, cfg)
    rep = report["repetition__caption"]
    assert rep["alerts"] > 0
    res = spark.read.parquet(str(tmp_path / "outr" / "results" / "check=repetition__caption"))
    rows = {(r["chunk_key"], r["method"]): r["value"] for r in res.collect()}
    # 3 default rules x 2 chunks
    assert len(rows) == 6
    assert rows[("part=p1", "top_2gram_frac_rate")] == 5 / 100
    assert rows[("part=p0", "top_2gram_frac_rate")] == 0.0
    viol = spark.read.parquet(str(tmp_path / "outr" / "violations" / "check=repetition__caption"))
    v = viol.toPandas()
    assert set(v["row_id"].unique()) == {f"d{i:04d}" for i in range(n - 5, n)}
    assert set(v["violation_kind"].unique()) == {
        "top_2gram_frac_over_limit",
        "top_3gram_frac_over_limit",
    }


def test_boilerplate_check_in_runner(spark, workspace, tmp_path):
    """Corpus-common n-gram boilerplate as a config check: per-chunk flagged
    rate + mean common rate; violation rows name flagged docs."""
    import pandas as pd

    rng = np.random.default_rng(11)
    n = 120
    cap = [" ".join(f"w{x}" for x in rng.integers(0, 10**9, 12)) for _ in range(n)]
    df = pd.DataFrame(
        {
            "image_id": [f"d{i:04d}" for i in range(n)],
            "part": ["p0" if i < n // 2 else "p1" for i in range(n)],
            "caption": cap,
        }
    )
    # plant 4 docs in p1 sharing one templated caption (pure boilerplate)
    df.loc[df.index[-4:], "caption"] = "click here to subscribe to our newsletter today"
    spark.createDataFrame(df).write.mode("overwrite").parquet(str(tmp_path / "docs"))
    cfg = {
        "run_id": "boil",
        "output_dir": str(tmp_path / "outb"),
        "store_dir": str(tmp_path / "storeb"),
        "reference": str(tmp_path / "docs"),
        "analysis": str(tmp_path / "docs"),
        "chunking": {"partition_columns": ["part"]},
        "checks": [
            {"type": "boilerplate", "column": "caption", "id_column": "image_id", "n": 5}
        ],
    }
    report = run_suite(spark, cfg)
    rep = report["boilerplate__caption"]
    assert rep["alerts"] > 0
    res = spark.read.parquet(str(tmp_path / "outb" / "results" / "check=boilerplate__caption"))
    rows = {(r["chunk_key"], r["method"]): r["value"] for r in res.collect()}
    assert rows[("part=p1", "boilerplate_doc_rate")] == 4 / 60
    assert rows[("part=p0", "boilerplate_doc_rate")] == 0.0
    assert rows[("part=p1", "mean_common_rate")] > rows[("part=p0", "mean_common_rate")]
    viol = spark.read.parquet(str(tmp_path / "outb" / "violations" / "check=boilerplate__caption"))
    v = viol.toPandas()
    assert set(v["row_id"].unique()) == {f"d{i:04d}" for i in range(n - 4, n)}
    assert set(v["violation_kind"].unique()) == {"common_ngram_rate_over_limit"}


def test_snapshot_check_in_runner(spark, tmp_path):
    """`snapshot` check: reference = old snapshot, analysis = new; per-chunk
    added/changed rates + the full diff (incl. removed keys with NULL chunk)
    as violation rows."""
    old = pd.DataFrame(
        {
            "image_id": [f"id{i}" for i in range(100)],
            "w": [64] * 100,
            "part": ["p0"] * 50 + ["p1"] * 50,
        }
    )
    new = old.copy()
    new = new[new["image_id"] != "id7"]            # removed
    new.loc[new["image_id"] == "id3", "w"] = 128   # changed (p0)
    new.loc[new["image_id"] == "id60", "w"] = 256  # changed (p1)
    extra = pd.DataFrame({"image_id": ["idX1", "idX2"], "w": [64, 64], "part": ["p0", "p0"]})
    new = pd.concat([new, extra], ignore_index=True)
    spark.createDataFrame(old).write.mode("overwrite").parquet(str(tmp_path / "ref"))
    spark.createDataFrame(new).write.mode("overwrite").parquet(str(tmp_path / "ana"))
    cfg = {
        "run_id": "snaprun",
        "output_dir": str(tmp_path / "out"),
        "store_dir": str(tmp_path / "store"),
        "reference": str(tmp_path / "ref"),
        "analysis": str(tmp_path / "ana"),
        "chunking": {"partition_columns": ["part"]},
        "checks": [{"type": "snapshot", "keys": ["image_id"], "upper_threshold": 0.01}],
    }
    report = run_suite(spark, cfg)
    (rep,) = report.values()
    res = spark.read.parquet(str(tmp_path / "out" / "results")).toPandas()
    res = res.set_index(["chunk_key", "method"])["value"]
    assert np.isclose(res[("part=p0", "added_rate")], 2 / 51)  # 49 old + 2 added
    assert np.isclose(res[("part=p0", "changed_rate")], 1 / 51)
    assert np.isclose(res[("part=p1", "added_rate")], 0.0)
    assert np.isclose(res[("part=p1", "changed_rate")], 1 / 50)
    assert rep["alerts"] >= 3  # both rates over the 1% bar in p0, changed in p1
    v = spark.read.parquet(str(tmp_path / "out" / "violations")).toPandas()
    kinds = v["violation_kind"].value_counts().to_dict()
    assert kinds == {"changed": 2, "added": 2, "removed": 1}
    removed = v[v["violation_kind"] == "removed"]
    assert removed["row_id"].tolist() == ["id7"] and removed["chunk_key"].isna().all()


def test_run_suite_dict_sources_with_snapshot_pin(spark, workspace, tmp_path):
    """Config sources accept the dict form ({path, snapshot_id, ...}): the
    suite runs identically against snapshot-pinned source specs (time-travel
    options no-op on the parquet stand-ins, honored on Iceberg)."""
    cfg = {
        "run_id": "dictsrc",
        "output_dir": str(tmp_path / "out_dict"),
        "store_dir": str(tmp_path / "store_dict"),
        "reference": {"path": str(workspace / "ref"), "format": "parquet"},
        "analysis": {"path": str(workspace / "ana"), "snapshot_id": 7,
                     "as_of_timestamp": 1700000000000},
        "chunking": {"partition_columns": ["part"]},
        "checks": [
            {"type": "range", "columns": ["w"]},
            {"type": "referential", "column": "phash",
             "manifest": {"path": str(workspace / "manifest")}},
        ],
    }
    report = run_suite(spark, cfg)
    assert set(report) == {"range__w", "referential__phash"}
    res = spark.read.parquet(str(tmp_path / "out_dict" / "results"))
    assert res.count() > 0


def test_include_reference_periods_and_lineage(spark, tmp_path):
    """include_reference: true writes reference-period chunk rows next to
    the analysis rows (NannyML result-frame parity), while lineage and the
    resume anti-join stay analysis-only even though size-chunk keys
    collide across periods."""
    import pandas as pd

    n = 200
    pdf = pd.DataFrame({
        "ord": range(n),
        "ts": pd.date_range("2024-01-01", periods=n, freq="30min"),
        "v": [float(i % 50) for i in range(n)],
    })
    refp, anap = str(tmp_path / "ref.parquet"), str(tmp_path / "ana.parquet")
    spark.createDataFrame(pdf).write.parquet(refp)
    spark.createDataFrame(pdf.assign(v=pdf.v + 100.0)).write.parquet(anap)
    cfg = {
        "run_id": "incref",
        "output_dir": str(tmp_path / "out"),
        "store_dir": str(tmp_path / "store"),
        "reference": refp,
        "analysis": anap,
        "include_reference": True,
        # period chunking → value-derived chunk keys → lineage resume active
        # (both periods span the same 5 days: chunk keys COLLIDE by design)
        "chunking": {"chunk_period": "D", "timestamp_column": "ts"},
        "checks": [
            {"type": "column_stats", "columns": ["v"], "metrics": ["avg"]},
            {"type": "range", "columns": ["v"]},
        ],
    }
    report = run_suite(spark, cfg)
    res = spark.read.parquet(str(tmp_path / "out" / "results")).toPandas()
    by_period = res.groupby("period").size()
    assert by_period["reference"] == by_period["analysis"] == 10  # 2 checks × 5 day-chunks
    # reference scored under its own fitted bands: quiet; shifted analysis alerts
    ref_stats = res[(res.period == "reference") & (res.method == "avg")]
    ana_stats = res[(res.period == "analysis") & (res.method == "avg")]
    assert not ref_stats["alert"].any() and ana_stats["alert"].all()
    # lineage holds only the 4 analysis partitions per check
    lin = spark.read.parquet(str(tmp_path / "out" / "lineage")).toPandas()
    assert sorted(lin.groupby("check").size().tolist()) == [5, 5]
    # resume: re-running skips every analysis partition (reference rows in
    # the results sink did NOT leak extra completions or break the anti-join)
    report2 = run_suite(spark, cfg)
    assert all(r["skipped_partitions"] == 5 for r in report2.values())


def test_report_and_lineage_carry_compile_cost(spark, workspace):
    """Each check reports the Janino compiles and JIT milliseconds of its
    fit and calculate, and its lineage rows carry the same numbers."""
    cfg = _config(workspace)
    cfg["checks"] = [cfg["checks"][0], cfg["checks"][-1]]  # column stats, drift
    report = run_suite(spark, cfg)
    lin = spark.read.parquet(str(workspace / "out" / "lineage")).toPandas()
    for name, rep in report.items():
        assert isinstance(rep["codegen_compiles"], int) and rep["codegen_compiles"] >= 0, name
        assert isinstance(rep["jit_ms"], int) and rep["jit_ms"] >= 0, name
        for metrics in lin[lin["check"] == name]["metrics"]:
            m = dict(metrics)
            assert m["codegen_compiles"] == rep["codegen_compiles"] and m["jit_ms"] == rep["jit_ms"], name
