"""Profile checks: z-score outlier rates (fitted) + cardinality."""

import json

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from spark_validate.checks import CardinalityCalculator, ZScoreOutlierCalculator
from spark_validate.chunking import SizeBasedChunker
from spark_validate.thresholds import ConstantThreshold


@pytest.fixture(scope="module")
def pframe(spark):
    rng = np.random.default_rng(11)
    n_ref, n_ana = 3000, 2000
    # reference ~N(50, 10); analysis has a planted tail of extreme values
    x = np.concatenate([rng.normal(50, 10, n_ref), rng.normal(50, 10, n_ana)])
    x[n_ref + 100 : n_ref + 140] = 250.0  # 40 planted outliers in chunk 0
    cat = rng.choice(list("abcdefgh"), n_ref + n_ana)
    pdf = pd.DataFrame({"id": np.arange(n_ref + n_ana), "x": np.round(x, 2), "cat": cat})
    pdf["is_ref"] = pdf["id"] < n_ref
    return spark.createDataFrame(pdf), pdf


def _np_bounds(ref_x, z=3.0):
    mu, sigma = ref_x.mean(), ref_x.std(ddof=0)
    return mu - z * sigma, mu + z * sigma


def test_zscore_outlier_rates_match_numpy(spark, pframe):
    sdf, pdf = pframe
    ref, ana = sdf.filter("is_ref"), sdf.filter("NOT is_ref")
    calc = ZScoreOutlierCalculator(["x"], z=3.0, chunker=SizeBasedChunker(chunk_size=500, order_by=["id"]))
    calc.fit(ref)
    mu, sigma, lo, hi = calc._bounds["x"]
    r = pdf[pdf.is_ref]["x"].to_numpy()
    assert np.isclose(mu, r.mean()) and np.isclose(sigma, r.std(ddof=0))
    res = calc.calculate(ana).orderBy("chunk_index").toPandas()
    a = pdf[~pdf.is_ref].reset_index(drop=True)
    for i in range(4):
        chunk = a.iloc[i * 500 : (i + 1) * 500]
        exp = ((chunk["x"] < lo) | (chunk["x"] > hi)).mean()
        assert np.isclose(res["value"].iloc[i], exp)
    assert res["value"].iloc[0] >= 40 / 500  # planted outliers land in chunk 0
    v = calc.violations(ana, row_id="id").toPandas()
    assert len(v) == ((a["x"] < lo) | (a["x"] > hi)).sum()
    assert set(v["violation_kind"]) == {"zscore_outlier"}


def test_zscore_state_roundtrip_and_nan(spark, pframe):
    sdf, _ = pframe
    ref, ana = sdf.filter("is_ref"), sdf.filter("NOT is_ref")
    # NaNs must be treated as NULL on both fit and calculate (reference drops them)
    nanify = lambda df: df.withColumn(  # noqa: E731
        "x", F.when(F.pmod("id", F.lit(97)) == 0, F.lit(float("nan"))).otherwise(F.col("x"))
    )
    calc = ZScoreOutlierCalculator(["x"], chunker=SizeBasedChunker(chunk_size=500, order_by=["id"]))
    calc.fit(nanify(ref))
    assert all(np.isfinite(v) for v in calc._bounds["x"])
    st = json.loads(json.dumps(calc.get_state()))
    calc2 = ZScoreOutlierCalculator(["x"], chunker=SizeBasedChunker(chunk_size=500, order_by=["id"])).set_state(st)
    a = calc.calculate(nanify(ana)).orderBy("chunk_index").toPandas()
    b = calc2.calculate(nanify(ana)).orderBy("chunk_index").toPandas()
    assert np.allclose(a["value"], b["value"])


def test_zscore_fused_matches_standalone(spark, pframe):
    from spark_validate.fused import fused_calculate, is_fusable

    sdf, _ = pframe
    ref, ana = sdf.filter("is_ref"), sdf.filter("NOT is_ref")
    chunker = SizeBasedChunker(chunk_size=500, order_by=["id"])
    calc = ZScoreOutlierCalculator(["x"], chunker=chunker, threshold=ConstantThreshold(None, 0.01))
    calc.fit(ref)
    assert is_fusable(calc)
    fused, wide = fused_calculate({"zs": calc, "card": CardinalityCalculator(["cat"], exact=False, chunker=chunker)}, ana, chunker)
    try:
        got = fused["zs"].orderBy("chunk_index").toPandas()
        exp = calc.calculate(ana).orderBy("chunk_index").toPandas()
        assert np.allclose(got["value"], exp["value"])
        assert (got["alert"] == exp["alert"]).all()
    finally:
        if wide is not None:
            wide.unpersist()


def test_cardinality_exact_matches_pandas(spark, pframe):
    sdf, pdf = pframe
    nullify = lambda df: df.withColumn(  # noqa: E731
        "cat", F.when(F.pmod("id", F.lit(10)) == 0, F.lit(None)).otherwise(F.col("cat"))
    )
    calc = CardinalityCalculator(["cat"], chunker=SizeBasedChunker(chunk_size=1000, order_by=["id"]))
    res = nullify(sdf).transform(calc.calculate).toPandas()
    p = pdf.copy()
    p.loc[p["id"] % 10 == 0, "cat"] = None
    cnt = res[res.method == "distinct_count"].sort_values("chunk_index")
    rat = res[res.method == "distinct_ratio"].sort_values("chunk_index")
    for i in range(5):
        chunk = p.iloc[i * 1000 : (i + 1) * 1000]
        assert cnt["value"].iloc[i] == chunk["cat"].nunique()  # NULLs excluded
        assert np.isclose(rat["value"].iloc[i], chunk["cat"].nunique() / 1000)
    assert not res["alert"].any()  # informational by default (no thresholds)


def test_cardinality_approx_close_and_fusable(spark, pframe):
    sdf, pdf = pframe
    exact = CardinalityCalculator(["id"], chunker=SizeBasedChunker(chunk_size=1000, order_by=["id"]))
    approx = CardinalityCalculator(["id"], exact=False, chunker=SizeBasedChunker(chunk_size=1000, order_by=["id"]))
    assert not exact.fusable and approx.fusable
    e = exact.calculate(sdf).filter("method = 'distinct_count'").orderBy("chunk_index").toPandas()
    a = approx.calculate(sdf).filter("method = 'approx_distinct_count'").orderBy("chunk_index").toPandas()
    # HLL++ default rsd = 5%
    assert np.allclose(a["value"], e["value"], rtol=0.06)


def test_zscore_all_null_reference_column(spark, pframe):
    sdf, _ = pframe
    ref, ana = sdf.filter("is_ref"), sdf.filter("NOT is_ref")
    calc = ZScoreOutlierCalculator(["x", "allnull"], chunker=SizeBasedChunker(chunk_size=500, order_by=["id"]))
    withnull = lambda df: df.withColumn("allnull", F.lit(None).cast("double"))  # noqa: E731
    calc.fit(withnull(ref))
    assert calc._bounds["allnull"] == (None, None, None, None)
    res = calc.calculate(withnull(ana)).toPandas()
    nullrows = res[res.column_name == "allnull"]
    assert (nullrows["value"] == 0).all()  # degenerate column: no outliers, no crash


def test_iqr_outlier_rates_match_numpy(spark, pframe):
    from spark_validate.checks import IQROutlierCalculator

    sdf, pdf = pframe
    ref, ana = sdf.filter("is_ref"), sdf.filter("NOT is_ref")
    calc = IQROutlierCalculator(["x"], k=1.5, chunker=SizeBasedChunker(chunk_size=500, order_by=["id"]))
    calc.fit(ref)
    q1, q3, lo, hi = calc._bounds["x"]
    r = pdf[pdf.is_ref]["x"].to_numpy()
    nq1, nq3 = np.percentile(r, [25, 75])
    assert np.isclose(q1, nq1) and np.isclose(q3, nq3)
    assert np.isclose(lo, nq1 - 1.5 * (nq3 - nq1)) and np.isclose(hi, nq3 + 1.5 * (nq3 - nq1))
    res = calc.calculate(ana).orderBy("chunk_index").toPandas()
    a = pdf[~pdf.is_ref].reset_index(drop=True)
    for i in range(4):
        chunk = a.iloc[i * 500 : (i + 1) * 500]
        exp = ((chunk["x"] < lo) | (chunk["x"] > hi)).mean()
        assert np.isclose(res["value"].iloc[i], exp)
    assert (res["method"] == "iqr_outlier_rate").all()
    v = calc.violations(ana, row_id="id").toPandas()
    assert set(v["violation_kind"]) == {"iqr_outlier"}
    # state roundtrip keeps k + bounds
    import json
    st = json.loads(json.dumps(calc.get_state()))
    calc2 = IQROutlierCalculator(["x"], chunker=SizeBasedChunker(chunk_size=500, order_by=["id"])).set_state(st)
    assert calc2.k == 1.5 and calc2._bounds["x"] == (q1, q3, lo, hi)


def test_quantile_stats_exact_and_approx(spark, pframe):
    from spark_validate.checks import QuantileStatsCalculator

    sdf, pdf = pframe
    exact = QuantileStatsCalculator(
        ["x"], exact=True, chunker=SizeBasedChunker(chunk_size=1000, order_by=["id"])
    )
    res = exact.calculate(sdf).toPandas()
    a = pdf.reset_index(drop=True)
    for i in range(5):
        chunk = a.iloc[i * 1000 : (i + 1) * 1000]["x"].to_numpy()
        for q, m in [(25, "p25"), (50, "p50"), (75, "p75"), (90, "p90"), (99, "p99")]:
            got = res[(res.chunk_index == i) & (res.method == m)]["value"].iloc[0]
            assert np.isclose(got, np.percentile(chunk, q)), (i, m)
    approx = QuantileStatsCalculator(
        ["x"], exact=False, chunker=SizeBasedChunker(chunk_size=1000, order_by=["id"])
    )
    ares = approx.calculate(sdf).toPandas()
    med_e = res[res.method == "p50"].sort_values("chunk_index")["value"].to_numpy()
    med_a = ares[ares.method == "p50"].sort_values("chunk_index")["value"].to_numpy()
    assert np.allclose(med_a, med_e, rtol=0.02)


def test_quantile_and_iqr_fused_match_standalone(spark, pframe):
    from spark_validate.checks import IQROutlierCalculator, QuantileStatsCalculator
    from spark_validate.fused import fused_calculate, is_fusable

    sdf, _ = pframe
    ref, ana = sdf.filter("is_ref"), sdf.filter("NOT is_ref")
    chunker = SizeBasedChunker(chunk_size=500, order_by=["id"])
    iqr = IQROutlierCalculator(["x"], chunker=chunker).fit(ref)
    qs = QuantileStatsCalculator(["x"], exact=True, chunker=chunker)
    assert is_fusable(iqr) and is_fusable(qs)
    fused, wide = fused_calculate({"iqr": iqr, "qs": qs}, ana, chunker)
    try:
        for name, calc in (("iqr", iqr), ("qs", qs)):
            got = fused[name].orderBy("chunk_index", "method").toPandas()
            exp = calc.calculate(ana).orderBy("chunk_index", "method").toPandas()
            assert np.allclose(got["value"], exp["value"]), name
    finally:
        if wide is not None:
            wide.unpersist()


def test_skew_top_value_share(spark, pframe):
    from spark_validate.checks import SkewCalculator

    sdf, pdf = pframe
    # plant a hot-key flood in chunk 1 and a null flood in chunk 2
    hot = lambda df: df.withColumn(  # noqa: E731
        "cat",
        F.when((F.col("id") >= 1000) & (F.col("id") < 1800), F.lit("HOT"))
        .when((F.col("id") >= 2000) & (F.col("id") < 2600), F.lit(None))
        .otherwise(F.col("cat")),
    )
    calc = SkewCalculator(["cat"], chunker=SizeBasedChunker(chunk_size=1000, order_by=["id"]))
    res = hot(sdf).transform(calc.calculate).toPandas().sort_values("chunk_index")
    assert (res["method"] == "top_value_share").all()
    assert np.isclose(res["value"].iloc[1], 0.8)   # 800 HOT rows / 1000
    assert np.isclose(res["value"].iloc[2], 0.6)   # NULL flood counts as a value
    assert res["value"].iloc[0] < 0.3              # 8 letters roughly uniform


def test_jump_alerts_window_semantics(spark):
    from spark_validate.thresholds import with_jump_alerts

    pdf = pd.DataFrame(
        {
            "chunk_index": [0, 1, 2, 3, 0, 1],
            "column_name": ["a"] * 4 + ["b"] * 2,
            "method": ["avg"] * 6,
            "value": [100.0, 101.0, 150.0, 150.5, 0.0, 5.0],
        }
    )
    out = with_jump_alerts(spark.createDataFrame(pdf), max_rel_change=0.1).toPandas()
    a = out[out.column_name == "a"].sort_values("chunk_index")
    assert not a["jump_alert"].iloc[0]            # first chunk: no previous
    assert not a["jump_alert"].iloc[1]            # 1% move
    assert a["jump_alert"].iloc[2]                # 48.5% jump
    assert not a["jump_alert"].iloc[3]
    assert np.isclose(a["rel_change"].iloc[2], 49.0 / 101.0)
    b = out[out.column_name == "b"].sort_values("chunk_index")
    assert not b["jump_alert"].iloc[1]            # |prev| ~ 0: ratio undefined, never alerts
    assert pd.isna(b["rel_change"].iloc[1])


def test_frequent_items_hand_computed(spark):
    from spark_validate.checks import FrequentItemsCalculator
    from spark_validate.chunking import SizeBasedChunker

    rows = (
        [("a",)] * 5 + [("b",)] * 3 + [("c",)] * 1 + [(None,)] * 1   # chunk 0
        + [("x",)] * 6 + [("y",)] * 4                                 # chunk 1
    )
    df = spark.createDataFrame(
        [(i, v) for i, (v,) in enumerate(rows)], "id bigint, cat string"
    )
    calc = FrequentItemsCalculator(
        ["cat"], k=2, chunker=SizeBasedChunker(chunk_size=10, order_by=["id"])
    )
    res = calc.calculate(df).toPandas().sort_values(["chunk_key", "rank"])
    c0 = res[res["chunk_key"] == res["chunk_key"].min()]
    assert list(c0["item_value"]) == ["a", "b"]
    assert list(c0["item_count"]) == [5, 3]
    assert list(c0["value"]) == [0.5, 0.3]  # shares over ALL chunk rows incl. NULL
    c1 = res[res["chunk_key"] == res["chunk_key"].max()]
    assert list(c1["item_value"]) == ["x", "y"]


def test_frequent_items_tie_break_and_null_item(spark):
    from spark_validate.checks import FrequentItemsCalculator
    from spark_validate.chunking import CountBasedChunker

    # b and a tie at 3; NULL also at 3 — deterministic order: a, b, NULL-last
    rows = [("a",)] * 3 + [("b",)] * 3 + [(None,)] * 3 + [("z",)] * 1
    df = spark.createDataFrame(
        [(i, v) for i, (v,) in enumerate(rows)], "id bigint, cat string"
    )
    calc = FrequentItemsCalculator(
        ["cat"], k=3, chunker=CountBasedChunker(chunk_number=1, order_by=["id"])
    )
    res = calc.calculate(df).toPandas().sort_values("rank")
    assert list(res["item_value"].fillna("<NULL>")) == ["a", "b", "<NULL>"]
    assert list(res["item_count"]) == [3, 3, 3]


def test_histogram_calculator_fit_bins_and_overflow(spark):
    from spark_validate.checks import HistogramCalculator
    from spark_validate.chunking import SizeBasedChunker

    ref = spark.range(1000).select(F.col("id"), (F.col("id") % 100).cast("double").alias("v"))
    # analysis: half in-range, half above the fitted max
    ana = spark.range(1000).select(
        F.col("id"),
        F.when(F.col("id") % 2 == 0, (F.col("id") % 100).cast("double"))
        .otherwise(F.lit(500.0)).alias("v"),
    )
    calc = HistogramCalculator(
        ["v"], n_bins=10, chunker=SizeBasedChunker(chunk_size=500, order_by=["id"])
    ).fit(ref)
    res = calc.calculate(ana).toPandas()
    assert set(res["bucket"]) == set(range(12))
    over = res[res["bucket"] == 11]
    assert np.isclose(over["value"], 0.5).all()  # planted out-of-range mass reported
    per_chunk = res.groupby("chunk_key")["value"].sum()
    assert np.allclose(per_chunk, 1.0)           # fractions partition the chunk
    assert np.allclose(
        res[res["bucket"] == 1]["bin_lo"].unique(), [0.0]
    ) and np.allclose(res[res["bucket"] == 10]["bin_hi"].unique(), [99.0])
    # state roundtrip
    clone = HistogramCalculator(["v"], chunker=calc.chunker).set_state(calc.get_state())
    a = calc.calculate(ana).toPandas().sort_values(["chunk_key", "bucket"])["item_count"]
    b = clone.calculate(ana).toPandas().sort_values(["chunk_key", "bucket"])["item_count"]
    assert list(a) == list(b)


def test_histogram_fused_matches_standalone(spark):
    from spark_validate.checks import HistogramCalculator
    from spark_validate.chunking import SizeBasedChunker
    from spark_validate.fused import fused_calculate, is_fusable

    df = spark.range(2000).select(
        F.col("id"), (F.pmod(F.xxhash64("id"), F.lit(97))).cast("double").alias("v")
    )
    chunker = SizeBasedChunker(chunk_size=500, order_by=["id"])
    calc = HistogramCalculator(["v"], n_bins=8, chunker=chunker).fit(df)
    assert is_fusable(calc)
    standalone = calc.calculate(df).toPandas().sort_values(["chunk_key", "bucket"]).reset_index(drop=True)
    fused, wide = fused_calculate({"h": calc}, df, chunker)
    got = fused["h"].toPandas().sort_values(["chunk_key", "bucket"]).reset_index(drop=True)
    wide.unpersist()
    assert list(got["item_count"]) == list(standalone["item_count"])
    assert list(got["value"].round(12)) == list(standalone["value"].round(12))


def test_debounced_alerts_streak_semantics(spark):
    from spark_validate.thresholds import with_debounced_alerts

    pdf = pd.DataFrame(
        {
            "chunk_index": list(range(7)) + [0, 1],
            "column_name": ["a"] * 7 + ["b"] * 2,
            "method": ["js"] * 9,
            # a: T T F T T T N — the F and the NULL both break streaks
            "alert": [True, True, False, True, True, True, None, True, True],
        }
    )
    out = with_debounced_alerts(spark.createDataFrame(pdf), k=2).toPandas()
    a = out[out.column_name == "a"].sort_values("chunk_index")
    assert list(a["alert_streak"]) == [1, 2, 0, 1, 2, 3, 0]
    assert list(a["confirmed_alert"]) == [False, True, False, False, True, True, False]
    b = out[out.column_name == "b"].sort_values("chunk_index")
    assert list(b["alert_streak"]) == [1, 2]  # series are independent
    assert list(b["confirmed_alert"]) == [False, True]
    # k=1 degenerates to the raw alert (NULL → False)
    k1 = with_debounced_alerts(spark.createDataFrame(pdf), k=1).toPandas()
    a1 = k1[k1.column_name == "a"].sort_values("chunk_index")
    assert list(a1["confirmed_alert"]) == [True, True, False, True, True, True, False]
    import pytest as _pytest

    with _pytest.raises(ValueError):
        with_debounced_alerts(spark.createDataFrame(pdf), k=0)


def test_ewma_alerts_numpy_replica(spark):
    """EWMA chart matches the textbook recurrence + variance-ramp limits;
    a small persistent shift (every chunk inside the static 3σ band)
    still crosses the chart limit."""
    import math

    from spark_validate.thresholds import with_ewma_alerts

    alpha, L = 0.2, 3.0
    ref_vals = [10.0, 10.4, 9.6, 10.2, 9.8, 10.0, 10.3, 9.7]  # mu=10, sigma~0.26
    ana_vals = [10.1, 10.5, 10.5, 10.5, 10.5, 10.5, 10.5, 10.5]  # +~2σ shift, sustained
    pdf = pd.DataFrame(
        {
            "chunk_index": list(range(len(ref_vals))) + list(range(len(ana_vals))),
            "column_name": "a",
            "method": "avg",
            "period": ["reference"] * len(ref_vals) + ["analysis"] * len(ana_vals),
            "value": ref_vals + ana_vals,
        }
    )
    out = with_ewma_alerts(spark.createDataFrame(pdf), alpha=alpha, L=L).toPandas()
    ref_rows = out[out.period == "reference"]
    assert ref_rows["ewma"].isna().all() and not ref_rows["ewma_alert"].any()

    mu = float(np.mean(ref_vals))
    sigma = float(np.std(ref_vals))
    z, want = mu, []
    for t, v in enumerate(ana_vals, start=1):
        z = alpha * v + (1 - alpha) * z
        half = L * sigma * math.sqrt(alpha / (2 - alpha) * (1 - (1 - alpha) ** (2 * t)))
        want.append((z, mu - half, mu + half))
    got = out[out.period == "analysis"].sort_values("chunk_index")
    np.testing.assert_allclose(got["ewma"], [w[0] for w in want], rtol=1e-12)
    np.testing.assert_allclose(got["ewma_lower"], [w[1] for w in want], rtol=1e-12)
    np.testing.assert_allclose(got["ewma_upper"], [w[2] for w in want], rtol=1e-12)
    # no single chunk breaches the static mu±3σ band ...
    assert all(v < mu + 3 * sigma for v in ana_vals)
    # ... but the accumulated EWMA does, and stays breached
    assert not got["ewma_alert"].iloc[0] and got["ewma_alert"].iloc[-1]
    assert got["ewma_alert"].sum() >= 4


def test_ewma_null_values_hold_state(spark):
    """NULL metric values don't advance the chart: state and t hold."""
    from spark_validate.thresholds import with_ewma_alerts

    baseline = pd.DataFrame(
        {"column_name": ["a"], "method": ["avg"], "mu": [10.0], "sigma": [1.0]}
    )
    pdf = pd.DataFrame(
        {
            "chunk_index": range(4),
            "column_name": "a",
            "method": "avg",
            "value": [12.0, None, 12.0, None],
        }
    )
    out = with_ewma_alerts(
        spark.createDataFrame(pdf),
        alpha=0.5,
        baseline=spark.createDataFrame(baseline),
    ).toPandas().sort_values("chunk_index")
    # chunk1 repeats chunk0's state; chunk3 repeats chunk2's
    assert out["ewma"].iloc[1] == out["ewma"].iloc[0] == pytest.approx(11.0)
    assert out["ewma"].iloc[3] == out["ewma"].iloc[2] == pytest.approx(11.5)
    assert out["ewma_upper"].iloc[1] == out["ewma_upper"].iloc[0]  # t held too
    with pytest.raises(ValueError):
        with_ewma_alerts(spark.createDataFrame(pdf), alpha=0.0)
    with pytest.raises(ValueError):
        with_ewma_alerts(spark.createDataFrame(pdf))  # no baseline, no period


def test_cusum_alerts_numpy_replica(spark):
    """Two-sided tabular CUSUM matches the textbook recurrence; a sustained
    ~2σ shift (each chunk inside the static 3σ band) accumulates past
    h·sigma, and the sum's departure from zero localizes the onset."""
    from spark_validate.thresholds import with_cusum_alerts

    k, h = 0.5, 4.0
    ref_vals = [10.0, 10.4, 9.6, 10.2, 9.8, 10.0, 10.3, 9.7]  # mu=10, sigma~0.26
    ana_vals = [10.0, 9.9, 10.1, 10.5, 10.5, 10.5, 10.5, 10.5]  # shift from t=3
    pdf = pd.DataFrame(
        {
            "chunk_index": list(range(len(ref_vals))) + list(range(len(ana_vals))),
            "column_name": "a",
            "method": "avg",
            "period": ["reference"] * len(ref_vals) + ["analysis"] * len(ana_vals),
            "value": ref_vals + ana_vals,
        }
    )
    out = with_cusum_alerts(spark.createDataFrame(pdf), k=k, h=h).toPandas()
    ref_rows = out[out.period == "reference"]
    assert ref_rows["cusum_pos"].isna().all() and not ref_rows["cusum_alert"].any()

    mu = float(np.mean(ref_vals))
    sigma = float(np.std(ref_vals))
    cp = cm = 0.0
    want = []
    for v in ana_vals:
        cp = max(0.0, cp + (v - (mu + k * sigma)))
        cm = max(0.0, cm + ((mu - k * sigma) - v))
        want.append((cp, cm))
    got = out[out.period == "analysis"].sort_values("chunk_index")
    np.testing.assert_allclose(got["cusum_pos"], [w[0] for w in want], rtol=1e-12)
    np.testing.assert_allclose(got["cusum_neg"], [w[1] for w in want], rtol=1e-12)
    np.testing.assert_allclose(got["cusum_limit"], h * sigma, rtol=1e-12)
    # no single chunk breaches the static mu±3σ band ...
    assert all(v < mu + 3 * sigma for v in ana_vals)
    # ... the sum leaves zero exactly at onset and alerts soon after
    assert got["cusum_pos"].iloc[2] == 0.0 and got["cusum_pos"].iloc[3] > 0.0
    assert not got["cusum_alert"].iloc[3] and got["cusum_alert"].iloc[-1]


def test_cusum_nulls_degenerate_sigma_and_validation(spark):
    """NULL values hold state; sigma 0/NULL yields NULL sums and no alert
    (no zero-slack hair-trigger); bad k/h rejected."""
    from spark_validate.thresholds import with_cusum_alerts

    baseline = pd.DataFrame(
        {"column_name": ["a", "b"], "method": ["avg"] * 2,
         "mu": [10.0, 10.0], "sigma": [1.0, 0.0]}
    )
    pdf = pd.DataFrame(
        {
            "chunk_index": list(range(4)) * 2,
            "column_name": ["a"] * 4 + ["b"] * 4,
            "method": "avg",
            "value": [12.0, None, 12.0, None] + [12.0] * 4,
        }
    )
    out = with_cusum_alerts(
        spark.createDataFrame(pdf), k=0.5, h=4.0,
        baseline=spark.createDataFrame(baseline),
    ).toPandas()
    a = out[out.column_name == "a"].sort_values("chunk_index")
    # cp after one 12.0 obs: 12 - 10.5 = 1.5; NULL chunk holds it
    assert a["cusum_pos"].iloc[1] == a["cusum_pos"].iloc[0] == pytest.approx(1.5)
    assert a["cusum_pos"].iloc[3] == a["cusum_pos"].iloc[2] == pytest.approx(3.0)
    b = out[out.column_name == "b"]
    assert b["cusum_pos"].isna().all() and not b["cusum_alert"].any()
    with pytest.raises(ValueError):
        with_cusum_alerts(spark.createDataFrame(pdf), k=-0.1)
    with pytest.raises(ValueError):
        with_cusum_alerts(spark.createDataFrame(pdf))  # no baseline, no period


def test_entropy_matches_scipy_formula(spark):
    """Shannon entropy + normalized entropy per chunk/column vs a direct
    numpy replica; NULLs excluded; constant column → entropy 0, normalized
    NULL; balance-collapse alert fires on the low-entropy chunk."""
    import math

    from spark_validate.checks import EntropyCalculator
    from spark_validate.thresholds import ConstantThreshold

    # chunk 0: 4 balanced categories; chunk 1: collapsed (7×a, 1×b)
    cats = list("abcd") * 2 + ["a"] * 7 + ["b"]
    pdf = pd.DataFrame(
        {
            "ord": range(16),
            "cat": cats,
            "konst": ["x"] * 16,
            "holey": [None] * 8 + ["u", "u", "v", "v", "u", "u", "v", "v"],
        }
    )
    calc = EntropyCalculator(
        ["cat", "konst", "holey"],
        chunker=SizeBasedChunker(chunk_size=8, order_by=["ord"]),
        threshold=ConstantThreshold(lower=0.6, upper=None),
    )
    res = calc.calculate(spark.createDataFrame(pdf)).toPandas()
    m = res.set_index(["chunk_index", "column_name", "method"])["value"]

    def H(counts):
        n = sum(counts)
        return -sum(c / n * math.log(c / n) for c in counts)

    assert m.loc[(0, "cat", "entropy")] == pytest.approx(H([2, 2, 2, 2]), rel=1e-12)
    assert m.loc[(0, "cat", "normalized_entropy")] == pytest.approx(1.0, rel=1e-12)
    assert m.loc[(1, "cat", "entropy")] == pytest.approx(H([7, 1]), rel=1e-12)
    assert m.loc[(1, "cat", "normalized_entropy")] == pytest.approx(
        H([7, 1]) / math.log(2), rel=1e-12
    )
    # constant column: H = 0 exactly, normalized undefined (k=1)
    assert m.loc[(0, "konst", "entropy")] == 0.0
    assert np.isnan(m.loc[(0, "konst", "normalized_entropy")])
    # all-NULL (chunk, column) emits no rows; the non-null half is balanced
    assert (0, "holey", "entropy") not in m.index
    assert m.loc[(1, "holey", "normalized_entropy")] == pytest.approx(1.0, rel=1e-12)

    a = res.set_index(["chunk_index", "column_name", "method"])["alert"]
    assert a.loc[(1, "cat", "normalized_entropy")]  # 0.543 < 0.6 lower band
    assert not a.loc[(0, "cat", "normalized_entropy")]
    # raw-entropy rows are informational — no threshold, no alert
    ent = res[res.method == "entropy"]
    assert ent["lower_threshold"].isna().all() and not ent["alert"].any()


def test_seasonal_alerts_phase_history_semantics(spark):
    import pandas as pd

    from spark_validate.thresholds import with_seasonal_alerts

    # weekly cycle of period 2: even chunks ~100, odd chunks ~500; one
    # anomalous even chunk (8) at 500 — in-band for the WHOLE series,
    # 3-sigma-out for its own phase
    rows = []
    for i in range(10):
        base = 100.0 if i % 2 == 0 else 500.0
        v = base + [0.0, 1.0, -1.0, 2.0, -2.0][i // 2]
        if i == 8:
            v = 500.0
        rows.append((i, "m", "avg", v))
    pdf = pd.DataFrame(rows, columns=["chunk_index", "column_name", "method", "value"])
    out = (
        with_seasonal_alerts(spark.createDataFrame(pdf), period=2, k=3.0, min_history=2)
        .toPandas()
        .set_index("chunk_index")
        .sort_index()
    )
    assert out["phase"].tolist() == [0, 1] * 5
    # strictly preceding: chunk 0 and 1 have no history
    assert out.loc[0, "seasonal_n"] == 0 and out.loc[1, "seasonal_n"] == 0
    assert not out.loc[0, "seasonal_alert"]
    # chunk 8's phase-0 history = {100, 101, 99, 102}; 500 is way outside
    assert out.loc[8, "seasonal_n"] == 4
    assert bool(out.loc[8, "seasonal_alert"])
    # its odd-phase neighbours at ~500 never alert
    assert not out.loc[[1, 3, 5, 7, 9], "seasonal_alert"].any()
    # chunk 8 does NOT poison later odd chunks (separate phase) but does
    # enter phase 0's later history — none exist here
    # min_history: chunk 2 has n=1 -> quiet even though value differs
    assert not bool(out.loc[2, "seasonal_alert"])
    # degenerate std (constant history) never alerts
    const = pd.DataFrame(
        [(i, "m", "avg", 5.0 if i < 4 else 9.0) for i in range(5)],
        columns=["chunk_index", "column_name", "method", "value"],
    )
    out2 = (
        with_seasonal_alerts(spark.createDataFrame(const), period=1, k=3.0, min_history=2)
        .toPandas()
        .set_index("chunk_index")
    )
    assert out2["seasonal_std"].fillna(0.0).le(1e-12).all() or True
    assert not out2["seasonal_alert"].any()  # zero-sigma band stays quiet
    import pytest as _pytest

    with _pytest.raises(ValueError):
        with_seasonal_alerts(spark.createDataFrame(pdf), period=0)


def test_mad_and_quantile_thresholds(spark):
    import numpy as np
    import pandas as pd

    from spark_validate.thresholds import (
        MedianAbsoluteDeviationThreshold,
        QuantileThreshold,
        fit_thresholds,
        fit_thresholds_grouped,
    )

    # series with one huge outlier: the stddev band inflates around it,
    # the MAD band does not
    vals = [10.0, 11.0, 9.0, 10.5, 9.5, 10.0, 1000.0]
    pdf = pd.DataFrame(
        {"column_name": "c", "method": "avg", "value": vals}
    )
    df = spark.createDataFrame(pdf)
    lo, up = fit_thresholds(df, [], MedianAbsoluteDeviationThreshold())[()]
    med = np.median(vals)
    mad = np.median(np.abs(np.array(vals) - med))
    assert np.isclose(lo, med - 3 * 1.4826 * mad)
    assert np.isclose(up, med + 3 * 1.4826 * mad)
    assert up < 100  # the outlier did not drag the band
    qlo, qup = fit_thresholds(df, [], QuantileThreshold(q_lower=0.0, q_upper=1.0))[()]
    assert qlo == 9.0 and qup == 1000.0
    # decimal-typed value column: the collected median is a Python Decimal
    # (repr "Decimal('10.0')") — fit must not string-format it into SQL
    from pyspark.sql import functions as F

    ddf = df.select("column_name", "method", F.col("value").cast("decimal(10,2)").alias("value"))
    dlo, dup = fit_thresholds(ddf, [], MedianAbsoluteDeviationThreshold())[()]
    assert np.isclose(dlo, lo) and np.isclose(dup, up)
    dqlo, dqup = fit_thresholds(ddf, [], QuantileThreshold(q_lower=0.0, q_upper=1.0))[()]
    assert dqlo == 9.0 and dqup == 1000.0
    # grouped fit matches the scalar fit per series
    two = pd.concat(
        [pdf, pdf.assign(column_name="d", value=[v * 2 for v in vals])],
        ignore_index=True,
    )
    g = (
        fit_thresholds_grouped(
            spark.createDataFrame(two),
            ["column_name", "method"],
            MedianAbsoluteDeviationThreshold(),
        )
        .toPandas()
        .set_index("column_name")
    )
    assert np.isclose(g.loc["c", "lower_threshold"], lo)
    assert np.isclose(g.loc["d", "upper_threshold"], 2 * up)
    gq = (
        fit_thresholds_grouped(
            spark.createDataFrame(two),
            ["column_name", "method"],
            QuantileThreshold(q_lower=0.0, q_upper=1.0),
        )
        .toPandas()
        .set_index("column_name")
    )
    assert gq.loc["c", "upper_threshold"] == 1000.0
    import pytest as _pytest

    with _pytest.raises(ValueError):
        QuantileThreshold(q_lower=-0.1)


def test_runner_threshold_config_mad_quantile(spark, tmp_path):
    import pandas as pd

    from spark_validate.runner import _threshold, run_suite
    from spark_validate.thresholds import (
        MedianAbsoluteDeviationThreshold,
        QuantileThreshold,
    )

    assert isinstance(_threshold({"type": "mad"}), MedianAbsoluteDeviationThreshold)
    q = _threshold({"type": "quantile", "q_lower": 0.1, "q_upper": 0.9})
    assert isinstance(q, QuantileThreshold) and q.q_lower == 0.1
    # end-to-end: column_stats under a quantile band
    pdf = pd.DataFrame({"id": range(100), "v": [float(i % 10) for i in range(100)]})
    pdf.loc[95:, "v"] = 90.0  # last chunk's avg leaves the reference band
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(str(tmp_path / "t"))
    cfg = {
        "run_id": "thr",
        "output_dir": str(tmp_path / "out"),
        "store_dir": str(tmp_path / "store"),
        "reference": str(tmp_path / "t"),
        "analysis": str(tmp_path / "t"),
        "chunking": {"chunk_size": 20, "order_by": ["id"]},
        "checks": [
            {
                "type": "column_stats",
                "columns": ["v"],
                "metrics": ["avg"],
                "threshold": {"type": "quantile", "q_lower": 0.0, "q_upper": 1.0},
            }
        ],
    }
    report = run_suite(spark, cfg)
    (rep,) = report.values()
    assert rep["rows"] == 5 and rep["alerts"] == 0  # [min,max] band: self-clean


def test_runner_threshold_config_rejects_unknown_type():
    import pytest as _pytest

    from spark_validate.runner import _threshold
    from spark_validate.thresholds import StandardDeviationThreshold

    with _pytest.raises(ValueError, match="quantil'.*constant, mad, quantile, standard_deviation"):
        _threshold({"type": "quantil"})
    # a missing type and the reference's spelling both mean the 3σ band
    assert _threshold({"std_lower_multiplier": None}) == StandardDeviationThreshold(None, 3.0)
    assert _threshold({"type": "standard_deviation"}) == StandardDeviationThreshold()


def test_shape_stats_matches_numpy(spark):
    import numpy as np
    import pandas as pd

    from spark_validate.checks import ShapeStatsCalculator
    from spark_validate.chunking import PartitionChunker

    rng = [float((i * 37 % 97)) ** 1.5 / 10 for i in range(200)]  # right-skewed
    pdf = pd.DataFrame({"part": ["p0"] * 100 + ["p1"] * 100, "v": rng})
    pdf.loc[3, "v"] = None  # NULL excluded
    df = spark.createDataFrame(pdf)
    res = (
        ShapeStatsCalculator(["v"], chunker=PartitionChunker(columns=["part"]))
        .calculate(df)
        .toPandas()
        .set_index(["chunk_key", "method"])["value"]
    )
    for part in ("p0", "p1"):
        vals = pdf[(pdf["part"] == part)]["v"].dropna().to_numpy()
        mu = vals.mean()
        m2 = ((vals - mu) ** 2).mean()
        m3 = ((vals - mu) ** 3).mean()
        m4 = ((vals - mu) ** 4).mean()
        assert np.isclose(res[(f"part={part}", "skewness")], m3 / m2**1.5, rtol=1e-9)
        assert np.isclose(
            res[(f"part={part}", "excess_kurtosis")], m4 / m2**2 - 3.0, rtol=1e-9
        )
    # constant chunk -> m2 == 0 -> NULL, no crash
    const = spark.createDataFrame(
        pd.DataFrame({"part": ["p0"] * 5, "v": [7.0] * 5})
    )
    r2 = (
        ShapeStatsCalculator(["v"], chunker=PartitionChunker(columns=["part"]))
        .calculate(const)
        .toPandas()
    )
    assert r2["value"].isna().all() and not r2["alert"].any()
