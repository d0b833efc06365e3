"""Univariate drift calculator vs inline numpy oracles.

The oracles re-implement the reference's method formulas
(nannyml/drift/univariate/methods.py) directly in numpy on pandas chunks, so
every Spark aggregation path (bucketing, leftover mass, CDF shifts, Yates) is
cross-checked end-to-end.
"""

import math

import numpy as np
import pandas as pd
import pytest

from spark_validate.chunking import SizeBasedChunker
from spark_validate.drift import UnivariateDriftCalculator
from spark_validate.drift.univariate import _LIMITS, doane_bin_count
from spark_validate.functions.mathstats import chi2_sf, js_distance_from_probs
from spark_validate.thresholds import (
    ConstantThreshold,
    MedianAbsoluteDeviationThreshold,
    QuantileThreshold,
    StandardDeviationThreshold,
)

N_REF, N_ANA, CHUNK = 5000, 3000, 1000


@pytest.fixture(scope="module")
def frame(spark):
    rng = np.random.default_rng(7)
    x = np.concatenate([rng.normal(0, 1, N_REF), rng.normal(0.8, 1.3, N_ANA)])
    cats_ref = rng.choice(["a", "b", "c", "d"], N_REF, p=[0.4, 0.3, 0.2, 0.1])
    cats_ana = rng.choice(["a", "b", "c", "e"], N_ANA, p=[0.25, 0.25, 0.25, 0.25])
    pdf = pd.DataFrame(
        {
            "id": np.arange(N_REF + N_ANA),
            "x": x,
            "cat": np.concatenate([cats_ref, cats_ana]),
        }
    )
    pdf["is_ref"] = pdf["id"] < N_REF
    return spark.createDataFrame(pdf), pdf


def _fit_calc(spark_df, methods_cont=(), methods_cat=(), **kw):
    kw.setdefault("computation", "estimated")  # oracles below assume the binned path
    calc = UnivariateDriftCalculator(
        column_names=(["x"] if methods_cont else []) + (["cat"] if methods_cat else []),
        continuous_methods=methods_cont,
        categorical_methods=methods_cat,
        chunker=SizeBasedChunker(chunk_size=CHUNK, order_by=["id"]),
        n_bins_ecdf=1000,
        **kw,
    )
    calc.fit(spark_df.filter("is_ref"))
    res = calc.calculate(spark_df.filter("NOT is_ref")).orderBy("chunk_index").toPandas()
    return calc, res


def _np_hist_probs(vals, lo, hi, n):
    h, _ = np.histogram(vals, bins=np.linspace(lo, hi, n + 1))
    return h / len(vals)


def _chunks(pdf_slice, col):
    arr = pdf_slice[col].to_numpy()
    return [arr[i : i + CHUNK] for i in range(0, len(arr), CHUNK)]


def test_doane_matches_numpy(frame):
    _, pdf = frame
    ref = pdf[pdf.is_ref]["x"].to_numpy()
    expected = len(np.histogram_bin_edges(ref, bins="doane")) - 1
    # population skewness g1 (numpy formulation)
    m = ref.mean()
    g1 = np.mean(((ref - m) / ref.std()) ** 3)
    assert doane_bin_count(len(ref), g1) == expected


def test_js_continuous_vs_oracle(spark, frame):
    sdf, pdf = frame
    calc, res = _fit_calc(sdf, methods_cont=("jensen_shannon",))
    st = calc._cont_state["x"]
    n_bins, ref_probs = st.specs["doane"]
    ref = pdf[pdf.is_ref]["x"].to_numpy()
    # engine's ref probs match np.histogram on the same equal-width bins
    np.testing.assert_allclose(ref_probs, _np_hist_probs(ref, st.lo, st.hi, n_bins), atol=1e-12)
    vals = res[res.method == "jensen_shannon"]["value"].to_numpy()
    for i, chunk in enumerate(_chunks(pdf[~pdf.is_ref], "x")):
        q = _np_hist_probs(chunk, st.lo, st.hi, n_bins)
        p = np.array(ref_probs)
        leftover = 1 - q.sum()
        if leftover > 0:
            q = np.append(q, leftover)
            p = np.append(p, 0)
        assert abs(vals[i] - js_distance_from_probs(p, q, 2.0)) < 1e-9


def test_ks_binned_vs_oracle(spark, frame):
    sdf, pdf = frame
    calc, res = _fit_calc(sdf, methods_cont=("kolmogorov_smirnov",))
    st = calc._cont_state["x"]
    n_bins, ref_probs = st.specs["ecdf"]
    ref_cdf = np.cumsum(ref_probs)
    vals = res[res.method == "kolmogorov_smirnov"]["value"].to_numpy()
    for i, chunk in enumerate(_chunks(pdf[~pdf.is_ref], "x")):
        q = _np_hist_probs(chunk, st.lo, st.hi, n_bins)
        below = np.mean(chunk < st.lo)
        d = np.max(np.abs(ref_cdf - (below + np.cumsum(q))))
        assert abs(vals[i] - d) < 1e-9, f"chunk {i}"


def test_wasserstein_vs_oracle(spark, frame):
    sdf, pdf = frame
    calc, res = _fit_calc(sdf, methods_cont=("wasserstein",))
    st = calc._cont_state["x"]
    n_bins, ref_probs = st.specs["ecdf"]
    ref_cdf = np.cumsum(ref_probs)
    width = (st.hi - st.lo) / n_bins
    vals = res[res.method == "wasserstein"]["value"].to_numpy()

    def ecdf(v):
        v = np.sort(v)
        x, c = np.unique(v, return_counts=True)
        return x, np.cumsum(c) / len(v)

    for i, chunk in enumerate(_chunks(pdf[~pdf.is_ref], "x")):
        smaller = chunk[chunk < st.lo]
        bigger = chunk[chunk > st.hi]
        term_s = term_b = amount_s = 0.0
        if len(smaller):
            amount_s = (len(smaller) + 1) / len(chunk)
            x, y = ecdf(np.concatenate([smaller, [st.lo]]))
            term_s = np.sum(y[:-1] * np.diff(x)) * amount_s
        if len(bigger):
            amount_b = (len(bigger) + 1) / len(chunk)
            x, y = ecdf(np.concatenate([[st.hi], bigger]))
            term_b = np.sum((1 - y)[:-1] * np.diff(x)) * amount_b
        q = _np_hist_probs(chunk, st.lo, st.hi, n_bins)
        d = np.sum(np.abs(ref_cdf - (np.cumsum(q) + amount_s)) * width) + term_s + term_b
        assert abs(vals[i] - d) < 1e-9, f"chunk {i}: {vals[i]} vs {d}"


def test_hellinger_psi_continuous(spark, frame):
    sdf, pdf = frame
    calc, res = _fit_calc(sdf, methods_cont=("hellinger", "psi"))
    st = calc._cont_state["x"]
    n_bins, ref_probs = st.specs["doane"]
    hvals = res[res.method == "hellinger"]["value"].to_numpy()
    for i, chunk in enumerate(_chunks(pdf[~pdf.is_ref], "x")):
        q = _np_hist_probs(chunk, st.lo, st.hi, n_bins)
        p = np.array(ref_probs)
        leftover = 1 - q.sum()
        if leftover > 0:
            q, p = np.append(q, leftover), np.append(p, 0)
        h = np.sqrt(np.sum((np.sqrt(p) - np.sqrt(q)) ** 2)) / math.sqrt(2)
        assert abs(hvals[i] - h) < 1e-9
    # PSI: same bins, eps-clipped formula
    n_psi, psi_probs = st.specs["psi"]
    pvals = res[res.method == "psi"]["value"].to_numpy()
    eps = 1e-4
    for i, chunk in enumerate(_chunks(pdf[~pdf.is_ref], "x")):
        q = _np_hist_probs(chunk, st.lo, st.hi, n_psi)
        p = np.clip(np.array(psi_probs), eps, None)
        qq = np.clip(q, eps, None)
        val = np.sum((qq - p) * np.log(qq / p))
        leftover = 1 - q.sum()
        if leftover > 0:
            ql = max(leftover, eps)
            val += (ql - eps) * np.log(ql / eps)
        assert abs(pvals[i] - val) < 1e-9


def test_categorical_methods_vs_oracle(spark, frame):
    sdf, pdf = frame
    calc, res = _fit_calc(sdf, methods_cat=("jensen_shannon", "l_infinity", "chi2", "hellinger"))
    st = calc._cat_state["cat"]
    cats = sorted(st.counts)
    ref_p = np.array([st.probs[c] for c in cats])
    ref_counts = np.array([st.counts[c] for c in cats], dtype=float)
    for i, chunk in enumerate(_chunks(pdf[~pdf.is_ref], "cat")):
        svals = pd.Series(chunk)
        vc = svals.value_counts()
        q = np.array([vc.get(c, 0) for c in cats]) / len(chunk)
        # JS with leftover
        leftover = 1 - q.sum()
        p2, q2 = (np.append(ref_p, 0), np.append(q, leftover)) if leftover > 0 else (ref_p, q)
        js = js_distance_from_probs(p2, q2, 2.0)
        got = res[(res.method == "jensen_shannon") & (res.chunk_index == i)]["value"].iloc[0]
        assert abs(got - js) < 1e-9
        # L∞ over the union
        union = sorted(set(cats) | set(vc.index))
        p_u = np.array([st.probs.get(c, 0.0) for c in union])
        q_u = np.array([vc.get(c, 0) for c in union]) / len(chunk)
        linf = np.max(np.abs(p_u - q_u))
        got = res[(res.method == "l_infinity") & (res.chunk_index == i)]["value"].iloc[0]
        assert abs(got - linf) < 1e-9
        # chi2 (k>2 → no Yates): contingency of ref counts vs chunk counts
        r_u = np.array([st.counts.get(c, 0) for c in union], dtype=float)
        o_u = np.array([vc.get(c, 0) for c in union], dtype=float)
        R, O = r_u.sum(), o_u.sum()
        ct = r_u + o_u
        er, eo = ct * R / (R + O), ct * O / (R + O)
        stat = np.sum((r_u - er) ** 2 / er + (o_u - eo) ** 2 / eo)
        got = res[(res.method == "chi2") & (res.chunk_index == i)]["value"].iloc[0]
        assert abs(got - stat) < 1e-7
        # chi2 alert = p < 0.05 (drifted cats here → alert expected)
        alert = res[(res.method == "chi2") & (res.chunk_index == i)]["alert"].iloc[0]
        assert alert == (chi2_sf(stat, len(union) - 1) < 0.05)


def test_exact_ks_wasserstein_auto_path(spark, frame):
    """Reference parity: ref < 10k rows under 'auto' → exact two-sample stats
    (methods.py:411-424), verified against the numpy exact kernels."""
    from spark_validate.functions.mathstats import ks_stat_2samp, wasserstein_1d

    sdf, pdf = frame
    calc, res = _fit_calc(
        sdf, methods_cont=("kolmogorov_smirnov", "wasserstein"), computation="auto"
    )
    assert "x" in calc._exact_ref  # N_REF=5000 < 10k → exact path chosen
    ref = pdf[pdf.is_ref]["x"].to_numpy()
    for i, chunk in enumerate(_chunks(pdf[~pdf.is_ref], "x")):
        ks = res[(res.method == "kolmogorov_smirnov") & (res.chunk_index == i)]["value"].iloc[0]
        wa = res[(res.method == "wasserstein") & (res.chunk_index == i)]["value"].iloc[0]
        assert abs(ks - ks_stat_2samp(ref, chunk)) < 1e-12
        assert abs(wa - wasserstein_1d(ref, chunk)) < 1e-12


def test_alerts_fire_on_drift(spark, frame):
    sdf, pdf = frame
    calc, res = _fit_calc(sdf, methods_cont=("jensen_shannon",), methods_cat=("jensen_shannon",))
    # both columns drifted by construction → every chunk alerts
    assert res["alert"].all()
    ref_res = calc.reference_result.toPandas()
    assert not ref_res["alert"].any()
    # upper-only default thresholds (std_lower_multiplier=None)
    assert res["lower_threshold"].isna().all()
    assert res["upper_threshold"].notna().all()


def test_result_schema_contract(spark, frame):
    sdf, _ = frame
    _, res = _fit_calc(sdf, methods_cont=("jensen_shannon",))
    from spark_validate.result import RESULT_COLUMNS

    assert list(res.columns) == RESULT_COLUMNS
    assert res["chunk_key"].iloc[0] == "[0:999]"
    assert set(res["period"]) == {"analysis"}


def test_custom_threshold_dict_per_method(spark, frame):
    """Reference parity (calculator.py:116-128, :176-181): a {method:
    Threshold} dict overrides per method; chi2 overrides are ignored."""
    from spark_validate.thresholds import ConstantThreshold

    sdf, _ = frame
    calc = UnivariateDriftCalculator(
        column_names=["x", "cat"],
        continuous_methods=["jensen_shannon", "psi"],
        categorical_methods=["chi2", "l_infinity"],
        chunker=SizeBasedChunker(chunk_size=CHUNK, order_by=["id"]),
        threshold={"jensen_shannon": ConstantThreshold(lower=None, upper=0.42), "chi2": ConstantThreshold(upper=1.0)},
    ).fit(sdf.filter("is_ref"))
    res = calc.calculate(sdf.filter("NOT is_ref")).toPandas()
    calc.release_cache()
    js = res[res.method == "jensen_shannon"]
    assert (js["upper_threshold"] == 0.42).all() and js["lower_threshold"].isna().all()
    # non-overridden methods keep the fitted 3σ thresholds (vary by column)
    psi = res[res.method == "psi"]
    assert psi["upper_threshold"].notna().all() and (psi["upper_threshold"] != 0.42).all()
    # chi2 ignores custom thresholds: alert stays the p<0.05 rule
    chi2 = res[res.method == "chi2"]
    assert chi2["upper_threshold"].isna().all()


def _np_band(vals, thr):
    """numpy band over a per-chunk value series (np.quantile's default linear
    interpolation is Spark's exact percentile)."""
    v = np.asarray(vals, dtype=float)
    if isinstance(thr, QuantileThreshold):
        return np.quantile(v, thr.q_lower), np.quantile(v, thr.q_upper)
    if isinstance(thr, MedianAbsoluteDeviationThreshold):
        med = np.median(v)
        scale = 1.4826 * np.median(np.abs(v - med))
        return med - thr.mad_lower_multiplier * scale, med + thr.mad_upper_multiplier * scale
    return None, v.mean() + thr.std_upper_multiplier * v.std()  # upper-only 3σ default


def _clamped(lo, up, method):
    lo_l, up_l = _LIMITS.get(method, (None, None))
    return (
        lo if lo is None or lo_l is None else max(lo, lo_l),
        up if up is None or up_l is None else min(up, up_l),
    )


def _fit_banded(sdf, threshold):
    """Fit on 10 reference chunks; return the calculator and its reference
    per-chunk value series by (column, method)."""
    calc = UnivariateDriftCalculator(
        column_names=["x", "cat"],
        continuous_methods=["jensen_shannon", "kolmogorov_smirnov", "hellinger"],
        categorical_methods=["chi2", "jensen_shannon", "hellinger"],
        chunker=SizeBasedChunker(chunk_size=CHUNK // 2, order_by=["id"]),
        computation="estimated",
        threshold=threshold,
    ).fit(sdf.filter("is_ref"))
    ref = calc.reference_result.toPandas()
    calc.release_cache()
    series = {
        key: g.sort_values("chunk_index")["value"].to_numpy()
        for key, g in ref.groupby(["column_name", "method"])
    }
    assert set(calc._thresholds) == set(series)
    return calc, series


@pytest.mark.parametrize(
    "thr", [QuantileThreshold(), MedianAbsoluteDeviationThreshold()], ids=["quantile", "mad"]
)
def test_robust_thresholds_on_univariate_drift(spark, frame, thr):
    """Quantile and MAD bands fit on the reference's per-chunk values and
    clamp to each method's limits; chi2 keeps no band."""
    sdf, _ = frame
    calc, series = _fit_banded(sdf, thr)
    for (col, method), vals in series.items():
        got = calc._thresholds[(col, method)]
        if method == "chi2":
            assert got == (None, None)
        else:
            assert got == pytest.approx(_clamped(*_np_band(vals, thr), method), rel=1e-12)


def test_mixed_threshold_dict_on_univariate_drift(spark, frame):
    """A dict of mixed threshold types: each named method gets its own band,
    the rest the upper-only 3σ default, chi2 none."""
    sdf, _ = frame
    thr = {"jensen_shannon": QuantileThreshold(), "hellinger": ConstantThreshold(upper=0.3)}
    calc, series = _fit_banded(sdf, thr)
    default = StandardDeviationThreshold(std_lower_multiplier=None)
    for (col, method), vals in series.items():
        got = calc._thresholds[(col, method)]
        if method == "chi2":
            assert got == (None, None)
        elif method == "hellinger":
            assert got == (None, 0.3)
        else:
            want = _clamped(*_np_band(vals, thr.get(method, default)), method)
            assert got == pytest.approx(want, rel=1e-12)


def test_tvd_continuous_and_categorical_vs_oracle(spark, frame):
    """TVD = 0.5·Σ|p−q| (+ leftover lump, which is EXACT: every bin/category
    outside the reference support has p = 0, so lumping its mass changes
    nothing) — checked against a direct numpy union replica on both kinds."""
    sdf, pdf = frame
    calc, res = _fit_calc(sdf, methods_cont=("tvd",), methods_cat=("tvd",))
    st = calc._cont_state["x"]
    n_bins, probs = st.specs["doane"]
    edges = np.linspace(st.lo, st.hi, n_bins + 1)
    for i, chunk in enumerate(_chunks(pdf[~pdf.is_ref], "x")):
        inb = chunk[(chunk >= st.lo) & (chunk < st.hi)]
        h, _ = np.histogram(inb, bins=edges)
        q = h / len(chunk)
        leftover = 1 - q.sum()
        want = 0.5 * (np.sum(np.abs(np.asarray(probs) - q)) + max(leftover, 0.0))
        got = res[(res.method == "tvd") & (res.column_name == "x") & (res.chunk_index == i)][
            "value"
        ].iloc[0]
        assert abs(got - want) < 1e-9
        assert 0.0 <= got <= 1.0
    cst = calc._cat_state["cat"]
    cats = sorted(cst.counts)
    for i, chunk in enumerate(_chunks(pdf[~pdf.is_ref], "cat")):
        vc = pd.Series(chunk).value_counts()
        union = sorted(set(cats) | set(vc.index))
        p_u = np.array([cst.probs.get(c, 0.0) for c in union])
        q_u = np.array([vc.get(c, 0) for c in union]) / len(chunk)
        want = 0.5 * np.sum(np.abs(p_u - q_u))  # union form == lump form
        got = res[(res.method == "tvd") & (res.column_name == "cat") & (res.chunk_index == i)][
            "value"
        ].iloc[0]
        assert abs(got - want) < 1e-9


def test_cvm_binned_vs_numpy_and_exact_path(spark, frame):
    """Cramér–von Mises distance ω² = ∫ (F_ref − F_chunk)² dH, H pooled:
    the binned path equals a numpy replica of the sketch formula (pooled
    per-bucket weights, OOR lumps mass³/2); the exact path (auto, 5k < 10k
    reference) bit-matches `cvm_dist_2samp`; identical samples score ~0."""
    from spark_validate.functions.mathstats import cvm_dist_2samp

    sdf, pdf = frame
    calc, res = _fit_calc(sdf, methods_cont=("cramer_von_mises",))
    st = calc._cont_state["x"]
    n_bins, probs = st.specs["ecdf"]
    ref_cdf = np.cumsum(probs)
    edges = np.linspace(st.lo, st.hi, n_bins + 1)
    for i, chunk in enumerate(_chunks(pdf[~pdf.is_ref], "x")):
        inb = chunk[(chunk >= st.lo) & (chunk <= st.hi)]
        h, _ = np.histogram(inb, bins=edges)
        q = h / len(chunk)
        below = np.mean(chunk < st.lo)
        above = np.mean(chunk > st.hi)
        chunk_cdf = below + np.cumsum(q)
        within = np.sum((np.asarray(probs) + q) / 2 * (ref_cdf - chunk_cdf) ** 2)
        want = within + below**3 / 2 + above**3 / 2
        got = res[
            (res.method == "cramer_von_mises") & (res.chunk_index == i)
        ]["value"].iloc[0]
        assert abs(got - want) < 1e-9
        assert 0.0 <= got <= 1.0

    # exact path: auto switches below 10k reference rows
    calc2 = UnivariateDriftCalculator(
        ["x"],
        continuous_methods=("cramer_von_mises",),
        chunker=SizeBasedChunker(chunk_size=CHUNK, order_by=["id"]),
        computation="auto",
    ).fit(sdf.filter("is_ref"))
    assert "x" in calc2._exact_ref
    res2 = (
        calc2.calculate(sdf.filter("NOT is_ref")).orderBy("chunk_index").toPandas()
    )
    ref_vals = pdf[pdf.is_ref]["x"].to_numpy()
    for i, chunk in enumerate(_chunks(pdf[~pdf.is_ref], "x")):
        assert res2["value"].iloc[i] == cvm_dist_2samp(ref_vals, chunk)
    # self-distance: reference scored against itself in one chunk is 0
    assert cvm_dist_2samp(ref_vals, ref_vals) == 0.0


def test_tvd_streams_identically(spark, frame, tmp_path):
    """TVD joins the streamable set: per-window values equal the batch path."""
    from spark_validate.chunking import PeriodBasedChunker
    from spark_validate.streaming import streaming_univariate_drift

    sdf, pdf = frame
    ts = pd.Timestamp("2024-06-01") + pd.to_timedelta(pdf["id"] * 6, unit="s")
    pdf2 = pdf.assign(ts=ts)
    sdf2 = spark.createDataFrame(pdf2)
    calc = UnivariateDriftCalculator(
        ["x", "cat"],
        continuous_methods=("tvd",),
        categorical_methods=("tvd",),
        chunker=PeriodBasedChunker(offset="H", timestamp_column="ts"),
        computation="estimated",
    ).fit(sdf2.filter("is_ref"))
    batch = calc.calculate(sdf2.filter("NOT is_ref")).toPandas()

    src = str(tmp_path / "tvd_stream")
    sdf2.filter("NOT is_ref").write.parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    q = (
        streaming_univariate_drift(stream, calc, "ts", window_duration="1 hour")
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("sv_tvd_drift")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    sres = spark.sql("SELECT * FROM sv_tvd_drift").toPandas()
    assert set(sres["method"]) == {"tvd"}
    for col in ("x", "cat"):
        b = batch[batch.column_name == col]
        bs = b.set_index(b["start_ts"].dt.floor("h"))["value"]
        sm = sres[sres.column_name == col]
        ss = sm.set_index(pd.to_datetime(sm["window_start"]))["value"]
        joined = pd.concat([bs.rename("b"), ss.rename("s")], axis=1).dropna()
        assert len(joined) >= 3
        np.testing.assert_allclose(joined["b"], joined["s"], rtol=1e-12)


def test_streaming_drift_nan_parity_with_batch(spark, frame, tmp_path):
    """NaN rows must neither count toward a window's n nor land in the
    out-of-range bucket as phantom leftover mass — the streaming path must
    apply the same nan_to_null convention as the batch calculator
    (a failed decode emits NaN pixel stats, so payload streams hit this)."""
    from spark_validate.chunking import PeriodBasedChunker
    from spark_validate.streaming import streaming_univariate_drift

    sdf, pdf = frame
    ts = pd.Timestamp("2024-06-01") + pd.to_timedelta(pdf["id"] * 6, unit="s")
    pdf2 = pdf.assign(ts=ts)
    # plant NaNs in half the analysis rows of the first window
    ana_idx = pdf2.index[~pdf2.is_ref]
    pdf2.loc[ana_idx[:300:2], "x"] = np.nan
    sdf2 = spark.createDataFrame(pdf2)
    calc = UnivariateDriftCalculator(
        ["x"],
        continuous_methods=("jensen_shannon",),
        categorical_methods=(),
        chunker=PeriodBasedChunker(offset="H", timestamp_column="ts"),
        computation="estimated",
    ).fit(sdf2.filter("is_ref"))
    batch = calc.calculate(sdf2.filter("NOT is_ref")).toPandas()

    src = str(tmp_path / "nan_stream")
    sdf2.filter("NOT is_ref").write.parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    q = (
        streaming_univariate_drift(stream, calc, "ts", window_duration="1 hour")
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("sv_nan_drift")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    sres = spark.sql("SELECT * FROM sv_nan_drift").toPandas()
    b = batch[batch.column_name == "x"]
    bs = b.set_index(b["start_ts"].dt.floor("h"))["value"]
    ss = sres.set_index(pd.to_datetime(sres["window_start"]))["value"]
    joined = pd.concat([bs.rename("b"), ss.rename("s")], axis=1).dropna()
    assert len(joined) >= 3
    np.testing.assert_allclose(joined["b"], joined["s"], rtol=1e-12)


def test_kl_continuous_and_categorical_vs_oracle(spark, frame):
    """Forward KL(analysis‖reference) with the PSI eps convention: every
    probability clipped to eps=1e-4, leftover lump scores q_l·ln(q_l/eps) —
    checked against a direct numpy replica on both kinds. KL must be
    DIRECTIONAL: a chunk identical to the reference scores ~0 while a
    shifted one scores positive."""
    sdf, pdf = frame
    eps = 1e-4
    calc, res = _fit_calc(sdf, methods_cont=("kl",), methods_cat=("kl",))
    st = calc._cont_state["x"]
    n_bins, probs = st.specs["doane"]
    edges = np.linspace(st.lo, st.hi, n_bins + 1)
    p = np.maximum(np.asarray(probs), eps)
    for i, chunk in enumerate(_chunks(pdf[~pdf.is_ref], "x")):
        inb = chunk[(chunk >= st.lo) & (chunk <= st.hi)]
        h, _ = np.histogram(inb, bins=edges)
        q = np.maximum(h / len(chunk), eps)
        leftover = 1 - (h / len(chunk)).sum()
        want = float(np.sum(q * np.log(q / p)))
        if leftover > 0:
            ql = max(leftover, eps)
            want += ql * math.log(ql / eps)
        got = res[(res.method == "kl") & (res.column_name == "x") & (res.chunk_index == i)][
            "value"
        ].iloc[0]
        assert abs(got - want) < 1e-9
    cst = calc._cat_state["cat"]
    cats = sorted(cst.counts)
    p_c = np.maximum(np.array([cst.probs[c] for c in cats]), eps)
    for i, chunk in enumerate(_chunks(pdf[~pdf.is_ref], "cat")):
        vc = pd.Series(chunk).value_counts()
        q_raw = np.array([vc.get(c, 0) for c in cats]) / len(chunk)
        q_c = np.maximum(q_raw, eps)
        leftover = 1 - q_raw.sum()
        want = float(np.sum(q_c * np.log(q_c / p_c)))
        if leftover > 0:
            ql = max(leftover, eps)
            want += ql * math.log(ql / eps)
        got = res[(res.method == "kl") & (res.column_name == "cat") & (res.chunk_index == i)][
            "value"
        ].iloc[0]
        assert abs(got - want) < 1e-9
        # analysis has 25% unseen category 'e' → clearly positive divergence
        assert got > 0.05


def test_kl_streams_identically(spark, frame, tmp_path):
    """KL joins the streamable set: per-window values equal the batch path."""
    from spark_validate.chunking import PeriodBasedChunker
    from spark_validate.streaming import streaming_univariate_drift

    sdf, pdf = frame
    ts = pd.Timestamp("2024-06-01") + pd.to_timedelta(pdf["id"] * 6, unit="s")
    pdf2 = pdf.assign(ts=ts)
    sdf2 = spark.createDataFrame(pdf2)
    calc = UnivariateDriftCalculator(
        ["x", "cat"],
        continuous_methods=("kl",),
        categorical_methods=("kl",),
        chunker=PeriodBasedChunker(offset="H", timestamp_column="ts"),
        computation="estimated",
    ).fit(sdf2.filter("is_ref"))
    batch = calc.calculate(sdf2.filter("NOT is_ref")).toPandas()

    src = str(tmp_path / "kl_stream")
    sdf2.filter("NOT is_ref").write.parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    q = (
        streaming_univariate_drift(stream, calc, "ts", window_duration="1 hour")
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("sv_kl_drift")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    sres = spark.sql("SELECT * FROM sv_kl_drift").toPandas()
    assert set(sres["method"]) == {"kl"}
    for col in ("x", "cat"):
        b = batch[batch.column_name == col]
        bs = b.set_index(b["start_ts"].dt.floor("h"))["value"]
        sm = sres[sres.column_name == col]
        ss = sm.set_index(pd.to_datetime(sm["window_start"]))["value"]
        joined = pd.concat([bs.rename("b"), ss.rename("s")], axis=1).dropna()
        assert len(joined) >= 3
        np.testing.assert_allclose(joined["b"], joined["s"], rtol=1e-12)


def test_chi2_p_value_matches_chi2_sf(spark):
    """The native chi2 p-value (commons-math3 regularizedGammaQ through
    ``reflect``) agrees with ``mathstats.chi2_sf`` to 1e-12 relative, and
    stays NaN where the statistic is NULL or the table has one category."""
    from pyspark.sql import functions as F

    from spark_validate.drift.univariate import chi2_p_value
    from spark_validate.functions.local import local_frame

    grid = [
        (float(s), d)
        for s in (0.0, 0.3, 1.0, 3.841458820694124, 12.5, 60.0, 250.0, 900.0)
        for d in (1, 2, 3, 7, 30, 120, 600)
    ]
    rows = grid + [(None, 3), (5.0, 0)]
    got = (
        local_frame(spark, rows, "stat double, dof long")
        .select("stat", "dof", chi2_p_value(F.col("stat"), F.col("dof")).alias("p"))
        .collect()
    )
    by = {(r["stat"], r["dof"]): r["p"] for r in got}
    for s, d in grid:
        assert by[(s, d)] == pytest.approx(chi2_sf(s, d), rel=1e-12, abs=0.0), (s, d)
    assert math.isnan(by[(None, 3)]) and math.isnan(by[(5.0, 0)])


def test_chi2_statistic_independent_of_partitioning(spark):
    """chi2 adds its per-category cells in category order, so two
    partitionings of the same rows (input and shuffle) give the same
    statistic bit for bit."""
    rng = np.random.default_rng(31)
    cats = [f"c{i:02d}" for i in range(40)]
    n = 6000
    ref = rng.choice(cats, n // 2)
    ana = rng.choice(cats[5:] + ["u1", "u2", "u3"], n // 2)
    pdf = pd.DataFrame({"id": np.arange(n), "cat": np.concatenate([ref, ana])})
    pdf["is_ref"] = pdf["id"] < n // 2
    sdf = spark.createDataFrame(pdf)

    def chi2_rows(df):
        calc = UnivariateDriftCalculator(
            column_names=["cat"],
            categorical_methods=["chi2"],
            chunker=SizeBasedChunker(chunk_size=500, order_by=["id"]),
        ).fit(df.filter("is_ref"))
        res = calc.reference_result.unionByName(calc.calculate(df.filter("NOT is_ref")))
        rows = res.select("chunk_index", "period", "value").collect()
        calc.release_cache()
        return sorted((r["period"], r["chunk_index"], r["value"]) for r in rows)

    one = chi2_rows(sdf.repartition(1))
    # without adaptive execution the 7 shuffle partitions are not coalesced,
    # so the cells reach the aggregate in another order
    confs = {"spark.sql.adaptive.enabled": "false", "spark.sql.shuffle.partitions": "7"}
    before = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        many = chi2_rows(sdf.repartition(7, "cat"))
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)
    assert len(one) == 12
    assert one == many
