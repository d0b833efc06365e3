"""CBPE + calibration vs numpy oracles re-implementing the reference formulas."""

import numpy as np
import pandas as pd
import pytest

from spark_validate.calibration import (
    IsotonicCalibrator,
    expected_calibration_error,
    needs_calibration,
    pava,
)
from spark_validate.chunking import SizeBasedChunker
from spark_validate.performance.cbpe import CBPE

N_REF, N_ANA, CHUNK = 4000, 2000, 500


def test_pava_monotone_and_mean_preserving():
    y = np.array([3.0, 1.0, 2.0, 5.0, 4.0])
    w = np.ones(5)
    out = pava(y, w)
    assert (np.diff(out) >= -1e-12).all()
    assert np.isclose(out.sum(), y.sum())
    # pooled blocks are means of violators
    np.testing.assert_allclose(out, [2, 2, 2, 4.5, 4.5])


def test_isotonic_calibrator_recovers_monotone_trend():
    rng = np.random.default_rng(0)
    p = rng.uniform(0, 1, 5000)
    y = (rng.uniform(0, 1, 5000) < p**2).astype(float)  # true prob = p²
    cal = IsotonicCalibrator().fit(p, y)
    grid = np.linspace(0.05, 0.95, 10)
    est = cal.calibrate(grid)
    assert (np.diff(est) >= -1e-12).all()
    assert np.max(np.abs(est - grid**2)) < 0.1  # close to the true curve


def test_needs_calibration_decisions():
    rng = np.random.default_rng(1)
    p = rng.uniform(0, 1, 4000)
    # miscalibrated scores (true prob = p³) → needs calibration
    y_bad = (rng.uniform(0, 1, 4000) < p**3).astype(float)
    assert needs_calibration(y_bad, p)
    # single-class early exit
    assert not needs_calibration(np.ones(100), rng.uniform(0, 1, 100))
    # near-perfect separation early exit (AUROC > 0.999)
    y_sep = (p > 0.5).astype(float)
    assert not needs_calibration(y_sep, p)


def test_ece_zero_for_perfectly_calibrated_bins():
    y = np.array([0, 1] * 500)
    p = np.full(1000, 0.5)
    assert expected_calibration_error(y, p, bin_count=4) < 1e-12


@pytest.fixture(scope="module")
def cbpe_frame(spark):
    rng = np.random.default_rng(33)
    n = N_REF + N_ANA
    true_p = rng.uniform(0.05, 0.95, n)
    y = (rng.uniform(0, 1, n) < true_p).astype(int)
    score = np.clip(true_p + rng.normal(0, 0.05, n), 0.001, 0.999)
    pred = (score > 0.5).astype(int)
    pdf = pd.DataFrame({"id": np.arange(n), "y_true": y, "y_pred": pred, "score": score})
    pdf["is_ref"] = pdf["id"] < N_REF
    return spark.createDataFrame(pdf), pdf


def test_cbpe_estimates_match_numpy_oracle(spark, cbpe_frame):
    sdf, pdf = cbpe_frame
    est = CBPE(
        metrics=("accuracy", "precision", "recall", "f1", "roc_auc"),
        y_true="y_true",
        y_pred="y_pred",
        y_pred_proba="score",
        chunker=SizeBasedChunker(chunk_size=CHUNK, order_by=["id"]),
    )
    est.fit(sdf.filter("is_ref"))
    res = est.estimate(sdf.filter("NOT is_ref")).orderBy("chunk_index").toPandas()
    # numpy oracle: same calibrator applied per chunk, same expected-confusion
    cal = est._calibrator
    a = pdf[~pdf.is_ref].reset_index(drop=True)
    piv = res.set_index(["chunk_index", "method"])["value"]
    for i in range(2):
        c = a.iloc[i * CHUNK : (i + 1) * CHUNK]
        p = cal.calibrate(c["score"].to_numpy())
        pred = c["y_pred"].to_numpy()
        TP = p[pred == 1].sum()
        FP = (1 - p[pred == 1]).sum()
        FN = p[pred == 0].sum()
        TN = (1 - p[pred == 0]).sum()
        assert abs(piv[(i, "accuracy")] - (TP + TN) / CHUNK) < 1e-9
        assert abs(piv[(i, "precision")] - TP / (TP + FP)) < 1e-9
        assert abs(piv[(i, "recall")] - TP / (TP + FN)) < 1e-9
        assert abs(piv[(i, "f1")] - TP / (TP + 0.5 * (FP + FN))) < 1e-9
        # estimated ROC-AUC oracle (reference estimate_roc_auc, incl. round-5)
        order = np.argsort(-c["score"].to_numpy(), kind="mergesort")
        pc = p[order]
        tps = np.round(np.cumsum(pc), 5)
        fps = np.round(1 + np.arange(len(pc)) - np.cumsum(pc), 5)
        tpr = np.r_[0, tps] / tps[-1]
        fpr = np.r_[0, fps] / fps[-1]
        auc = float(np.trapz(tpr, fpr))
        assert abs(piv[(i, "roc_auc")] - auc) < 1e-6
    # estimated accuracy should track realized accuracy reasonably
    realized = [
        (a.iloc[i * CHUNK : (i + 1) * CHUNK].y_true == a.iloc[i * CHUNK : (i + 1) * CHUNK].y_pred).mean()
        for i in range(4)
    ]
    estimated = [piv[(i, "accuracy")] for i in range(4)]
    assert np.max(np.abs(np.array(realized) - np.array(estimated))) < 0.05


def test_cbpe_estimates_without_labels(spark, cbpe_frame):
    sdf, _ = cbpe_frame
    est = CBPE(
        metrics=("accuracy",),
        y_true="y_true",
        y_pred="y_pred",
        y_pred_proba="score",
        chunker=SizeBasedChunker(chunk_size=CHUNK, order_by=["id"]),
    )
    est.fit(sdf.filter("is_ref"))
    unlabeled = sdf.filter("NOT is_ref").drop("y_true")  # analysis has NO labels
    res = est.estimate(unlabeled).toPandas()
    assert len(res) == 4
    assert res["value"].notna().all()
    assert res["upper_threshold"].notna().all()


@pytest.fixture(scope="module")
def mc_frame(spark):
    """Multiclass: 3 classes, miscalibrated per-class scores."""
    rng = np.random.default_rng(21)
    n = N_REF + N_ANA
    classes = ["a", "b", "c"]
    yt = rng.choice(classes, n)
    raw = rng.uniform(0.05, 0.4, size=(n, 3))
    for i, cls in enumerate(classes):
        raw[yt == cls, i] += rng.uniform(0.2, 0.8, size=(yt == cls).sum())
    probs = (raw**2) / (raw**2).sum(axis=1, keepdims=True)  # squared → miscalibrated
    yp = np.array(classes)[probs.argmax(axis=1)]
    pdf = pd.DataFrame(
        {"id": np.arange(n), "y_true": yt, "y_pred": yp,
         "p_a": probs[:, 0], "p_b": probs[:, 1], "p_c": probs[:, 2]}
    )
    pdf["is_ref"] = pdf["id"] < N_REF
    return pdf, spark.createDataFrame(pdf)


def _mc_calibrated(pdf, classes):
    """Numpy replica of the reference's per-class calibrate + renormalize."""
    ref = pdf[pdf.is_ref]
    cals = {}
    for cls in classes:
        y = (ref["y_true"] == cls).to_numpy(dtype=float)
        p = ref[f"p_{cls}"].to_numpy()
        if needs_calibration(y, p):
            cals[cls] = IsotonicCalibrator().fit(p, y)
        else:
            cals[cls] = None
    ana = pdf[~pdf.is_ref].reset_index(drop=True)
    mat = np.stack(
        [
            (cals[cls].calibrate(ana[f"p_{cls}"].to_numpy()) if cals[cls] else ana[f"p_{cls}"].to_numpy())
            for cls in classes
        ],
        axis=1,
    )
    denom = mat.sum(axis=1, keepdims=True)
    uniform = np.full_like(mat, 1 / len(classes))
    mat = np.divide(mat, denom, out=uniform, where=denom != 0)
    return ana, mat


def test_cbpe_multiclass_vs_numpy_oracle(mc_frame):
    pdf, sdf = mc_frame
    classes = ["a", "b", "c"]
    bvm = [[1.0, -1.0, -0.5], [-2.0, 2.0, -0.25], [0.0, -3.0, 3.0]]
    est = CBPE(
        metrics=("accuracy", "f1", "confusion_matrix", "business_value"),
        y_pred_proba={c: f"p_{c}" for c in classes},
        problem_type="multiclass_classification",
        business_value_matrix=bvm,
        chunker=SizeBasedChunker(chunk_size=CHUNK, order_by=["id"]),
        calibration_sample=10**9,  # use the full reference (no sampling noise)
    )
    est.fit(sdf.filter("is_ref"))
    res = est.estimate(sdf.filter("NOT is_ref").drop("y_true")).orderBy("chunk_index").toPandas()
    piv = res.set_index(["chunk_index", "method"])["value"]

    ana, cal = _mc_calibrated(pdf, classes)
    c = slice(0, CHUNK)
    pred = ana["y_pred"].to_numpy()[c]
    calc = cal[c]
    # accuracy = mean calibrated proba of the predicted class
    idx = np.array([classes.index(p) for p in pred])
    want_acc = calc[np.arange(len(idx)), idx].mean()
    assert np.isclose(piv[(0, "accuracy")], want_acc, atol=1e-9)
    # macro estimated f1
    f1s = []
    for i, cls in enumerate(classes):
        is_p = pred == cls
        tp = calc[is_p, i].sum()
        fp = (1 - calc[is_p, i]).sum()
        fn = calc[~is_p, i].sum()
        f1s.append(tp / (tp + 0.5 * (fp + fn)))
    assert np.isclose(piv[(0, "f1")], np.mean(f1s), atol=1e-9)
    # expected confusion matrix + business value
    bv = 0.0
    for i, t in enumerate(classes):
        for j, p in enumerate(classes):
            cm_ij = calc[pred == p, i].sum()
            assert np.isclose(piv[(0, f"true_{t}_pred_{p}")], cm_ij, atol=1e-9)
            bv += bvm[i][j] * cm_ij
    assert np.isclose(piv[(0, "business_value")], bv, atol=1e-9)
    # chunk count sanity
    assert res[res.method == "accuracy"].shape[0] == N_ANA // CHUNK


def test_cbpe_multiclass_auc_ap_run(mc_frame):
    """roc_auc / average_precision estimated values are finite and in [0,1]."""
    pdf, sdf = mc_frame
    classes = ["a", "b", "c"]
    est = CBPE(
        metrics=("roc_auc", "average_precision"),
        y_pred_proba={c: f"p_{c}" for c in classes},
        problem_type="multiclass_classification",
        chunker=SizeBasedChunker(chunk_size=CHUNK, order_by=["id"]),
    )
    est.fit(sdf.filter("is_ref"))
    res = est.estimate(sdf.filter("NOT is_ref").drop("y_true")).toPandas()
    vals = res["value"]
    assert vals.notna().all()
    assert ((vals >= 0) & (vals <= 1)).all()
    # the model genuinely ranks well → estimates should be clearly > 0.5
    assert res[res.method == "roc_auc"]["value"].min() > 0.7


def test_cbpe_binary_confusion_matrix_normalization(spark, cbpe_frame):
    """Estimated CM normalization parity (ref metrics.py:1404-1498): 'true'
    rows and 'pred' columns each sum to 1; 'all' sums to 1 across cells."""
    sdf, _ = cbpe_frame
    from spark_validate.chunking import SizeBasedChunker

    out = {}
    for norm in (None, "all", "true", "pred"):
        est = CBPE(
            metrics=("confusion_matrix",),
            y_true="y_true",
            y_pred="y_pred",
            y_pred_proba="score",
            normalize_confusion_matrix=norm,
            chunker=SizeBasedChunker(chunk_size=1000, order_by=["id"]),
        ).fit(sdf.filter("is_ref"))
        res = est.estimate(sdf.filter("NOT is_ref")).toPandas()
        out[norm] = res.pivot_table(index="chunk_index", columns="method", values="value")
    raw = out[None]
    tot = raw.sum(axis=1)
    allp = out["all"]
    assert np.allclose(allp.sum(axis=1), 1.0)
    assert np.allclose(allp["true_positive"], raw["true_positive"] / tot)
    t = out["true"]
    assert np.allclose(t["true_positive"] + t["false_negative"], 1.0)
    assert np.allclose(t["true_negative"] + t["false_positive"], 1.0)
    p = out["pred"]
    assert np.allclose(p["true_positive"] + p["false_positive"], 1.0)
    assert np.allclose(p["true_negative"] + p["false_negative"], 1.0)


def test_cbpe_multiclass_sampling_errors_present(mc_frame):
    _, sdf = mc_frame
    from spark_validate.chunking import SizeBasedChunker

    classes = sorted(r[0] for r in sdf.select("y_true").distinct().collect())
    est = CBPE(
        metrics=("accuracy", "f1", "roc_auc"),
        problem_type="multiclass_classification",
        y_pred_proba={c: f"p_{c}" for c in classes},
        chunker=SizeBasedChunker(chunk_size=1000, order_by=["id"]),
    ).fit(sdf.filter("is_ref"))
    res = est.estimate(sdf.filter("NOT is_ref")).toPandas()
    for mth in ("accuracy", "f1", "roc_auc"):
        g = res[res.method == mth]
        assert g["sampling_error"].notna().all(), mth
        assert (g["sampling_error"] > 0).all(), mth
        assert g["upper_confidence_boundary"].notna().all(), mth


def test_cbpe_multiclass_non_string_class_keys(mc_frame):
    """Class keys need not be strings: the labels match them as strings, and
    integer keys estimate the same values as the string keys they stand for."""
    from pyspark.sql import functions as F

    _, sdf = mc_frame

    def code(col):
        out = F.lit(None)
        for i, cls in enumerate("abc"):
            out = F.when(F.col(col) == cls, F.lit(i)).otherwise(out)
        return out

    coded = sdf.withColumn("y_true", code("y_true")).withColumn("y_pred", code("y_pred"))
    values = {}
    for keys, frame in (("abc", sdf), ((0, 1, 2), coded)):
        est = CBPE(
            metrics=("accuracy", "f1", "confusion_matrix"),
            problem_type="multiclass_classification",
            y_pred_proba={k: f"p_{c}" for k, c in zip(keys, "abc")},
            chunker=SizeBasedChunker(chunk_size=1000, order_by=["id"]),
        ).fit(frame.filter("is_ref"))
        res = est.estimate(frame.filter("NOT is_ref").drop("y_true")).toPandas()
        values[keys[0]] = res.sort_values(["chunk_index", "method"]).reset_index(drop=True)
    named, coded_res = values["a"], values[0]
    cells = {f"true_{i}_pred_{j}": f"true_{a}_pred_{b}" for i, a in enumerate("abc") for j, b in enumerate("abc")}
    assert "true_0_pred_1" in set(coded_res["method"])
    assert list(coded_res["method"].replace(cells)) == list(named["method"])
    assert np.array_equal(coded_res["value"].to_numpy(), named["value"].to_numpy())


# ---- run-endpoint compression and the native (Spark) calibration -----------


def _uncompressed_fit(p, y):
    """IsotonicCalibrator.fit's breakpoints before run-endpoint compression."""
    order = np.argsort(p, kind="mergesort")
    ux, inv, counts = np.unique(p[order], return_inverse=True, return_counts=True)
    uy = np.bincount(inv, weights=y[order]) / counts
    return ux, pava(uy, counts.astype(np.float64))


def _probes(x, rng, n_random=0):
    """Every breakpoint, the midpoints between them, points outside the
    range, signed zeros, infinities and NaN."""
    mids = (x[1:] + x[:-1]) / 2
    out = [x, mids, [x[0] - 1.0, x[0] - 1e-12, x[-1] + 1e-12, x[-1] + 1.0],
           [0.0, -0.0, np.inf, -np.inf, np.nan], rng.uniform(-0.2, 1.2, n_random)]
    return np.concatenate([np.asarray(v, dtype=np.float64) for v in out])


def _bits(a):
    return np.asarray(a, dtype=np.float64).view(np.uint64)


@pytest.mark.parametrize("n", [5000, 200_000])
def test_compressed_calibrator_equals_uncompressed_interp(n):
    rng = np.random.default_rng(n)
    p = rng.uniform(0, 1, n)
    y = (rng.uniform(0, 1, n) < p**2).astype(float)
    ux, uy = _uncompressed_fit(p, y)
    cal = IsotonicCalibrator().fit(p, y)
    assert len(cal._x) < len(ux) / 10  # runs collapse to their end points
    probe = _probes(ux, rng, n_random=10_000)
    np.testing.assert_array_equal(_bits(cal.calibrate(probe)), _bits(np.interp(probe, ux, uy)))


@pytest.fixture(scope="module")
def calibrators():
    rng = np.random.default_rng(9)
    p = rng.uniform(0, 1, 5000)
    y = (rng.uniform(0, 1, 5000) < p**3).astype(float)
    p2 = rng.uniform(0, 1, 200_000)
    y2 = (rng.uniform(0, 1, 200_000) < p2**2).astype(float)
    return {
        "one": IsotonicCalibrator().set_state({"x": [0.4], "y": [0.6]}),
        "two": IsotonicCalibrator().set_state({"x": [0.2, 0.8], "y": [0.1, 0.9]}),
        "interior_zero": IsotonicCalibrator().set_state({"x": [-1.0, 0.0, 0.5, 2.0], "y": [0.0, 0.25, 0.5, 1.0]}),
        "infinite_ends": IsotonicCalibrator().set_state(
            {"x": [-np.inf, 0.25, 0.5, np.inf], "y": [0.0, 0.25, 0.5, 1.0]}
        ),
        "many": IsotonicCalibrator().fit(p, y),
        "fit_200k": IsotonicCalibrator().fit(p2, y2),
    }


@pytest.mark.parametrize("name", ["one", "two", "interior_zero", "infinite_ends", "many", "fit_200k"])
def test_native_calibration_equals_numpy(spark, calibrators, name):
    """with_calibrated returns calibrate()'s bits; a NaN result is NULL, as
    after the Arrow trip out of the pandas UDF it replaces."""
    from spark_validate.calibration import with_calibrated
    from spark_validate.functions.local import local_frame
    from pyspark.sql import functions as F

    cal = calibrators[name]
    rng = np.random.default_rng(3)
    probe = _probes(cal._x, rng, n_random=2000)
    rows = [(i, float(v)) for i, v in enumerate(probe)] + [(len(probe), None)]
    df = local_frame(spark, rows, "i int, p double")
    got = with_calibrated(df, [("c", F.col("p"), cal)]).orderBy("i").collect()
    expected = cal.calibrate(np.append(probe, np.nan))
    for r, e in zip(got, expected):
        if np.isnan(e):
            assert r.c is None, (r.p, r.c)
        else:
            assert r.c is not None and _bits(r.c) == _bits(e), (r.p, r.c, e)
    assert len(got) == len(expected)


@pytest.mark.parametrize("k", [3, 9])
def test_row_sum_follows_numpy_order(spark, k):
    from spark_validate.calibration import row_sum
    from spark_validate.functions.local import local_frame
    from pyspark.sql import functions as F

    rng = np.random.default_rng(k)
    mat = rng.uniform(0, 1, (500, k)) * rng.choice([1e-6, 1.0, 1e6], (500, k))
    cols = [f"c{i}" for i in range(k)]
    df = local_frame(spark, [tuple(map(float, r)) for r in mat], ", ".join(f"{c} double" for c in cols))
    got = np.array([r.s for r in df.select(row_sum([F.col(c) for c in cols]).alias("s")).collect()])
    np.testing.assert_array_equal(_bits(got), _bits(mat.sum(axis=1, keepdims=True)[:, 0]))


# ---- fit exactness: the calibrator, the sampling-error components and the
# thresholds equal numpy over the rows each one reads, on references with
# NULL labels, NULL predictions and NULL scores

NULL_REF, NULL_CHUNK = 4000, 500


def _auroc_components(y, s):
    """The AUROC sampling-error components, in numpy
    (`sampling_error/binary_classification.py:36-75`)."""
    if y.mean() > 0.5:
        y, s = 1.0 - y, 1.0 - s
    y = y[np.argsort(s, kind="stable")]
    neg_below = np.concatenate(([0.0], np.cumsum(1.0 - y)[:-1]))
    return float(np.std(neg_below[y == 1.0] / (1.0 - y).sum())), float(y.mean())


def _holey_frame(spark, n, seed):
    """(pandas, Spark) reference: miscalibrated scores (labels follow
    score²), with about 5% NULL labels, NULL predictions and NULL scores,
    placed independently."""
    from pyspark.sql import functions as F

    rng = np.random.default_rng(seed)
    s = rng.uniform(0.01, 0.99, n)
    pdf = pd.DataFrame(
        {
            "id": np.arange(n),
            "y_true": (rng.uniform(0, 1, n) < s**2).astype(float),
            "y_pred": (s > 0.5).astype(float),
            "score": s,
        }
    )
    masks = {c: rng.uniform(0, 1, n) < 0.05 for c in ("y_true", "y_pred", "score")}
    sdf = spark.createDataFrame(pdf.assign(**{f"_null_{c}": m for c, m in masks.items()}))
    sdf = sdf.select(
        "id", *[F.when(~F.col(f"_null_{c}"), F.col(c)).alias(c) for c in masks]
    )
    for c, m in masks.items():
        pdf.loc[m, c] = np.nan
    return pdf, sdf


@pytest.fixture(scope="module")
def holey_reference(spark):
    return _holey_frame(spark, NULL_REF, 44)


def test_cbpe_binary_fit_equals_numpy_with_nulls(holey_reference):
    pdf, sdf = holey_reference
    est = CBPE(
        metrics=("roc_auc", "accuracy", "f1"),
        y_true="y_true",
        y_pred="y_pred",
        y_pred_proba="score",
        chunker=SizeBasedChunker(chunk_size=NULL_CHUNK, order_by=["id"]),
    ).fit(sdf)
    state = est.get_state()

    # calibrator: every row with a label and a score
    cal_rows = pdf.dropna(subset=["y_true", "score"])
    y, s = cal_rows["y_true"].to_numpy(), cal_rows["score"].to_numpy()
    assert needs_calibration(y, s)
    cal = IsotonicCalibrator().fit(s, y)
    assert state["calibrator"] == cal.get_state()

    # sampling errors: rows with a label and a prediction (and a score, for AUROC)
    labelled = pdf.dropna(subset=["y_true", "y_pred"])
    acc = float((labelled["y_true"] == labelled["y_pred"]).mean())
    assert state["se"]["accuracy"]["std"] == np.sqrt(acc * (1 - acc))
    assert state["se"]["precision"]["fraction"] == labelled["y_pred"].mean()
    scored = labelled.dropna(subset=["score"])
    std, frac = _auroc_components(scored["y_true"].to_numpy(), scored["score"].to_numpy())
    assert state["se"]["roc_auc"] == {"std": std, "fraction": frac}

    # thresholds: mean ± 3σ of the estimated reference-chunk values, clamped
    # to [0, 1]; a chunk's rows need a score and a prediction
    acc_c, f1_c = [], []
    for k in range(NULL_REF // NULL_CHUNK):
        c = pdf.iloc[k * NULL_CHUNK : (k + 1) * NULL_CHUNK].dropna(subset=["score", "y_pred"])
        p = cal.calibrate(c["score"].to_numpy())
        pos = c["y_pred"].to_numpy() == 1
        tp, fp, fn, tn = p[pos].sum(), (1 - p[pos]).sum(), p[~pos].sum(), (1 - p[~pos]).sum()
        acc_c.append((tp + tn) / (tp + fp + fn + tn))
        f1_c.append(tp / (tp + 0.5 * (fp + fn)))
    for metric, vals in (("accuracy", acc_c), ("f1", f1_c)):
        m, sd = np.mean(vals), np.std(vals)
        lo, up = state["thresholds"][metric]
        assert lo == pytest.approx(max(m - 3 * sd, 0.0), rel=1e-12, abs=1e-12)
        assert up == pytest.approx(min(m + 3 * sd, 1.0), rel=1e-12, abs=1e-12)


def test_cbpe_multiclass_fit_equals_numpy_with_nulls(spark, mc_frame):
    from pyspark.sql import functions as F

    pdf, sdf = mc_frame
    classes = ["a", "b", "c"]
    pdf = pdf[pdf.is_ref].copy()
    # NULL labels, predictions and one class's scores, each on its own id pattern
    holes = {"y_true": (17, 3), "y_pred": (19, 5), "p_b": (23, 7)}
    sdf = sdf.filter("is_ref").select(
        "id",
        *[F.when(F.col("id") % m != r, F.col(c)).alias(c) for c, (m, r) in holes.items()],
        "p_a", "p_c",
    )
    for c, (m, r) in holes.items():
        pdf[c] = pdf[c].where(pdf.id % m != r, None)
    est = CBPE(
        metrics=("roc_auc", "f1"),
        y_pred_proba={c: f"p_{c}" for c in classes},
        problem_type="multiclass_classification",
        chunker=SizeBasedChunker(chunk_size=CHUNK, order_by=["id"]),
    ).fit(sdf)
    state = est.get_state()

    cal_rows = pdf.dropna(subset=["y_true", "p_a", "p_b", "p_c"])
    for c in classes:
        y = (cal_rows["y_true"] == c).to_numpy(dtype=float)
        p = cal_rows[f"p_{c}"].to_numpy(dtype=float)
        want = IsotonicCalibrator().fit(p, y).get_state() if needs_calibration(y, p) else {"noop": True}
        assert state["calibrators"][c] == want

    labelled = pdf.dropna(subset=["y_true", "y_pred"])
    n = len(labelled)
    f1 = []
    for c in classes:
        t, p = labelled["y_true"] == c, labelled["y_pred"] == c
        tp, rel = float((t & p).sum()), float((t & p).sum() + (~t & p).sum() + (t & ~p).sum())
        f1.append([(tp / rel) * (1 - tp / rel), rel / n])
    assert state["se"]["f1"] == {"mc": f1, "scale": 1.0}

    # one-vs-rest AUROC reads the calibrator's rows: a prediction is not needed
    comps = []
    for c in classes:
        y = (cal_rows["y_true"] == c).to_numpy(np.float64)
        std, frac = _auroc_components(y, cal_rows[f"p_{c}"].to_numpy(np.float64))
        comps.append([std**2, frac])
    got = state["se"]["roc_auc"]
    assert got["scale"] == 1.2
    np.testing.assert_allclose(np.array(got["mc"]), np.array(comps), rtol=1e-12)


def test_cbpe_fit_above_50k_rows_samples_the_rank_side(spark):
    """Above MAX_RESAMPLE_SIZE labelled, scored rows the AUROC components
    read a seeded 50k sample, collected on its own; the calibrator still
    reads every row."""
    from pyspark.sql import functions as F

    from spark_validate.performance.calculator import PerformanceCalculator

    n = 60_000
    pdf, sdf = _holey_frame(spark, n, 45)
    sdf = sdf.repartition(4, "id").sortWithinPartitions("id").cache()
    est = CBPE(
        metrics=("roc_auc",),
        y_true="y_true",
        y_pred="y_pred",
        y_pred_proba="score",
        chunker=SizeBasedChunker(chunk_size=10_000, order_by=["id"]),
    ).fit(sdf)
    state = est.get_state()

    # the calibrator reads every row with a label and a score, in frame order
    full = sdf.select("y_true", "score").dropna().toPandas()
    y, s = full["y_true"].to_numpy(), full["score"].to_numpy()
    assert state["calibrator"] == IsotonicCalibrator().fit(s, y).get_state()

    # the AUROC side: the same seeded Bernoulli sample a standalone query draws
    ranked = sdf.filter(F.col("y_true").isNotNull() & F.col("y_pred").isNotNull() & F.col("score").isNotNull())
    n_rank = ranked.count()
    assert n_rank > PerformanceCalculator.MAX_RESAMPLE_SIZE
    sample = (
        ranked.select(F.col("y_true").cast("double"), F.col("score").cast("double"))
        .sample(fraction=PerformanceCalculator.MAX_RESAMPLE_SIZE / n_rank, seed=42)
        .toPandas()
    )
    assert 0.9 * PerformanceCalculator.MAX_RESAMPLE_SIZE < len(sample) < n_rank
    std, frac = _auroc_components(sample["y_true"].to_numpy(), sample["score"].to_numpy())
    assert state["se"]["roc_auc"] == {"std": std, "fraction": frac}
    sdf.unpersist()
