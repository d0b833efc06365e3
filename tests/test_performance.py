"""Realized performance metrics vs numpy oracles (sklearn-equivalent formulas)."""

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from spark_validate.chunking import SizeBasedChunker
from spark_validate.performance import PerformanceCalculator

N_REF, N_ANA, CHUNK = 4000, 2000, 500


def _auc_np(y, s):
    """Mann-Whitney AUC with average ranks (== sklearn roc_auc_score)."""
    order = np.argsort(s)
    ranks = np.empty(len(s), dtype=float)
    sorted_s = np.asarray(s)[order]
    i = 0
    r = 1
    while i < len(s):
        j = i
        while j + 1 < len(s) and sorted_s[j + 1] == sorted_s[i]:
            j += 1
        avg = (r + r + (j - i)) / 2
        ranks[order[i : j + 1]] = avg
        r += j - i + 1
        i = j + 1
    y = np.asarray(y)
    n1, n0 = y.sum(), (1 - y).sum()
    return (ranks[y == 1].sum() - n1 * (n1 + 1) / 2) / (n1 * n0)


def _ap_np(y, s):
    """sklearn average_precision_score (step-wise sum over thresholds)."""
    y = np.asarray(y)
    s = np.asarray(s)
    order = np.argsort(-s, kind="mergesort")
    y, s = y[order], s[order]
    distinct = np.where(np.diff(s))[0]
    idx = np.r_[distinct, len(s) - 1]
    tp = np.cumsum(y)[idx]
    n = idx + 1
    precision = tp / n
    recall = tp / y.sum()
    rec_prev = np.r_[0, recall[:-1]]
    return float(np.sum((recall - rec_prev) * precision))


@pytest.fixture(scope="module")
def perf_frame(spark):
    rng = np.random.default_rng(21)
    n = N_REF + N_ANA
    y = rng.integers(0, 2, n)
    score = np.clip(0.35 * y + rng.uniform(0, 0.7, n), 0, 1)
    pred = (score > 0.5).astype(int)
    pdf = pd.DataFrame({"id": np.arange(n), "y_true": y, "y_pred": pred, "y_score": score})
    pdf["is_ref"] = pdf["id"] < N_REF
    return spark.createDataFrame(pdf), pdf


def _run(sdf, metrics, **kw):
    calc = PerformanceCalculator(
        metrics=metrics,
        y_true="y_true",
        y_pred="y_pred",
        y_pred_proba="y_score",
        chunker=SizeBasedChunker(chunk_size=CHUNK, order_by=["id"]),
        **kw,
    )
    calc.fit(sdf.filter("is_ref"))
    return calc, calc.calculate(sdf.filter("NOT is_ref")).orderBy("chunk_index").toPandas()


def test_binary_label_metrics(spark, perf_frame):
    sdf, pdf = perf_frame
    calc, res = _run(sdf, ("accuracy", "precision", "recall", "specificity", "f1"))
    a = pdf[~pdf.is_ref].reset_index(drop=True)
    piv = res.set_index(["chunk_index", "method"])["value"]
    for i in range(4):
        c = a.iloc[i * CHUNK : (i + 1) * CHUNK]
        tp = ((c.y_true == 1) & (c.y_pred == 1)).sum()
        fp = ((c.y_true == 0) & (c.y_pred == 1)).sum()
        tn = ((c.y_true == 0) & (c.y_pred == 0)).sum()
        fn = ((c.y_true == 1) & (c.y_pred == 0)).sum()
        assert np.isclose(piv[(i, "accuracy")], (tp + tn) / CHUNK)
        assert np.isclose(piv[(i, "precision")], tp / (tp + fp))
        assert np.isclose(piv[(i, "recall")], tp / (tp + fn))
        assert np.isclose(piv[(i, "specificity")], tn / (tn + fp))
        assert np.isclose(piv[(i, "f1")], 2 * tp / (2 * tp + fp + fn))
    # sampling errors: accuracy SE = sqrt(acc(1-acc))/sqrt(n) with ref accuracy
    r = pdf[pdf.is_ref]
    acc_ref = (r.y_true == r.y_pred).mean()
    got = res[res.method == "accuracy"]["sampling_error"].iloc[0]
    assert np.isclose(got, math.sqrt(acc_ref * (1 - acc_ref)) / math.sqrt(CHUNK))


def test_auc_ap_vs_numpy(spark, perf_frame):
    sdf, pdf = perf_frame
    calc, res = _run(sdf, ("roc_auc", "average_precision"))
    a = pdf[~pdf.is_ref].reset_index(drop=True)
    piv = res.set_index(["chunk_index", "method"])["value"]
    for i in range(4):
        c = a.iloc[i * CHUNK : (i + 1) * CHUNK]
        assert abs(piv[(i, "roc_auc")] - _auc_np(c.y_true.to_numpy(), c.y_score.to_numpy())) < 1e-9
        assert abs(piv[(i, "average_precision")] - _ap_np(c.y_true.to_numpy(), c.y_score.to_numpy())) < 1e-9
    assert res[res.method == "roc_auc"]["sampling_error"].notna().all()


def test_confusion_and_business_value(spark, perf_frame):
    sdf, pdf = perf_frame
    calc, res = _run(
        sdf, ("confusion_matrix", "business_value"), business_value_matrix=[[0.0, -2.0], [-5.0, 10.0]]
    )
    a = pdf[~pdf.is_ref].reset_index(drop=True)
    c = a.iloc[:CHUNK]
    tp = ((c.y_true == 1) & (c.y_pred == 1)).sum()
    fp = ((c.y_true == 0) & (c.y_pred == 1)).sum()
    tn = ((c.y_true == 0) & (c.y_pred == 0)).sum()
    fn = ((c.y_true == 1) & (c.y_pred == 0)).sum()
    piv = res.set_index(["chunk_index", "method"])["value"]
    assert piv[(0, "true_positive")] == tp
    assert piv[(0, "false_negative")] == fn
    assert np.isclose(piv[(0, "business_value")], tn * 0 + fp * -2 + fn * -5 + tp * 10)


def _calculate_unfitted(sdf, configs, **common):
    """Every config's ``calculate`` rows (tagged ``cfg``) from one collect;
    ``set_state`` stands in for the fit, so the only work is the calculate."""
    out = None
    for i, (kw, state) in enumerate(configs):
        calc = PerformanceCalculator(
            y_true="y_true", y_pred="y_pred", chunker=SizeBasedChunker(chunk_size=CHUNK, order_by=["id"]),
            **common, **kw,
        ).set_state({"thresholds": {}, **state})
        res = calc.calculate(sdf).select("chunk_index", "method", "value", "sampling_error")
        res = res.withColumn("cfg", F.lit(i))
        out = res if out is None else out.unionByName(res)
    return out.toPandas().set_index(["cfg", "chunk_index", "method"])


def test_binary_confusion_metrics_exact(perf_frame):
    """Realized binary confusion metrics equal the integer-count formulas
    bit for bit, for every confusion-matrix normalization and both
    business-value forms. NULL labels and predictions fill no cell; a label
    outside {0, 1} fills no cell either but counts in n_chunk (seen through
    the accuracy sampling error std/√n)."""
    sdf, pdf = perf_frame
    yt = F.when(F.col("id") % 17 == 3, None).when(F.col("id") % 29 == 5, 2).otherwise(F.col("y_true"))
    yp = F.when(F.col("id") % 13 == 7, None).otherwise(F.col("y_pred"))
    sdf = sdf.filter("NOT is_ref").withColumn("y_true", yt).withColumn("y_pred", yp)
    a = pdf[~pdf.is_ref].reset_index(drop=True).astype({"y_true": float, "y_pred": float})
    a.loc[a.id % 17 == 3, "y_true"] = np.nan
    a.loc[(a.id % 17 != 3) & (a.id % 29 == 5), "y_true"] = 2.0
    a.loc[a.id % 13 == 7, "y_pred"] = np.nan
    (tn_v, fp_v), (fn_v, tp_v) = bvm = [[0.5, -2.25], [-5.0, 10.125]]
    confs = [(None, None), ("all", "per_prediction"), ("true", None), ("pred", "per_prediction")]
    metrics = ("accuracy", "precision", "recall", "specificity", "f1", "business_value", "confusion_matrix")
    got = _calculate_unfitted(
        sdf,
        [
            (dict(normalize_confusion_matrix=cm, normalize_business_value=bv), {"se": {"accuracy": {"std": 0.5}}})
            for cm, bv in confs
        ],
        metrics=metrics,
        business_value_matrix=bvm,
    )
    for i in range(4):
        c = a.iloc[i * CHUNK : (i + 1) * CHUNK]
        t, p = c.y_true, c.y_pred
        tp, fp, fn, tn = (int(((t == tv) & (p == pv)).sum()) for tv, pv in ((1, 1), (0, 1), (1, 0), (0, 0)))
        n = int((t.notna() & p.notna()).sum())
        assert n > tp + fp + fn + tn  # the labels outside {0, 1}
        for cfg, (cm, bv) in enumerate(confs):
            want = {
                "accuracy": (tp + tn) / (tp + fp + fn + tn),
                "precision": tp / (tp + fp),
                "recall": tp / (tp + fn),
                "specificity": tn / (tn + fp),
                "f1": 2 * tp / (2 * tp + fp + fn),
            }
            if bv is None:
                want["business_value"] = tn * tn_v + fp * fp_v + fn * fn_v + tp * tp_v
            else:
                want["business_value"] = (
                    tn / (tn + fn) * tn_v + fn / (tn + fn) * fn_v + fp / (fp + tp) * fp_v + tp / (fp + tp) * tp_v
                )
            cells = {"true_positive": tp, "false_positive": fp, "false_negative": fn, "true_negative": tn}
            rows = {"true_positive": tp + fn, "false_negative": tp + fn, "true_negative": tn + fp, "false_positive": tn + fp}
            cols = {"true_positive": tp + fp, "false_positive": tp + fp, "true_negative": tn + fn, "false_negative": tn + fn}
            for cell, x in cells.items():
                den = {None: 1, "all": tp + fp + fn + tn, "true": rows[cell], "pred": cols[cell]}[cm]
                want[cell] = float(x) if cm is None else x / den
            for m, v in want.items():
                assert got.loc[(cfg, i, m), "value"] == v, (cfg, i, m)
            assert got.loc[(cfg, i, "accuracy"), "sampling_error"] == 0.5 / math.sqrt(n)


def test_multiclass_confusion_metrics_exact(perf_frame):
    """Realized multiclass macro metrics, k×k cells and business value equal
    the integer-count formulas bit for bit, also on a chunk where one class
    is neither true nor predicted (its NULL precision, recall and f1 drop
    out of the macro average)."""
    sdf, pdf = perf_frame
    # classes from the score band; in analysis chunk 1 class 'c' is folded into 'b'
    cls = F.when(F.col("y_score") < 0.35, "a").when(F.col("y_score") < 0.6, "b").otherwise("c")
    lack = (F.col("id") >= N_REF + CHUNK) & (F.col("id") < N_REF + 2 * CHUNK)
    yt = F.when(F.col("y_true") == 1, cls).otherwise(F.when(F.col("id") % 3 == 0, "a").otherwise("b"))
    sdf = sdf.filter("NOT is_ref").select(
        "id",
        F.when(lack & (yt == "c"), "b").otherwise(yt).alias("y_true"),
        F.when(lack & (cls == "c"), "b").otherwise(cls).alias("y_pred"),
    )
    a = sdf.orderBy("id").toPandas()
    classes = ["a", "b", "c"]
    bvm = [[2.0, -1.0, -3.0], [-1.0, 4.0, 0.0], [-2.0, 1.0, 5.0]]
    confs = [None, "true"]
    got = _calculate_unfitted(
        sdf,
        [(dict(normalize_confusion_matrix=cm), {"se": {}, "classes": classes}) for cm in confs],
        metrics=("accuracy", "precision", "recall", "specificity", "f1", "business_value", "confusion_matrix"),
        problem_type="multiclass_classification",
        business_value_matrix=bvm,
    )
    for i in range(4):
        c = a.iloc[i * CHUNK : (i + 1) * CHUNK]
        t, p = c.y_true.to_numpy(), c.y_pred.to_numpy()
        if i == 1:
            assert "c" not in set(t) | set(p)
        cm = np.array([[int(((t == ti) & (p == pj)).sum()) for pj in classes] for ti in classes])
        per = {"precision": [], "recall": [], "specificity": [], "f1": []}
        for k in range(3):
            tp = cm[k, k]
            fp, fn = cm[:, k].sum() - tp, cm[k, :].sum() - tp
            tn = cm.sum() - tp - fp - fn
            for m, num, den in (
                ("precision", tp, tp + fp), ("recall", tp, tp + fn), ("specificity", tn, tn + fp), ("f1", 2 * tp, 2 * tp + fp + fn)
            ):
                if den:
                    per[m].append(int(num) / int(den))
        want = {m: sum(v) / len(v) for m, v in per.items()}
        want["accuracy"] = int((t == p).sum()) / len(t)
        want["business_value"] = float(sum(bvm[x][y] * cm[x, y] for x in range(3) for y in range(3)))
        for cfg, norm in enumerate(confs):
            for x, ti in enumerate(classes):
                for y, pj in enumerate(classes):
                    row = int(cm[x].sum())
                    want[f"true_{ti}_pred_{pj}"] = float(cm[x, y]) if norm is None else (
                        int(cm[x, y]) / row if row else None
                    )
            for m, v in want.items():
                g = got.loc[(cfg, i, m), "value"]
                assert (np.isnan(g) if v is None else g == v), (cfg, i, m, g, v)


def test_regression_metrics(spark):
    rng = np.random.default_rng(4)
    n = 3000
    yt = rng.uniform(10, 100, n)
    yp = yt + rng.normal(0, 5, n)
    pdf = pd.DataFrame({"id": np.arange(n), "y_true": yt, "y_pred": yp})
    pdf["is_ref"] = pdf["id"] < 2000
    sdf = pdf.pipe(lambda d: d)  # noqa
    import pyspark.sql

    spark_df = pyspark.sql.SparkSession.getActiveSession().createDataFrame(pdf)
    calc = PerformanceCalculator(
        metrics=("mae", "mape", "mse", "rmse", "msle", "rmsle"),
        problem_type="regression",
        chunker=SizeBasedChunker(chunk_size=500, order_by=["id"]),
    )
    calc.fit(spark_df.filter("is_ref"))
    res = calc.calculate(spark_df.filter("NOT is_ref")).orderBy("chunk_index").toPandas()
    a = pdf[~pdf.is_ref].reset_index(drop=True)
    piv = res.set_index(["chunk_index", "method"])["value"]
    c = a.iloc[:500]
    err = c.y_true - c.y_pred
    assert np.isclose(piv[(0, "mae")], np.abs(err).mean())
    assert np.isclose(piv[(0, "mape")], (np.abs(err) / np.abs(c.y_true)).mean())
    assert np.isclose(piv[(0, "mse")], (err**2).mean())
    assert np.isclose(piv[(0, "rmse")], np.sqrt((err**2).mean()))
    msle = ((np.log1p(c.y_true) - np.log1p(c.y_pred)) ** 2).mean()
    assert np.isclose(piv[(0, "msle")], msle)
    assert np.isclose(piv[(0, "rmsle")], np.sqrt(msle))
    # SEs present
    assert res["sampling_error"].notna().all()


def test_multiclass_macro(spark):
    rng = np.random.default_rng(9)
    n = 3000
    yt = rng.choice(["a", "b", "c"], n)
    yp = np.where(rng.uniform(size=n) < 0.7, yt, rng.choice(["a", "b", "c"], n))
    pdf = pd.DataFrame({"id": np.arange(n), "y_true": yt, "y_pred": yp})
    pdf["is_ref"] = pdf["id"] < 2000
    import pyspark.sql

    sdf = pyspark.sql.SparkSession.getActiveSession().createDataFrame(pdf)
    calc = PerformanceCalculator(
        metrics=("accuracy", "f1", "precision", "recall"),
        problem_type="multiclass_classification",
        chunker=SizeBasedChunker(chunk_size=500, order_by=["id"]),
    )
    calc.fit(sdf.filter("is_ref"))
    res = calc.calculate(sdf.filter("NOT is_ref")).orderBy("chunk_index").toPandas()
    a = pdf[~pdf.is_ref].reset_index(drop=True)
    c = a.iloc[:500]
    piv = res.set_index(["chunk_index", "method"])["value"]
    assert np.isclose(piv[(0, "accuracy")], (c.y_true == c.y_pred).mean())
    # macro f1 oracle
    f1s = []
    for cls in ["a", "b", "c"]:
        tp = ((c.y_true == cls) & (c.y_pred == cls)).sum()
        fp = ((c.y_true != cls) & (c.y_pred == cls)).sum()
        fn = ((c.y_true == cls) & (c.y_pred != cls)).sum()
        f1s.append(2 * tp / (2 * tp + fp + fn))
    assert np.isclose(piv[(0, "f1")], np.mean(f1s))


def test_multiclass_cm_ap_business_value(spark):
    rng = np.random.default_rng(11)
    n = 1500
    classes = ["a", "b", "c"]
    yt = rng.choice(classes, n)
    yp = np.where(rng.uniform(size=n) < 0.7, yt, rng.choice(classes, n))
    # class probas: noisy one-hot on the true class, softmax-normalized
    raw = rng.uniform(0.05, 0.4, size=(n, 3))
    for i, cls in enumerate(classes):
        raw[yt == cls, i] += 0.5
    probs = raw / raw.sum(axis=1, keepdims=True)
    pdf = pd.DataFrame(
        {"id": np.arange(n), "y_true": yt, "y_pred": yp,
         "p_a": probs[:, 0], "p_b": probs[:, 1], "p_c": probs[:, 2]}
    )
    pdf["is_ref"] = pdf["id"] < 1000
    import pyspark.sql

    sdf = pyspark.sql.SparkSession.getActiveSession().createDataFrame(pdf)
    bvm = [[1.0, -0.5, -1.0], [-2.0, 2.0, -0.25], [0.0, -3.0, 3.0]]
    calc = PerformanceCalculator(
        metrics=("confusion_matrix", "average_precision", "business_value"),
        problem_type="multiclass_classification",
        y_pred_proba="p",
        business_value_matrix=bvm,
        chunker=SizeBasedChunker(chunk_size=500, order_by=["id"]),
    )
    calc.fit(sdf.filter("is_ref"))
    res = calc.calculate(sdf.filter("NOT is_ref")).orderBy("chunk_index").toPandas()
    c = pdf[~pdf.is_ref].reset_index(drop=True).iloc[:500]
    piv = res.set_index(["chunk_index", "method"])["value"]
    # confusion matrix counts
    for i, t in enumerate(classes):
        for j, p in enumerate(classes):
            want = ((c.y_true == t) & (c.y_pred == p)).sum()
            assert piv[(0, f"true_{t}_pred_{p}")] == want
    # business value = sum(v_ij * cm_ij)
    bv = sum(
        bvm[i][j] * ((c.y_true == classes[i]) & (c.y_pred == classes[j])).sum()
        for i in range(3)
        for j in range(3)
    )
    assert np.isclose(piv[(0, "business_value")], bv)
    # macro OVR average precision (sklearn-equivalent step integral)
    def ap_binary(y, s):
        order = np.argsort(-s, kind="stable")
        y = np.asarray(y, dtype=float)[order]
        s = np.asarray(s)[order]
        # group ties by score
        aps, cum_tp, cum_n, n_pos = 0.0, 0.0, 0.0, y.sum()
        k = 0
        while k < len(s):
            m = k
            while m < len(s) and s[m] == s[k]:
                m += 1
            tp_g = y[k:m].sum()
            cum_tp += tp_g
            cum_n += m - k
            aps += (tp_g / n_pos) * (cum_tp / cum_n)
            k = m
        return aps
    want_ap = np.mean(
        [ap_binary(c.y_true == cls, c[f"p_{cls}"].to_numpy()) for cls in classes]
    )
    assert np.isclose(piv[(0, "average_precision")], want_ap)


def test_performance_calculator_state_roundtrip(spark):
    """Fitted thresholds/SE/classes JSON-round-trip; a store-loaded instance
    calculates identically (incl. sampling errors) without a reference pass."""
    import json

    import numpy as np
    import pandas as pd

    from spark_validate.chunking import SizeBasedChunker
    from spark_validate.performance.calculator import PerformanceCalculator

    rng = np.random.default_rng(8)
    n = 6000
    p = rng.uniform(0.05, 0.95, n)
    pdf = pd.DataFrame(
        {
            "id": np.arange(n),
            "y_true": (rng.uniform(0, 1, n) < p).astype(int),
            "score": p,
        }
    )
    pdf["y_pred"] = (pdf["score"] > 0.5).astype(int)
    sdf = spark.createDataFrame(pdf)
    ch = SizeBasedChunker(chunk_size=1000, order_by=["id"])
    kw = dict(metrics=("accuracy", "roc_auc", "f1"), y_pred_proba="score", chunker=ch)
    calc = PerformanceCalculator(**kw).fit(sdf.filter("id < 3000"))
    st = json.loads(json.dumps(calc.get_state()))
    calc2 = PerformanceCalculator(**kw).set_state(st)
    a = calc.calculate(sdf.filter("id >= 3000")).orderBy("chunk_index", "method").toPandas()
    b = calc2.calculate(sdf.filter("id >= 3000")).orderBy("chunk_index", "method").toPandas()
    np.testing.assert_allclose(a["value"], b["value"])
    np.testing.assert_allclose(
        a["sampling_error"].astype(float), b["sampling_error"].astype(float), equal_nan=True
    )
    assert (a["upper_threshold"] == b["upper_threshold"]).all()


def test_sampling_errors_cover_ap_bv_cm_and_multiclass(spark):
    """SE parity for the components round 1 lacked: AP (bootstrap 1/√n
    extrapolation), business value (per-row value std), CM cells (binomial
    over the normalization denominator), and the multiclass macro-OvR
    combine with the reference's ×1.2 AUROC adjustment."""
    import math

    import numpy as np
    import pandas as pd

    from spark_validate.chunking import SizeBasedChunker
    from spark_validate.performance.calculator import PerformanceCalculator

    rng = np.random.default_rng(14)
    n = 8000
    p = rng.uniform(0.05, 0.95, n)
    y = (rng.uniform(0, 1, n) < p).astype(int)
    pred = (p > 0.5).astype(int)
    pdf = pd.DataFrame({"id": np.arange(n), "y_true": y, "y_pred": pred, "score": p})
    sdf = spark.createDataFrame(pdf)
    ch = SizeBasedChunker(chunk_size=1000, order_by=["id"])
    bvm = [[0.0, -2.0], [-1.0, 5.0]]
    calc = PerformanceCalculator(
        metrics=("average_precision", "business_value", "confusion_matrix"),
        y_pred_proba="score",
        business_value_matrix=bvm,
        chunker=ch,
    ).fit(sdf.filter("id < 4000"))
    res = calc.calculate(sdf.filter("id >= 4000")).toPandas()
    piv = res.set_index(["chunk_index", "method"])["sampling_error"]
    # every new metric row carries a sampling error
    for mth in ("average_precision", "business_value", "true_positive", "false_negative"):
        assert piv.xs(mth, level="method").notna().all(), mth
    # business value (norm None): SE = ref_row_std · √n_chunk
    ref = pdf[pdf.id < 4000]
    w = np.select(
        [(ref.y_true == 1) & (ref.y_pred == 1), (ref.y_true == 0) & (ref.y_pred == 0),
         (ref.y_true == 0) & (ref.y_pred == 1)],
        [bvm[1][1], bvm[0][0], bvm[0][1]],
        default=bvm[1][0],
    )
    assert np.isclose(piv[(0, "business_value")], w.std() * math.sqrt(1000), rtol=1e-6)
    # CM cell (norm None): SE = sqrt(q(1−q))·√n with q = TP/n_ref
    q = ((ref.y_true == 1) & (ref.y_pred == 1)).mean()
    assert np.isclose(piv[(0, "true_positive")], math.sqrt(q * (1 - q)) * math.sqrt(1000), rtol=1e-6)
    # AP bootstrap SE: positive and sane
    ap_se = piv.xs("average_precision", level="method")
    assert ((ap_se > 0) & (ap_se < 0.2)).all()

    # multiclass: macro-OvR combine
    classes = ["a", "b", "c"]
    yt = rng.choice(classes, n, p=[0.5, 0.3, 0.2])
    probs = rng.dirichlet([4, 3, 2], n)
    yp = np.take(classes, probs.argmax(axis=1))
    mdf = pd.DataFrame({"id": np.arange(n), "y_true": yt, "y_pred": yp})
    for i, c in enumerate(classes):
        mdf[f"p_{c}"] = probs[:, i]
    msdf = spark.createDataFrame(mdf)
    mcalc = PerformanceCalculator(
        problem_type="multiclass_classification",
        metrics=("f1", "roc_auc", "accuracy"),
        y_pred_proba={c: f"p_{c}" for c in classes},
        chunker=ch,
    ).fit(msdf.filter("id < 4000"))
    mres = mcalc.calculate(msdf.filter("id >= 4000")).toPandas()
    mpiv = mres.set_index(["chunk_index", "method"])["sampling_error"]
    for mth in ("f1", "roc_auc", "accuracy"):
        assert mpiv.xs(mth, level="method").notna().all(), mth
    # f1 macro SE oracle from reference-period OvR counts
    mref = mdf[mdf.id < 4000]
    vars_fracs = []
    for c in classes:
        t, pr = (mref.y_true == c), (mref.y_pred == c)
        tp = (t & pr).sum(); fp = (~t & pr).sum(); fn = (t & ~pr).sum()
        rel = tp + fp + fn
        qc = tp / rel
        vars_fracs.append((qc * (1 - qc), rel / len(mref)))
    exp = math.sqrt(sum(v / (1000 * f) for v, f in vars_fracs)) / len(classes)
    assert np.isclose(mpiv[(0, "f1")], exp, rtol=1e-9)


def test_multiclass_cm_ap_sampling_errors_and_zero_denominators(spark):
    """Round-3 additions: (a) multiclass CM cells and macro-OvR AP carry
    sampling errors mirroring the reference's components
    (sampling_error/multiclass_classification.py:361-487); (b) CM
    normalization denominators that are 0 (a chunk missing a class) yield
    NULL values, not an ANSI DIVIDE_BY_ZERO crash."""
    import math

    import numpy as np
    import pandas as pd

    from spark_validate.chunking import SizeBasedChunker
    from spark_validate.performance.calculator import PerformanceCalculator

    rng = np.random.default_rng(23)
    n = 3000
    classes = ["a", "b", "c"]
    yt = rng.choice(classes, n, p=[0.5, 0.3, 0.2])
    probs = rng.dirichlet([4, 3, 2], n)
    yp = np.take(classes, probs.argmax(axis=1))
    pdf = pd.DataFrame({"id": np.arange(n), "y_true": yt, "y_pred": yp})
    for i, c in enumerate(classes):
        pdf[f"p_{c}"] = probs[:, i]
    # analysis chunk 0 (ids 2000-2499): class 'c' never predicted nor true
    mask = (pdf.id >= 2000) & (pdf.id < 2500)
    pdf.loc[mask, "y_pred"] = np.where(pdf.loc[mask, "y_pred"] == "c", "a", pdf.loc[mask, "y_pred"])
    pdf.loc[mask, "y_true"] = np.where(pdf.loc[mask, "y_true"] == "c", "b", pdf.loc[mask, "y_true"])
    sdf = spark.createDataFrame(pdf)
    ch = SizeBasedChunker(chunk_size=500, order_by=["id"])

    calc = PerformanceCalculator(
        problem_type="multiclass_classification",
        metrics=("confusion_matrix", "average_precision"),
        y_pred_proba={c: f"p_{c}" for c in classes},
        normalize_confusion_matrix="pred",
        chunker=ch,
    ).fit(sdf.filter("id < 2000"))
    res = calc.calculate(sdf.filter("id >= 2000")).toPandas()
    piv = res.set_index(["chunk_index", "method"])
    # (b) chunk 0 has zero 'pred c' column total → its cells are NULL, job alive
    assert np.isnan(piv.loc[(0, "true_a_pred_c"), "value"])
    # other cells normalized per predicted column
    cdf = pdf[(pdf.id >= 2000) & (pdf.id < 2500)]
    col_tot = (cdf.y_pred == "a").sum()
    want = ((cdf.y_true == "b") & (cdf.y_pred == "a")).sum() / col_tot
    assert np.isclose(piv.loc[(0, "true_b_pred_a"), "value"], want)
    # (a) SEs: every CM cell and the AP rows carry sampling errors
    se = res.set_index(["chunk_index", "method"])["sampling_error"]
    assert se.xs("average_precision", level="method").notna().all()
    # cell SE oracle (norm='pred'): std=sqrt(q(1-q)) over pred-marginal,
    # applied as std / sqrt(n_chunk * pred_marginal_fraction)
    ref = pdf[pdf.id < 2000]
    x = ((ref.y_true == "a") & (ref.y_pred == "a")).sum()
    denom = (ref.y_pred == "a").sum()
    q = x / denom
    exp = math.sqrt(q * (1 - q)) / math.sqrt(500 * (denom / len(ref)))
    assert np.isclose(se[(0, "true_a_pred_a")], exp, rtol=1e-9)
    # AP SE equals sqrt(mean_c(var_c*s_c)/n_chunk) for the stored constant
    c_const = calc._se["average_precision"]["mc_ap_c"]
    assert np.isclose(se[(0, "average_precision")], math.sqrt(c_const / 500), rtol=1e-9)
