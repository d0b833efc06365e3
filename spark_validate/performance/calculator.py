"""Realized performance calculation (reference §2.7,
`nannyml/performance_calculation/**`), and the shell both performance
estimators share.

Every label-based metric is a closed-form expression over per-chunk confusion
counts / error sums → ONE ``groupBy(chunk)`` pass computes all of them. The
confusion metrics are CBPE's expected-confusion formulas (``cbpe.py``) with
the label as the positive probability: ``p = 1[y_true = 1]`` (binary) or
``p_c = 1[y_true = c]`` (multiclass) turns every expected mass into an
integer count, so ``binary_confusion``, ``ovr_confusion``/``macro_values``,
``cm_cell_values`` and ``finalize`` below serve both estimators.
Rank-based metrics (ROC-AUC, average precision) use per-chunk window ranks —
the Mann-Whitney formulation for AUC, threshold-grouped cumulative precision
for AP — still fully distributed, no Python in the path.

``PerformanceCalculator`` is the one estimator shell: its fields and
validation, ``fit`` (one sampling-error aggregate, one scored-row sample, the
reference pass and ``fit_thresholds``), the JSON state, ``calculate`` and
``reference_result``. ``CBPE`` subclasses it and overrides only hooks: the
positive probability (its calibrated score), the calibrator fit from the
same sample, the estimated AUC/AP, the result's ``column_name`` and the
calibrators in the state.

Metrics (binary, `metrics/binary_classification.py`): roc_auc :54,
average_precision :145, f1 :241, precision :336, recall :430, specificity
:523, accuracy :608, business_value :688, confusion_matrix :812.
Multiclass (`metrics/multiclass_classification.py`): macro-averaged variants.
Regression (`metrics/regression.py`): mae :42, mape :131, mse :220, msle
:309, rmse :402, rmsle :500.

Sampling errors follow `nannyml/sampling_error/{binary_classification,
regression}.py`: closed forms over reference confusion rates (e.g. accuracy
SE = sqrt(acc·(1−acc))/√n; precision SE = sqrt(p(1−p))/√(n·pos_pred_rate);
f1's correcting-factor variant; MAE/MSE/MSLE SE = std(loss)/√n; RMSE/RMSLE
delta-method). AUROC components use the negatives-below-rank distribution.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from typing import Dict, Optional, Sequence, Tuple

import numpy as np

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from spark_validate.calculators.base import assign_chunks, join_headers_long
from spark_validate.chunking import CHUNK_KEY, Chunker, DefaultChunker
from spark_validate.functions.local import local_frame
from spark_validate.result import conform_result
from spark_validate.thresholds import StandardDeviationThreshold, alert_expr, fit_thresholds

BINARY_METRICS = (
    "roc_auc",
    "average_precision",
    "f1",
    "precision",
    "recall",
    "specificity",
    "accuracy",
    "business_value",
    "confusion_matrix",
)
MULTICLASS_METRICS = BINARY_METRICS
REGRESSION_METRICS = ("mae", "mape", "mse", "msle", "rmse", "rmsle")

def _safe_div(num, den):
    """NULL instead of an ANSI divide-by-zero error when the denominator is 0."""
    return F.when(den != 0, num / den)


_LIMITS = {
    "roc_auc": (0.0, 1.0),
    "average_precision": (0.0, 1.0),
    "f1": (0.0, 1.0),
    "precision": (0.0, 1.0),
    "recall": (0.0, 1.0),
    "specificity": (0.0, 1.0),
    "accuracy": (0.0, 1.0),
}

# confidence boundaries clamp to each metric's value range (the reference
# clips via np.minimum/np.maximum, confidence_based/metrics.py:261-265);
# regression losses are bounded below by 0
_BOUND_LIMITS = {**_LIMITS, **{m: (0.0, None) for m in REGRESSION_METRICS}}


def _is_cm_method(m: str) -> bool:
    return m in ("true_positive", "false_positive", "true_negative", "false_negative") or (
        m.startswith("true_") and "_pred_" in m
    )


def _thr_frame(spark, thresholds: Dict[str, tuple], cm_normalized: bool = False):
    """Broadcastable (method, thresholds, bound limits) helper frame.
    Confusion-matrix cells bound below by 0 (counts) or to [0, 1] when the
    calculator normalizes them to rates."""
    cm_lim = (0.0, 1.0) if cm_normalized else (0.0, None)
    rows = [
        (m, lo, up, *(cm_lim if _is_cm_method(m) else _BOUND_LIMITS.get(m, (None, None))))
        for m, (lo, up) in thresholds.items()
    ]
    return local_frame(
        spark,
        rows,
        "method string, lower_threshold double, upper_threshold double, "
        "_lim_lo double, _lim_up double",
    )


def _clamped_bounds():
    """(lower, upper) confidence-boundary columns clamped to _lim_lo/_lim_up;
    NULL sampling error stays NULL (greatest/least alone would resurrect a
    limit value for a NULL bound — Spark's greatest ignores NULLs)."""
    lcb = F.col("value") - 3 * F.col("sampling_error")
    ucb = F.col("value") + 3 * F.col("sampling_error")
    lo = F.when(lcb.isNotNull() & F.col("_lim_lo").isNotNull(), F.greatest(lcb, F.col("_lim_lo"))).otherwise(lcb)
    up = F.when(ucb.isNotNull() & F.col("_lim_up").isNotNull(), F.least(ucb, F.col("_lim_up"))).otherwise(ucb)
    return lo, up


def se_expr(se: Dict[str, dict]) -> Column:
    """Per-row sampling error from the fitted components ``se`` (metric →
    component dict, as ``PerformanceCalculator._se_from_row`` builds them)
    and the row's ``n_chunk``."""
    # n = 0 (a fully-unlabeled chunk — the delayed-labels case) must
    # yield NULL sampling error, not an ANSI division crash in std/√n;
    # NULLing n short-circuits every branch below to NULL
    n = F.when(F.col("n_chunk") > 0, F.col("n_chunk").cast("double"))
    m = F.col("method")
    expr = F.lit(None).cast("double")
    for metric, comp in se.items():
        if "mc_ap_c" in comp:
            # multiclass AP (mse.py:460-487): SE = sqrt(mean_c(var_c·s_c)/n)
            c_ = comp["mc_ap_c"]
            if c_ is not None and c_ == c_:
                e = F.sqrt(F.lit(float(c_)) / n)
                expr = F.when(m == metric, e).otherwise(expr)
            continue
        if "mc" in comp:
            # macro OvR combine (mse.py:21-24; auroc applies ×1.2 :93-96)
            parts = [
                F.lit(float(var)) / (n * F.lit(float(frac)))
                for var, frac in comp["mc"]
                if var == var and frac == frac and frac > 0
            ]
            if not parts:
                continue
            e = F.lit(float(comp.get("scale", 1.0))) * F.sqrt(sum(parts[1:], parts[0])) / F.lit(
                float(len(comp["mc"]))
            )
            expr = F.when(m == metric, e).otherwise(expr)
            continue
        std = comp.get("std")
        if std is None or std != std:
            continue
        if "sample_size" in comp:  # bootstrap-extrapolated (AP, bse :131-149)
            s = comp["sample_size"]
            if s:
                e = F.lit(float(std)) * F.sqrt(F.lit(float(s)) / n)
                expr = F.when(m == metric, e).otherwise(expr)
            continue
        if "bv_norm" in comp:  # business value (bse :845-867)
            e = F.lit(float(std)) * F.sqrt(n) if comp["bv_norm"] is None else F.lit(float(std)) / F.sqrt(n)
            expr = F.when(m == metric, e).otherwise(expr)
            continue
        if "cm_norm" in comp:  # confusion-matrix cells (bse :459-801)
            norm = comp["cm_norm"]
            frac = comp.get("fraction")
            if norm is None:
                e = F.lit(float(std)) * F.sqrt(n)
            elif norm == "all":
                e = F.lit(float(std)) / F.sqrt(n)
            else:
                if frac is None or frac != frac or frac <= 0:
                    continue
                e = F.lit(float(std)) / F.sqrt(n * F.lit(float(frac)))
            expr = F.when(m == metric, e).otherwise(expr)
            continue
        if metric in ("accuracy", "mae", "mape", "mse", "msle"):
            e = F.lit(float(std)) / F.sqrt(n)
        elif metric in ("precision", "recall", "specificity", "f1", "roc_auc"):
            frac = comp.get("fraction")
            if frac is None or frac != frac or frac <= 0:
                continue
            e = F.lit(float(std)) / F.sqrt(n * F.lit(float(frac)))
        elif metric in ("rmse", "rmsle"):
            mean = comp.get("mean")
            if not mean:
                continue
            e = F.sqrt(F.lit(float(std)) ** 2 / (4 * n * F.lit(float(mean))))
        else:
            continue
        expr = F.when(m == metric, e).otherwise(expr)
    return expr


def finalize(
    long_df: DataFrame, headers, period: str, thresholds: Dict[str, tuple], se: Dict[str, dict],
    cm_normalized: bool, column_name: str,
) -> DataFrame:
    """The result frame from (chunk, n_chunk, method, value) rows: threshold
    join, sampling error, clamped confidence bounds, alert, column_name and
    the chunk headers."""
    thr = _thr_frame(long_df.sparkSession, thresholds, cm_normalized=cm_normalized)
    lcb, ucb = _clamped_bounds()
    out = (
        long_df.join(F.broadcast(thr), "method", "left")
        .withColumn("sampling_error", se_expr(se))
        .withColumn("lower_confidence_boundary", lcb)
        .withColumn("upper_confidence_boundary", ucb)
        .withColumn("alert", alert_expr())
        .withColumn("column_name", F.lit(column_name))
        .drop("n_chunk", "_lim_lo", "_lim_up")
    )
    return conform_result(join_headers_long(out, headers, period))


def _melt(df: DataFrame, values: Dict[str, Column]) -> DataFrame:
    """(chunk, n_chunk, method, value) rows, one per named value Column."""
    pairs = [F.struct(F.lit(m).alias("method"), v.cast("double").alias("value")) for m, v in values.items()]
    return df.select(CHUNK_KEY, "n_chunk", F.explode(F.array(*pairs)).alias("kv")).select(
        CHUNK_KEY, "n_chunk", "kv.method", "kv.value"
    )


def _union(parts: Sequence[DataFrame]) -> DataFrame:
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def binary_confusion(assigned: DataFrame, p: Column, pred: Column, ok: Column, calc) -> Tuple[DataFrame, list]:
    """Binary confusion metrics from the expected confusion mass
    (confidence_based/metrics.py:762-787): a row adds ``p`` to the positive
    and ``1 − p`` to the negative cell of its predicted column. CBPE passes
    its calibrated score; realized performance passes the label indicator
    (NULL for a label outside {0, 1}, which fills no cell). ``n_chunk``
    counts the ``ok`` rows. ``calc`` supplies ``metrics``,
    ``business_value_matrix``, ``normalize_business_value`` and
    ``normalize_confusion_matrix``.

    Returns the (chunk, n_chunk) frame and the melted metric frames."""
    metrics = set(calc.metrics)
    asked = [m for m in ("accuracy", "precision", "recall", "specificity", "f1", "business_value") if m in metrics]
    with_cm = "confusion_matrix" in metrics
    aggs = [F.count(F.when(ok, 1)).alias("n_chunk")]
    if asked or with_cm:
        for name, on_pred, mass in (("tp", 1, p), ("fp", 1, 1 - p), ("fn", 0, p), ("tn", 0, 1 - p)):
            aggs.append(F.sum(F.when(p.isNotNull() & (pred == on_pred), mass).otherwise(F.lit(0.0))).alias(name))
    counts = assigned.groupBy(CHUNK_KEY).agg(*aggs)
    tp, fp, fn, tn = F.col("tp"), F.col("fp"), F.col("fn"), F.col("tn")
    # _safe_div throughout: a chunk with no predicted positive (or no labeled
    # row) yields NULL, not an ANSI DIVIDE_BY_ZERO
    exprs = {
        "accuracy": _safe_div(tp + tn, tp + fp + fn + tn),
        "precision": _safe_div(tp, tp + fp),
        "recall": _safe_div(tp, tp + fn),
        "specificity": _safe_div(tn, tn + fp),
        # TP / (TP + ½(FP + FN)); on integer counts the same double as
        # 2TP / (2TP + FP + FN), both sides being exact up to a factor of 2
        "f1": _safe_div(tp, tp + 0.5 * (fp + fn)),
    }
    if "business_value" in metrics:
        exprs["business_value"] = _binary_business_value(tp, fp, fn, tn, calc)
    parts = [_melt(counts, {m: exprs[m] for m in asked})] if asked else []
    if with_cm:
        # 'all' = /total, 'true' = per actual row, 'pred' = per predicted
        # column (metrics.py:1404-1498)
        norm = calc.normalize_confusion_matrix
        if norm == "all":
            d = tp + tn + fp + fn
            tp, tn, fp, fn = (_safe_div(x, d) for x in (tp, tn, fp, fn))
        elif norm == "true":
            tp, fn = _safe_div(tp, tp + fn), _safe_div(fn, tp + fn)
            tn, fp = _safe_div(tn, tn + fp), _safe_div(fp, tn + fp)
        elif norm == "pred":
            tp, fp = _safe_div(tp, tp + fp), _safe_div(fp, tp + fp)
            tn, fn = _safe_div(tn, tn + fn), _safe_div(fn, tn + fn)
        parts.append(
            _melt(counts, {"true_positive": tp, "true_negative": tn, "false_positive": fp, "false_negative": fn})
        )
    return counts.select(CHUNK_KEY, "n_chunk"), parts


def _binary_business_value(tp, fp, fn, tn, calc) -> Column:
    (tn_v, fp_v), (fn_v, tp_v) = calc.business_value_matrix
    if calc.normalize_business_value == "per_prediction":
        # binary_classification.py:794-797: the cm normalizes PER
        # PREDICTED-CLASS COLUMN (cm/cm.sum(axis=0), NaN→0), and the terms
        # sum column by column
        pred0, pred1 = tn + fn, fp + tp
        tn, fn = (F.coalesce(_safe_div(x, pred0), F.lit(0.0)) for x in (tn, fn))
        fp, tp = (F.coalesce(_safe_div(x, pred1), F.lit(0.0)) for x in (fp, tp))
        return tn * F.lit(float(tn_v)) + fn * F.lit(float(fn_v)) + fp * F.lit(float(fp_v)) + tp * F.lit(float(tp_v))
    return tn * F.lit(float(tn_v)) + fp * F.lit(float(fp_v)) + fn * F.lit(float(fn_v)) + tp * F.lit(float(tp_v))


def ovr_confusion(p_by_class: Sequence[Tuple[str, Column]], pred: Column) -> Column:
    """One-vs-rest expected confusion mass per class as one aggregate: an
    array of (tp, fp, fn, tn) structs in class order, class ``c``'s row
    adding ``p_c`` to tp/fn and ``1 − p_c`` to fp/tn. CBPE passes the
    calibrated class probabilities, realized performance ``1[y_true = c]``."""
    return F.array(
        *[
            F.struct(
                F.sum(F.when(pred == c, p).otherwise(F.lit(0.0))).alias("tp"),
                F.sum(F.when(pred == c, 1 - p).otherwise(F.lit(0.0))).alias("fp"),
                F.sum(F.when(pred != c, p).otherwise(F.lit(0.0))).alias("fn"),
                F.sum(F.when(pred != c, 1 - p).otherwise(F.lit(0.0))).alias("tn"),
            )
            for c, p in p_by_class
        ]
    )


def macro_values(agg: DataFrame, metrics: Sequence[str]) -> list:
    """Macro-averaged precision, recall, specificity and f1 over the ``_cc``
    array of ``ovr_confusion``, plus ``_acc`` as accuracy, melted (no frame
    when none is asked). A class with a zero denominator is NULL, which the
    average skips."""
    if not {"accuracy", "precision", "recall", "specificity", "f1"} & set(metrics):
        return []
    cc = agg.select(CHUNK_KEY, "_acc", "n_chunk", F.explode("_cc").alias("c"))
    tp, fp, fn, tn = F.col("c.tp"), F.col("c.fp"), F.col("c.fn"), F.col("c.tn")
    exprs = {
        "precision": _safe_div(tp, tp + fp),
        "recall": _safe_div(tp, tp + fn),
        "specificity": _safe_div(tn, tn + fp),
        "f1": _safe_div(tp, tp + 0.5 * (fp + fn)),
    }
    macro = cc.groupBy(CHUNK_KEY).agg(
        F.max("_acc").alias("accuracy"),
        F.max("n_chunk").alias("n_chunk"),
        *[F.avg(e).alias(m) for m, e in exprs.items() if m in metrics],
    )
    return [_melt(macro, {m: F.col(m) for m in metrics if m == "accuracy" or m in exprs})]


def cm_cell_values(cells: DataFrame, classes: Sequence[str], calc) -> list:
    """The k×k confusion matrix and business value Σ value·cell
    (multiclass_classification.py:714-918, :1039-1184) from a frame of
    (chunk, n_chunk, true class ``_t``, predicted class ``_p``, mass ``_v``)
    cells, one per class pair. ``calc`` as in :func:`binary_confusion`."""
    v = F.col("_v")
    w_col = Window.partitionBy(CHUNK_KEY, "_p")
    parts = []
    if "confusion_matrix" in calc.metrics:
        over = {
            "all": Window.partitionBy(CHUNK_KEY),
            "true": Window.partitionBy(CHUNK_KEY, "_t"),
            "pred": w_col,
        }.get(calc.normalize_confusion_matrix)
        # a class absent from a chunk leaves an all-zero row or column:
        # NULL, not ANSI DIVIDE_BY_ZERO
        cm = v if over is None else _safe_div(v, F.sum(v).over(over))
        method = F.concat(F.lit("true_"), F.col("_t"), F.lit("_pred_"), F.col("_p"))
        parts.append(cells.select(CHUNK_KEY, "n_chunk", method.alias("method"), cm.cast("double").alias("value")))
    if "business_value" in calc.metrics:
        value = F.lit(0.0)
        for i, t in enumerate(classes):
            for j, p in enumerate(classes):
                value = F.when(
                    (F.col("_t") == t) & (F.col("_p") == p), F.lit(float(calc.business_value_matrix[i][j]))
                ).otherwise(value)
        cm = v
        if calc.normalize_business_value == "per_prediction":
            colsum = F.sum(v).over(w_col)
            cm = F.when(colsum > 0, v / colsum).otherwise(F.lit(0.0))
        scored = cells.select(CHUNK_KEY, "n_chunk", (cm * value).alias("_cmv"))
        parts.append(
            scored.groupBy(CHUNK_KEY, "n_chunk")
            .agg(F.sum("_cmv").cast("double").alias("value"))
            .select(CHUNK_KEY, "n_chunk", F.lit("business_value").alias("method"), "value")
        )
    return parts


def _auc_per_chunk(assigned: DataFrame, label: Column, score: Column, group_cols=(CHUNK_KEY,)) -> DataFrame:
    """Mann-Whitney AUC with average ranks for ties — two windows, no UDF.

    ``group_cols`` generalizes the grouping so the one-vs-rest multiclass
    path can rank ALL classes in a single pass (partition by
    (chunk, class)) instead of one window pass per class."""
    df = assigned.select(*group_cols, label.alias("_y"), score.alias("_s")).filter(
        F.col("_y").isNotNull() & F.col("_s").isNotNull()
    )
    w_rank = Window.partitionBy(*group_cols).orderBy("_s")
    w_tie = Window.partitionBy(*group_cols, "_s")
    ranked = df.withColumn("_r", F.rank().over(w_rank)).withColumn(
        "_avg_r", F.col("_r") + (F.count(F.lit(1)).over(w_tie) - 1) / 2.0
    )
    agg = ranked.groupBy(*group_cols).agg(
        F.sum(F.when(F.col("_y") == 1, F.col("_avg_r")).otherwise(F.lit(0.0))).alias("_rank_sum"),
        F.sum(F.when(F.col("_y") == 1, 1).otherwise(0)).cast("double").alias("_n1"),
        F.sum(F.when(F.col("_y") == 0, 1).otherwise(0)).cast("double").alias("_n0"),
    )
    auc = (F.col("_rank_sum") - F.col("_n1") * (F.col("_n1") + 1) / 2) / (F.col("_n1") * F.col("_n0"))
    return agg.select(
        *group_cols,
        F.lit("roc_auc").alias("method"),
        F.when((F.col("_n1") > 0) & (F.col("_n0") > 0), auc).cast("double").alias("value"),
    )


def _ap_per_chunk(assigned: DataFrame, label: Column, score: Column, group_cols=(CHUNK_KEY,)) -> DataFrame:
    """sklearn-equivalent AP: group ties by score, cumulative TP/FP in
    descending-score order, AP = Σ (ΔTP/n_pos) · precision@group.
    ``group_cols`` as in :func:`_auc_per_chunk`."""
    df = assigned.select(*group_cols, label.alias("_y"), score.alias("_s")).filter(
        F.col("_y").isNotNull() & F.col("_s").isNotNull()
    )
    grp = df.groupBy(*group_cols, "_s").agg(
        F.sum("_y").alias("_tp_g"), F.count(F.lit(1)).alias("_n_g")
    )
    w = Window.partitionBy(*group_cols).orderBy(F.desc("_s")).rowsBetween(Window.unboundedPreceding, 0)
    cum = grp.withColumn("_cum_tp", F.sum("_tp_g").over(w)).withColumn("_cum_n", F.sum("_n_g").over(w))
    w_tot = Window.partitionBy(*group_cols)
    cum = cum.withColumn("_n_pos", F.sum("_tp_g").over(w_tot))
    # a chunk with zero positives (possible per OvR class) → NULL AP,
    # not ANSI DIVIDE_BY_ZERO
    term = _safe_div(F.col("_tp_g"), F.col("_n_pos")) * (F.col("_cum_tp") / F.col("_cum_n"))
    agg = cum.groupBy(*group_cols).agg(
        F.sum(term).alias("_ap"), F.max("_n_pos").alias("_n_pos")
    )
    return agg.select(
        *group_cols,
        F.lit("average_precision").alias("method"),
        F.when(F.col("_n_pos") > 0, F.col("_ap")).cast("double").alias("value"),
    )


def _cm_cell_components(cells: Dict[str, tuple], n, norm: Optional[str]) -> Dict[str, dict]:
    """Confusion-matrix cell sampling-error components (bse :387-801, mse
    :361-414) from ``{method: (count, true-class total, predicted-class
    total)}``: the binomial std of the cell indicator over its normalization
    denominator (n for None and 'all') and, for 'true'/'pred', the share of
    rows in that denominator."""
    out = {}
    for name, (x, true_tot, pred_tot) in cells.items():
        denom = {"true": true_tot, "pred": pred_tot}.get(norm, n)
        q = x / denom if denom else float("nan")
        std = math.sqrt(max(q * (1 - q), 0.0)) if q == q else float("nan")
        rel = denom / n if norm in ("true", "pred") and n else 1.0
        out[name] = {"std": std, "fraction": rel, "cm_norm": norm}
    return out


def _neg_below_fractions(y: np.ndarray, p: np.ndarray):
    """AUROC sampling-error inputs (`sampling_error/binary_classification.py:
    36-75`, mse :27-75): per positive, the fraction of negatives ranked below
    it, after flipping so the positives are the minority class, and that
    minority share (the fraction is taken AFTER the flip, :71; the raw
    positive rate would understate SE ~(maj/min)× on imbalanced data). The
    fractions are None when a class is empty."""
    if y.mean() > 0.5:
        y, p = 1.0 - y, 1.0 - p
    y = y[np.argsort(p, kind="stable")]
    frac = float(y.mean())
    n0s = float((1.0 - y).sum())
    if n0s == 0 or y.sum() == 0:
        return None, frac
    neg_below = np.concatenate(([0.0], np.cumsum(1.0 - y)[:-1]))
    return neg_below[y == 1.0] / n0s, frac


@dataclass
class PerformanceCalculator:
    """fit(reference) learns thresholds + sampling-error components;
    calculate(analysis) emits one long row per (chunk × metric)."""

    metrics: Sequence[str]
    y_true: str = "y_true"
    y_pred: str = "y_pred"
    y_pred_proba: object = None  # str (binary) | Dict[class, col] (multiclass)
    problem_type: str = "binary_classification"
    chunker: Chunker = field(default_factory=DefaultChunker)
    threshold: object = field(default_factory=StandardDeviationThreshold)
    business_value_matrix: Optional[Sequence[Sequence[float]]] = None  # [[tn, fp], [fn, tp]]
    normalize_business_value: Optional[str] = None  # None | 'per_prediction'
    normalize_confusion_matrix: Optional[str] = None  # None|'all'|'true'|'pred'

    def __post_init__(self):
        valid = {
            "binary_classification": set(BINARY_METRICS),
            "multiclass_classification": set(MULTICLASS_METRICS),
            "regression": set(REGRESSION_METRICS),
        }[self.problem_type]
        bad = set(self.metrics) - valid
        if bad:
            raise ValueError(f"metrics {sorted(bad)} invalid for {self.problem_type}")
        if "business_value" in self.metrics and self.business_value_matrix is None:
            raise ValueError(
                "business_value requires business_value_matrix "
                "([[tn, fp], [fn, tp]] for binary; k×k value[true_i][pred_j] for multiclass)"
            )
        rank_based = {"roc_auc", "average_precision"} & set(self.metrics)
        if rank_based and not self.y_pred_proba:
            raise ValueError(f"{sorted(rank_based)} need y_pred_proba")
        self._thresholds: Dict[str, Tuple[Optional[float], Optional[float]]] = {}
        self._se: Dict[str, dict] = {}
        self._classes: Optional[list] = None
        self._fitted = False

    # ------------------------------------------------------------------ values

    def _with_scores(self, df: DataFrame) -> DataFrame:
        """The frame the chunk values read, before chunk assignment."""
        return df

    def _positive_probability(self) -> Tuple[Column, Column]:
        """(p, ok): the binary positive probability, here the label
        indicator (NULL for a label outside {0, 1}), and the rows ``n_chunk``
        counts. n for the SE formulas counts the rows with a label and a
        prediction — counting unlabeled rows would shrink std/sqrt(n·frac)
        on partially-labeled chunks (the fit-side invariant at _se_aggs)."""
        yt = F.col(self.y_true).cast("double")
        yp = F.col(self.y_pred).cast("double")
        return F.when(yt == 1, 1.0).when(yt == 0, 0.0), yt.isNotNull() & yp.isNotNull()

    def _rank_values(self, metric: str, assigned: DataFrame) -> DataFrame:
        """Binary (chunk, method, value) rows of ``roc_auc`` or
        ``average_precision``: here the window-ranked realized values."""
        per_chunk = _auc_per_chunk if metric == "roc_auc" else _ap_per_chunk
        return per_chunk(assigned, F.col(self.y_true).cast("double"), F.col(self.y_pred_proba).cast("double"))

    def _binary_chunk_values(self, assigned: DataFrame) -> DataFrame:
        """The confusion metrics over the positive probability, plus the
        rank metrics."""
        p, ok = self._positive_probability()
        n_by_chunk, parts = binary_confusion(assigned, p, F.col(self.y_pred).cast("double"), ok, self)
        for metric in ("roc_auc", "average_precision"):
            if metric in self.metrics:
                parts.append(self._rank_values(metric, assigned).join(n_by_chunk, CHUNK_KEY))
        return _union(parts)

    def _multiclass_chunk_values(self, assigned: DataFrame) -> DataFrame:
        """Macro-averaged one-vs-rest metrics with ``1[y_true = c]`` as class
        c's probability; accuracy from the plain match rate."""
        yt = F.col(self.y_true).cast("string")
        yp = F.col(self.y_pred).cast("string")
        classes = self._classes
        labeled = assigned.filter(yt.isNotNull() & yp.isNotNull())
        agg = labeled.groupBy(CHUNK_KEY).agg(
            ovr_confusion([(c, (yt == c).cast("double")) for c in classes], yp).alias("_cc"),
            F.avg((yt == yp).cast("double")).alias("_acc"),
            F.count(F.lit(1)).alias("n_chunk"),
        )
        n_by_chunk = agg.select(CHUNK_KEY, "n_chunk")
        parts = macro_values(agg, self.metrics)

        def _ovr_macro(per_chunk) -> DataFrame:
            """Macro average of a binary rank metric over one-vs-rest splits —
            ONE exploded pass: rows become (chunk, class, binarized y, class
            score) and the rank windows partition by (chunk, class), instead
            of k separate window passes over the full data."""
            splits = F.array(
                *[
                    F.struct(
                        F.lit(str(cls)).alias("_cls"),
                        (yt == cls).cast("double").alias("_y1"),
                        F.col(self._proba_col(cls)).cast("double").alias("_s1"),
                    )
                    for cls in classes
                ]
            )
            one = assigned.select(CHUNK_KEY, F.explode(splits).alias("kv")).select(
                CHUNK_KEY, "kv._cls", "kv._y1", "kv._s1"
            )
            per_cls = per_chunk(one, F.col("_y1"), F.col("_s1"), group_cols=(CHUNK_KEY, "_cls"))
            return per_cls.groupBy(CHUNK_KEY).agg(F.avg("value").alias("value"))

        if "roc_auc" in self.metrics:
            parts.append(
                _ovr_macro(_auc_per_chunk).join(n_by_chunk, CHUNK_KEY).select(
                    CHUNK_KEY, "n_chunk", F.lit("roc_auc").alias("method"), "value"
                )
            )
        if "average_precision" in self.metrics:
            # macro OVR AP (ref multiclass_classification.py:920-1024); NaN
            # when a chunk holds a single target class
            nuniq = assigned.filter(yt.isNotNull()).groupBy(CHUNK_KEY).agg(
                F.countDistinct(yt).alias("_nu")
            )
            ap = (
                _ovr_macro(_ap_per_chunk)
                .join(nuniq, CHUNK_KEY)
                .select(CHUNK_KEY, F.when(F.col("_nu") > 1, F.col("value")).alias("value"))
            )
            parts.append(
                ap.join(n_by_chunk, CHUNK_KEY).select(
                    CHUNK_KEY, "n_chunk", F.lit("average_precision").alias("method"), "value"
                )
            )
        if {"confusion_matrix", "business_value"} & set(self.metrics):
            # k×k counts from one map-side-combined (chunk, t, p) count,
            # densified over the fitted classes (sklearn labels= semantics)
            cls_strs = [str(c) for c in classes]
            pc = (
                labeled.filter(yt.isin(cls_strs) & yp.isin(cls_strs))
                .groupBy(CHUNK_KEY, yt.alias("_t"), yp.alias("_p"))
                .agg(F.count(F.lit(1)).cast("double").alias("_v"))
            )
            pairs = local_frame(
                assigned.sparkSession, [(t, p) for t in cls_strs for p in cls_strs], "_t string, _p string"
            )
            cells = (
                n_by_chunk.crossJoin(F.broadcast(pairs))
                .join(pc, [CHUNK_KEY, "_t", "_p"], "left")
                .withColumn("_v", F.coalesce(F.col("_v"), F.lit(0.0)))
            )
            parts.extend(cm_cell_values(cells, cls_strs, self))
        return _union(parts)

    def _proba_col(self, cls: str) -> str:
        """Multiclass probas: dict-style column mapping {class: column}, its
        keys matched as strings, as the labels are; else the per-class
        prefix convention."""
        if isinstance(self.y_pred_proba, dict):
            return {str(c): col for c, col in self.y_pred_proba.items()}[cls]
        return f"{self.y_pred_proba}_{cls}"

    def _regression_chunk_values(self, assigned: DataFrame) -> DataFrame:
        yt = F.col(self.y_true).cast("double")
        yp = F.col(self.y_pred).cast("double")
        err = yt - yp
        exprs = {
            "mae": F.avg(F.abs(err)),
            # sklearn mean_absolute_percentage_error clamps the denominator
            # at machine eps — a y_true of exactly 0 must not ANSI-crash the job
            "mape": F.avg(F.abs(err) / F.greatest(F.abs(yt), F.lit(2.220446049250313e-16))),
            "mse": F.avg(err * err),
            "msle": F.avg(F.pow(F.log1p(yt) - F.log1p(yp), 2)),
            "rmse": F.sqrt(F.avg(err * err)),
            "rmsle": F.sqrt(F.avg(F.pow(F.log1p(yt) - F.log1p(yp), 2))),
        }
        aggs = [F.count(F.lit(1)).alias("n_chunk")] + [
            exprs[m].alias(m) for m in self.metrics
        ]
        wide = assigned.filter(yt.isNotNull() & yp.isNotNull()).groupBy(CHUNK_KEY).agg(*aggs)
        return _melt(wide, {m: F.col(m) for m in self.metrics})

    def _chunk_values(self, df: DataFrame):
        assigned, headers = assign_chunks(self._with_scores(df), self.chunker)
        if self.problem_type == "binary_classification":
            return self._binary_chunk_values(assigned), headers
        if self.problem_type == "multiclass_classification":
            return self._multiclass_chunk_values(assigned), headers
        return self._regression_chunk_values(assigned), headers

    # ------------------------------------------------------------------ fit

    def _se_aggs(self) -> list:
        """The aggregates ``_se_from_row`` reads. Rows without a label or a
        prediction are left out of every count through ``F.when``, not a
        filter, so a caller can add its own aggregates over all rows to the
        same pass. ``_rank_n`` (and binary ``_rank_n1``) size the rank
        sample (``_scored_rows``' ``_rank`` rows)."""
        if self.problem_type == "regression":
            yt = F.col(self.y_true).cast("double")
            yp = F.col(self.y_pred).cast("double")
            err = yt - yp
            return [
                F.stddev_pop(F.abs(err)).alias("mae_std"),
                F.stddev_pop(F.abs(err) / F.greatest(F.abs(yt), F.lit(2.220446049250313e-16))).alias("mape_std"),
                F.stddev_pop(err * err).alias("mse_std"),
                F.avg(err * err).alias("mse_mean"),
                F.stddev_pop(F.pow(F.log1p(yt) - F.log1p(yp), 2)).alias("msle_std"),
                F.avg(F.pow(F.log1p(yt) - F.log1p(yp), 2)).alias("msle_mean"),
            ]
        label, pred = self._label_pred()
        # null labels/predictions are excluded from every cell, so n
        # excludes them too
        ok = label.isNotNull() & pred.isNotNull()

        def on(x):
            return F.when(ok, x)

        if self.problem_type == "binary_classification":
            yt, yp = label, pred
            aggs = [
                F.avg(on((yt == yp).cast("double"))).alias("acc"),
                F.avg(on(yp)).alias("pos_pred_rate"),
                F.avg(on(yt)).alias("pos_rate"),
                F.sum(on(((yt == 1) & (yp == 1)).cast("double"))).alias("tp"),
                F.sum(on(((yt == 0) & (yp == 1)).cast("double"))).alias("fp"),
                F.sum(on(((yt == 1) & (yp == 0)).cast("double"))).alias("fn"),
                F.sum(on(((yt == 0) & (yp == 0)).cast("double"))).alias("tn"),
                F.count(on(F.lit(1))).alias("n"),
            ]
            if "business_value" in self.metrics and self.business_value_matrix is not None:
                (tn_v, fp_v), (fn_v, tp_v) = self.business_value_matrix
                w_bv = (
                    F.when((yt == 1) & (yp == 1), float(tp_v))
                    .when((yt == 0) & (yp == 0), float(tn_v))
                    .when((yt == 0) & (yp == 1), float(fp_v))
                    .otherwise(float(fn_v))
                )
                aggs.append(F.stddev_pop(on(w_bv)).alias("bv_std"))
        else:
            # one OvR counts pass for all per-class components
            # (`sampling_error/multiclass_classification.py:21-487`)
            yts, yps = label, pred
            classes = self._classes or []
            aggs = [
                F.count(on(F.lit(1))).alias("n"),
                F.avg(on((yts == yps).cast("double"))).alias("acc"),
            ]
            for i, c in enumerate(classes):
                t, p_ = yts == str(c), yps == str(c)
                aggs += [
                    F.sum(on((t & p_).cast("double"))).alias(f"tp{i}"),
                    F.sum(on((~t & p_).cast("double"))).alias(f"fp{i}"),
                    F.sum(on((t & ~p_).cast("double"))).alias(f"fn{i}"),
                    F.sum(on((~t & ~p_).cast("double"))).alias(f"tn{i}"),
                ]
            if "confusion_matrix" in self.metrics:
                for i, t_ in enumerate(classes):
                    for j, p_ in enumerate(classes):
                        aggs.append(
                            F.sum(on(((yts == str(t_)) & (yps == str(p_))).cast("long"))).alias(f"cm{i}_{j}")
                        )
            if "business_value" in self.metrics and self.business_value_matrix is not None:
                w_bv = F.lit(None).cast("double")
                for i in range(len(classes)):
                    for j in range(len(classes)):
                        w_bv = F.when(
                            (yts == str(classes[i])) & (yps == str(classes[j])),
                            float(self.business_value_matrix[i][j]),
                        ).otherwise(w_bv)
                aggs.append(F.stddev_pop(on(w_bv)).alias("bv_std"))
        if self._rank_metrics():
            rank = self._scored_conditions()[2]
            aggs.append(F.count(F.when(rank, F.lit(1))).alias("_rank_n"))
            if self.problem_type == "binary_classification":
                aggs.append(F.sum(F.when(rank, label)).alias("_rank_n1"))
        return aggs

    def _se_from_row(self, row, rank_pdf) -> Dict[str, dict]:
        """Sampling-error components from the ``_se_aggs`` row and the rank
        sample (``_rank_sample``; None when ``_rank_fraction`` is None)."""
        se: Dict[str, dict] = {}
        rank = self._rank_metrics()
        if self.problem_type == "binary_classification":
            acc, n = row["acc"], row["n"]
            tp, fp, fn, tn = row["tp"], row["fp"], row["fn"], row["tn"]
            se["accuracy"] = {"std": math.sqrt(max(acc * (1 - acc), 0.0))}
            prec = tp / (tp + fp) if (tp + fp) > 0 else float("nan")
            se["precision"] = {
                "std": math.sqrt(max(prec * (1 - prec), 0.0)) if prec == prec else float("nan"),
                "fraction": row["pos_pred_rate"],
            }
            rec = tp / (tp + fn) if (tp + fn) > 0 else float("nan")
            se["recall"] = {
                "std": math.sqrt(max(rec * (1 - rec), 0.0)) if rec == rec else float("nan"),
                "fraction": row["pos_rate"],
            }
            spec = tn / (tn + fp) if (tn + fp) > 0 else float("nan")
            se["specificity"] = {
                "std": math.sqrt(max(spec * (1 - spec), 0.0)) if spec == spec else float("nan"),
                "fraction": 1 - row["pos_rate"],
            }
            rel = tp + fp + fn
            if rel > 0:
                cf = rel / ((fp + fn) * 0.5 + tp)
                q = tp / rel
                se["f1"] = {"std": cf * math.sqrt(max(q * (1 - q), 0.0)), "fraction": rel / n}
            if "roc_auc" in rank:
                se["roc_auc"] = self._auroc_components(row, rank_pdf)
            if "average_precision" in rank:
                se["average_precision"] = self._ap_components(row["_rank_n"], rank_pdf)
            if "business_value" in self.metrics and self.business_value_matrix is not None:
                # std of the per-row weighted value (bse.business_value_
                # sampling_error_components :803-845)
                se["business_value"] = {"std": row["bv_std"], "bv_norm": self.normalize_business_value}
            if "confusion_matrix" in self.metrics:
                # the 2×2 case, its cells named
                cells = {
                    "true_positive": (tp, tp + fn, tp + fp),
                    "false_negative": (fn, tp + fn, tn + fn),
                    "true_negative": (tn, tn + fp, tn + fn),
                    "false_positive": (fp, tn + fp, tp + fp),
                }
                se.update(_cm_cell_components(cells, n, self.normalize_confusion_matrix))
        elif self.problem_type == "multiclass_classification":
            classes = self._classes or []
            n = row["n"]
            acc = row["acc"]
            se["accuracy"] = {"std": math.sqrt(max(acc * (1 - acc), 0.0))}

            def _cls_component(x, rel):
                q = x / rel if rel > 0 else float("nan")
                var = q * (1 - q) if q == q else float("nan")
                return [var, rel / n if n else float("nan")]

            comps = {"f1": [], "precision": [], "recall": [], "specificity": []}
            for i in range(len(classes)):
                tp, fp, fn, tn = (row[f"tp{i}"], row[f"fp{i}"], row[f"fn{i}"], row[f"tn{i}"])
                comps["f1"].append(_cls_component(tp, tp + fp + fn))
                comps["precision"].append(_cls_component(tp, tp + fp))
                comps["recall"].append(_cls_component(tp, tp + fn))
                comps["specificity"].append(_cls_component(tn, tn + fp))
            for m_, cc in comps.items():
                if m_ in self.metrics:
                    se[m_] = {"mc": cc, "scale": 1.0}
            if "roc_auc" in rank:
                se["roc_auc"] = {"mc": self._mc_auroc_components(rank_pdf), "scale": 1.2}
            if "average_precision" in rank:
                # ref average_precision_sampling_error_components
                # (sampling_error/multiclass_classification.py:417-487):
                # per-class bootstrap var over N=50 resamples of size
                # min(n/2, 50k) on binarized OvR labels; chunk SE =
                # sqrt(mean_c(var_c * s_c) / n_chunk) — the constant
                # mean_c(var_c*s_c) is all we need to store
                se["average_precision"] = self._mc_ap_component(row["_rank_n"], rank_pdf)
            if "confusion_matrix" in self.metrics:
                # ref multiclass_confusion_matrix_sampling_error_components
                # (:361-414), keyed by the dense method name
                k = range(len(classes))
                cm = [[row[f"cm{i}_{j}"] for j in k] for i in k]
                cells = {
                    f"true_{classes[i]}_pred_{classes[j]}": (
                        cm[i][j], sum(cm[i][q] for q in k), sum(cm[q][j] for q in k)
                    )
                    for i in k
                    for j in k
                }
                se.update(_cm_cell_components(cells, n, self.normalize_confusion_matrix))
            if "business_value" in self.metrics and self.business_value_matrix is not None:
                se["business_value"] = {"std": row["bv_std"], "bv_norm": self.normalize_business_value}
        else:
            se["mae"] = {"std": row["mae_std"]}
            se["mape"] = {"std": row["mape_std"]}
            se["mse"] = {"std": row["mse_std"]}
            se["msle"] = {"std": row["msle_std"]}
            se["rmse"] = {"std": row["mse_std"], "mean": row["mse_mean"]}
            se["rmsle"] = {"std": row["msle_std"], "mean": row["msle_mean"]}
        return se

    # Reference caps sampling-error fits at 50k rows
    # (`sampling_error/binary_classification.py:27-29` MAX_RESAMPLE_SIZE) — the
    # SE component is an estimate; a bounded seeded sample suffices at any scale.
    MAX_RESAMPLE_SIZE = 50_000

    def _rank_metrics(self) -> set:
        """The metrics whose sampling errors rank a scored sample."""
        if self.problem_type == "binary_classification" and self.y_pred_proba:
            return {"roc_auc", "average_precision"} & set(self.metrics)
        if self.problem_type == "multiclass_classification" and isinstance(self.y_pred_proba, dict):
            return {"roc_auc", "average_precision"} & set(self.metrics)
        return set()

    def _label_pred(self):
        """Label and prediction Columns: doubles, strings for multiclass."""
        t = "string" if self.problem_type == "multiclass_classification" else "double"
        return F.col(self.y_true).cast(t), F.col(self.y_pred).cast(t)

    def _scored_conditions(self):
        """(label, scores, rank, cal) Columns for ``_scored_rows`` and
        ``_se_aggs``: double scores, one per class in ``_classes`` order for
        multiclass."""
        label, pred = self._label_pred()
        if self.problem_type == "multiclass_classification":
            scores = [F.col(self._proba_col(c)).cast("double") for c in self._classes]
            # multiclass rows need every score, none NaN; the one-vs-rest
            # AUROC/AP components read no prediction, so both sides read
            # the same rows
            cal = label.isNotNull()
            for s in scores:
                cal = cal & s.isNotNull() & ~F.isnan(s)
            return label, scores, cal, cal
        s = F.col(self.y_pred_proba).cast("double")
        scored = label.isNotNull() & s.isNotNull()
        # a NaN score ranks highest, as in the realized AUC; the calibrator
        # drops NaN labels and scores
        return label, [s], scored & pred.isNotNull(), scored & ~F.isnan(label) & ~F.isnan(s)

    def _scored_rows(self, reference: DataFrame) -> DataFrame:
        """Rows with a label and every score, as ``_y``, ``_s0``, ``_s1``, …
        and two flags: the rank-based sampling errors sample the ``_rank``
        rows, CBPE's calibrator the ``_cal`` rows. Binary ``_rank`` rows
        also carry a prediction; binary ``_cal`` rows hold no NaN."""
        label, scores, rank, cal = self._scored_conditions()
        cols = [label.alias("_y")] + [s.alias(f"_s{i}") for i, s in enumerate(scores)]
        return reference.select(*cols, rank.alias("_rank"), cal.alias("_cal")).filter(
            F.col("_rank") | F.col("_cal")
        )

    def _rank_fraction(self, row) -> Optional[float]:
        """Share of the ``_rank`` rows the rank-based components sample: all
        of them up to MAX_RESAMPLE_SIZE, a seeded Bernoulli share above it.
        None when no component needs a sample."""
        rank = self._rank_metrics()
        n = row["_rank_n"] if rank else 0
        if not n:
            return None
        if rank == {"roc_auc"} and self.problem_type == "binary_classification":
            n1 = row["_rank_n1"]
            if not n1 or n1 == n:  # one class: AUROC has no components
                return None
        return min(1.0, self.MAX_RESAMPLE_SIZE / n)

    @staticmethod
    def _rank_sample(scored: DataFrame, fraction: float):
        """Collect the ``_rank`` rows of ``_scored_rows``, sampled when the
        fraction is below 1. A global rank over the full reference would
        collapse to one task (and at 10^12 rows, one very large one); the
        bounded seeded sample ranks in driver numpy instead, which is the
        reference's own scalability device."""
        rows = scored.filter(F.col("_rank"))
        if fraction < 1.0:
            rows = rows.sample(fraction=fraction, seed=42)
        return rows.toPandas()

    def _auroc_components(self, row, pdf) -> dict:
        """AUROC components (`sampling_error/binary_classification.py:36-75`):
        per-positive fraction of negatives ranked below it; std of that
        distribution + positive fraction."""
        n1, n = row["_rank_n1"], row["_rank_n"]
        if not n or not n1 or n1 == n:
            return {"std": None, "fraction": (n1 / n) if n else None}
        ser, frac = _neg_below_fractions(pdf["_y"].to_numpy(np.float64), pdf["_s0"].to_numpy(np.float64))
        return {"std": None if ser is None else float(np.std(ser)), "fraction": frac}

    def _ap_components(self, n, pdf) -> dict:
        """AP components (`bse.ap_sampling_error_components :95-128`): bootstrap
        std over N=50 resamples of size min(n/2, 50k), extrapolated 1/√n."""
        from spark_validate.functions.mathstats import average_precision

        if not n:
            return {"std": None, "sample_size": None}
        y = pdf["_y"].to_numpy(np.float64)
        s = pdf["_s0"].to_numpy(np.float64)
        sample_size = int(min(n // 2, self.MAX_RESAMPLE_SIZE))
        if sample_size < 2 or y.sum() == 0 or y.sum() == len(y):
            return {"std": None, "sample_size": sample_size}
        rng = np.random.default_rng(42)
        aps = []
        for _ in range(50):  # bse.N_EXPERIMENTS
            idx = rng.choice(len(y), size=min(sample_size, len(y)), replace=True)
            aps.append(average_precision(y[idx], s[idx]))
        return {"std": float(np.nanstd(aps)), "sample_size": sample_size}

    def _mc_auroc_components(self, pdf) -> list:
        """Per-class OvR AUROC components (var(ser), fraction) from the rank
        sample (`mse.auroc_sampling_error_components :27-75`)."""
        nan = float("nan")
        if pdf is None:  # no scored rows
            return [[nan, nan] for _ in self._classes]
        comps = []
        for i, c in enumerate(self._classes):
            y = (pdf["_y"] == str(c)).to_numpy(np.float64)
            ser, frac = _neg_below_fractions(y, pdf[f"_s{i}"].to_numpy(np.float64))
            comps.append([nan, nan] if ser is None else [float(np.var(ser)), frac])
        return comps

    def _mc_ap_component(self, n, pdf) -> dict:
        """Macro-OvR AP bootstrap components on the rank sample
        (`sampling_error/multiclass_classification.py:417-487`): per class,
        var over N=50 resamples of size min(n/2, 50k); stored as the single
        constant mean_c(var_c·s_c) so chunk SE = sqrt(C / n_chunk)."""
        from spark_validate.functions.mathstats import average_precision

        if not n:
            return {"mc_ap_c": None}
        sample_size = int(min(n // 2, self.MAX_RESAMPLE_SIZE))
        if sample_size < 2:
            return {"mc_ap_c": None}
        rng = np.random.default_rng(42)
        var_times_s = []
        for i, c in enumerate(self._classes):
            y = (pdf["_y"] == str(c)).to_numpy(np.float64)
            p = pdf[f"_s{i}"].to_numpy(np.float64)
            if y.sum() == 0 or y.sum() == len(y):
                continue
            aps = []
            for _ in range(50):  # mse.N_EXPERIMENTS
                idx = rng.choice(len(y), sample_size, replace=True)
                aps.append(average_precision(y[idx], p[idx]))
            var_times_s.append(float(np.var(aps)) * sample_size)
        if not var_times_s:
            return {"mc_ap_c": None}
        return {"mc_ap_c": float(np.mean(var_times_s))}

    def fit(self, reference: DataFrame) -> "PerformanceCalculator":
        from spark_validate.functions.fitcache import cached_for_fit, chunker_columns

        if isinstance(self.y_pred_proba, dict):
            proba_cols = list(self.y_pred_proba.values())
        elif self.y_pred_proba and self.problem_type == "multiclass_classification":
            # string proba in multiclass = per-class prefix convention
            # (_proba_col: f"{y_pred_proba}_{cls}"); classes aren't known until
            # fit, so include every prefixed column plus the bare name
            proba_cols = [self.y_pred_proba] + [
                c for c in reference.columns if c.startswith(f"{self.y_pred_proba}_")
            ]
        else:
            proba_cols = [self.y_pred_proba] if self.y_pred_proba else []
        cols = [self.y_true, self.y_pred] + proba_cols + chunker_columns(self.chunker)
        with cached_for_fit(reference, columns=cols) as ref:
            return self._fit(ref)

    def _fit(self, reference: DataFrame) -> "PerformanceCalculator":
        if self.problem_type == "multiclass_classification":
            self._classes = self._class_list(reference)
        row = reference.agg(*self._se_aggs()).first()
        self._se = self._se_from_row(row, self._sample_scored(reference, row))
        self._fitted = True
        ref_long, ref_headers = self._chunk_values(reference)
        ref_long = ref_long.persist()
        self._thresholds.update(fit_thresholds(ref_long, ["method"], self.threshold, limits=_LIMITS))
        self._reference_result = self._finalize(ref_long, ref_headers, "reference")
        ref_long.unpersist()
        return self

    def _class_list(self, reference: DataFrame) -> list:
        """The multiclass labels, here the reference's distinct labels as
        strings. NULL labels are tolerated (excluded from confusion cells
        and n alike); they must not enter the class list — sorted() would
        TypeError on None, and None is not a class."""
        return sorted(
            r[0]
            for r in reference.select(F.col(self.y_true).cast("string"))
            .filter(F.col(self.y_true).isNotNull())
            .distinct()
            .collect()
        )

    def _sample_scored(self, reference: DataFrame, row):
        """The one collected scored-row sample (``_scored_rows``) of the fit,
        given the ``_se_aggs`` row; returns the rank sample the rank-based
        sampling errors read, None when none needs one."""
        fraction = self._rank_fraction(row)
        return None if fraction is None else self._rank_sample(self._scored_rows(reference), fraction)

    # ---- JSON state for the FittedStore (thresholds + SE components + the
    # fitted model; reference_result is not persisted)

    def get_state(self) -> dict:
        if not self._fitted:
            raise RuntimeError("fit first")
        return {
            "thresholds": {m: [lo, up] for m, (lo, up) in self._thresholds.items()},
            "se": self._se,
            **self._model_state(),
        }

    def set_state(self, st: dict) -> "PerformanceCalculator":
        self._thresholds = {m: (v[0], v[1]) for m, v in st["thresholds"].items()}
        self._se = st.get("se", {})
        self._set_model_state(st)
        self._reference_result = None
        self._fitted = True
        return self

    def _model_state(self) -> dict:
        """The fitted state besides thresholds and SE: the multiclass label set."""
        return {"classes": self._classes}

    def _set_model_state(self, st: dict) -> None:
        if st.get("classes") is not None:
            self._classes = list(st["classes"])

    # ------------------------------------------------------------------ calculate

    def _column_name(self) -> str:
        return self.y_pred

    def _finalize(self, long_df: DataFrame, headers, period: str) -> DataFrame:
        return finalize(
            long_df, headers, period, self._thresholds, self._se,
            self.normalize_confusion_matrix is not None, self._column_name(),
        )

    def calculate(self, df: DataFrame, period: str = "analysis") -> DataFrame:
        if not self._fitted:
            raise RuntimeError("call fit(reference) first")
        long_df, headers = self._chunk_values(df)
        return self._finalize(long_df, headers, period)

    @property
    def reference_result(self) -> DataFrame:
        if not self._fitted:
            raise RuntimeError("not fitted")
        return self._reference_result
