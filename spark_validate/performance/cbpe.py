"""CBPE — Confidence-Based Performance Estimation (reference
`nannyml/performance_estimation/confidence_based/cbpe.py:56-592` +
`metrics.py`).

Estimates classification performance WITHOUT labels: calibrate the model's
scores on the reference period (isotonic, `calibration.py:120-149`), then
treat each calibrated score as the probability the row is positive and build
the *expected* confusion matrix per chunk:

    TP = Σ p̂·1[pred=1]   FP = Σ (1−p̂)·1[pred=1]
    FN = Σ p̂·1[pred=0]   TN = Σ (1−p̂)·1[pred=0]      (metrics.py:762-787)

Realized performance (``calculator.py``) is the case ``p̂ = 1[y_true = 1]``
of the same formulas, so ``CBPE`` is a ``PerformanceCalculator``: it inherits
the fields, validation, fit (sampling errors, reference pass, thresholds),
state, ``calculate`` and ``reference_result``, and overrides only hooks — the
positive probability is the calibrated score, the calibrator is fit from the
``_cal`` slice of the fit's one scored-row sample, and ``estimate`` is
``calculate``.

Estimated ROC-AUC/AP integrate a synthetic ROC/PR curve from the calibrated
masses in uncalibrated-score order (metrics.py:444-480, 596-645) — expressed
with per-chunk windows, no UDF.

Calibration itself is applied natively (``calibration.with_calibrated``): a
JVM binary search finds each score's segment among the fitted isotonic
breakpoints and numpy's interpolation formula runs as a Spark expression, so
estimation starts no Python worker and returns the same bits as ``np.interp``.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Dict, Optional

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from spark_validate.calibration import (
    IsotonicCalibrator,
    NoopCalibrator,
    needs_calibration,
    row_sum,
    with_calibrated,
)
from spark_validate.chunking import CHUNK_KEY
from spark_validate.performance.calculator import (
    BINARY_METRICS,
    PerformanceCalculator,
    _union,
    cm_cell_values,
    macro_values,
    ovr_confusion,
)

CBPE_METRICS = BINARY_METRICS


@dataclass
class CBPE(PerformanceCalculator):
    """fit(reference with labels) → estimate(analysis without labels)."""

    y_pred_proba: object = "y_pred_proba"  # str (binary) | Dict[class, col] (multiclass)
    calibration_sample: int = 500_000

    def __post_init__(self):
        if self.problem_type not in ("binary_classification", "multiclass_classification"):
            raise ValueError(f"CBPE problem_type must be classification, got {self.problem_type!r}")
        super().__post_init__()
        self._calibrator = None
        self._calibrators: Optional[Dict] = None  # multiclass: class → calibrator
        if self.problem_type == "multiclass_classification":
            if not isinstance(self.y_pred_proba, dict):
                raise ValueError(
                    "multiclass CBPE requires y_pred_proba as a dict mapping class → proba column "
                    "(ref cbpe.py:539-580)"
                )
            # the classes are the dict's keys, in their own order, matched
            # against the labels as strings
            self._classes = [str(c) for c in sorted(self.y_pred_proba)]
            if "business_value" in self.metrics:
                k = len(self._classes)
                bvm = self.business_value_matrix
                if len(bvm) != k or any(len(r) != k for r in bvm):
                    raise ValueError(f"multiclass business_value_matrix must be {k}×{k}")

    # -------------------------------------------------------------- fit hooks

    def _class_list(self, reference: DataFrame) -> list:
        return self._classes

    def _se_aggs(self) -> list:
        # the row count sets the calibrator's sample share
        return [F.count(F.lit(1)).alias("_rows"), *super()._se_aggs()]

    def _sample_scored(self, reference: DataFrame, row):
        """Fit the calibrator from the ``_cal`` rows of the scored-row
        sample, and return its rank rows. A seeded sample bounds the
        calibrator collect at any scale (1-D monotone fits need no more)
        and the rank sample at 50k rows; when neither side samples, both
        are slices of one collect."""
        scored = self._scored_rows(reference)
        cal_frac = min(1.0, self.calibration_sample / max(row["_rows"], 1))
        rank_frac = self._rank_fraction(row)
        if cal_frac == 1.0 and rank_frac in (None, 1.0):
            pdf = scored.toPandas()
            cal_pdf = pdf[pdf["_cal"].to_numpy()]
            rank_pdf = None if rank_frac is None else pdf[pdf["_rank"].to_numpy()]
        else:
            cal_pdf = scored.filter(F.col("_cal")).sample(fraction=cal_frac, seed=42).toPandas()
            rank_pdf = None if rank_frac is None else self._rank_sample(scored, rank_frac)
        self._fit_calibrator(cal_pdf)
        return rank_pdf

    def _fit_calibrator(self, pdf) -> None:
        """Decide need and fit isotonic on the collected ``_cal`` sample.
        Multiclass (ref cbpe.py:539-552 _fit_calibrators): one calibrator
        per class on the one-vs-rest binarized labels, from the same sample."""

        def fit(y, p):
            return (IsotonicCalibrator() if needs_calibration(y, p) else NoopCalibrator()).fit(p, y)

        if self.problem_type == "multiclass_classification":
            self._calibrators = {
                c: fit((pdf["_y"] == c).to_numpy(dtype=float), pdf[f"_s{i}"].to_numpy())
                for i, c in enumerate(self._classes)
            }
        else:
            self._calibrator = fit(pdf["_y"].to_numpy(), pdf["_s0"].to_numpy())

    # ---- JSON state: the calibrator breakpoints besides the thresholds and
    # sampling-error components

    def _model_state(self) -> dict:
        if self._calibrators is not None:
            return {"calibrators": {c: cal.get_state() for c, cal in self._calibrators.items()}}
        return {} if self._calibrator is None else {"calibrator": self._calibrator.get_state()}

    def _set_model_state(self, st: dict) -> None:
        def mk(d):
            return NoopCalibrator() if d.get("noop") else IsotonicCalibrator().set_state(d)

        if st.get("calibrators") is not None:
            self._calibrators = {c: mk(st["calibrators"][c]) for c in self._classes}
        if st.get("calibrator") is not None:
            self._calibrator = mk(st["calibrator"])

    # -------------------------------------------------------------- estimation

    def _with_scores(self, df: DataFrame) -> DataFrame:
        """Add the calibrated probabilities: binary ``_cal_p``; multiclass
        ``_cal``, the per-class calibrated probabilities renormalized to sum
        1 per row with a uniform fallback when the calibrated sum is 0 (ref
        cbpe.py:556-580 _calibrate_predicted_probabilities). The sum adds the
        classes in numpy's order, so the result matches the numpy
        renormalization bit for bit; a NaN share is NULL, as it was after
        the Arrow trip out of a pandas UDF."""
        if self.problem_type == "binary_classification":
            return with_calibrated(df, [("_cal_p", F.col(self.y_pred_proba), self._calibrator)])
        k = len(self._classes)
        # NULL probabilities must DROP the row (reference common_nan_removal,
        # mirroring the binary path)
        cols = [F.col(self._proba_col(c)).cast("double") for c in self._classes]
        complete = df
        for col in cols:
            complete = complete.filter(col.isNotNull())
        names = [f"_cal_{i}" for i in range(k)]
        cal = with_calibrated(
            complete, [(n, col, self._calibrators[c]) for n, col, c in zip(names, cols, self._classes)]
        )
        denom = row_sum([F.col(n) for n in names])
        null = F.lit(None).cast("double")
        normalized = [
            F.when(denom == 0, F.lit(1.0 / k)).otherwise(F.nanvl(F.col(n) / denom, null)) for n in names
        ]
        return cal.withColumn("_cal", F.array(*normalized)).drop(*names)

    def _positive_probability(self):
        p = F.col("_cal_p")
        return p, p.isNotNull() & F.col(self.y_pred).cast("double").isNotNull()

    def _rank_values(self, metric: str, assigned: DataFrame) -> DataFrame:
        return (self._estimate_auc if metric == "roc_auc" else self._estimate_ap)(assigned)

    def _multiclass_chunk_values(self, assigned: DataFrame) -> DataFrame:
        """Multiclass estimation (ref metrics.py:2340-3580): macro means of
        one-vs-rest binary estimates over renormalized per-class calibrated
        probabilities; accuracy = E[p̂ of the predicted class]; expected k×k
        confusion matrix cm[i,j] = Σ_{pred=c_j} p̂_i."""
        classes = self._classes
        pred = F.col(self.y_pred).cast("string")
        assigned = assigned.filter(pred.isNotNull() & F.col("_cal").isNotNull())
        cal = lambda i: F.element_at("_cal", i + 1)  # noqa: E731
        # probability of the predicted class (0 when pred outside classes —
        # matches max(onehot·probas) in metrics.py:3018-3021)
        p_pred = F.lit(0.0)
        for i, c in enumerate(classes):
            p_pred = F.when(pred == c, cal(i)).otherwise(p_pred)
        cm_cells = [
            F.struct(
                F.lit(t).alias("_t"),
                F.lit(p).alias("_p"),
                F.sum(F.when(pred == p, cal(i)).otherwise(F.lit(0.0))).alias("_v"),
            )
            for i, t in enumerate(classes)
            for p in classes
        ]
        agg = assigned.groupBy(CHUNK_KEY).agg(
            ovr_confusion([(c, cal(i)) for i, c in enumerate(classes)], pred).alias("_cc"),
            F.array(*cm_cells).alias("_cm"),
            F.avg(p_pred).alias("_acc"),
            F.count(F.lit(1)).alias("n_chunk"),
        )
        n_by_chunk = agg.select(CHUNK_KEY, "n_chunk")
        parts = macro_values(agg, self.metrics)
        for metric, fn in (("roc_auc", self._estimate_auc), ("average_precision", self._estimate_ap)):
            if metric not in self.metrics:
                continue
            per_cls = []
            for i, c in enumerate(classes):
                one = assigned.withColumn("_cal_c", cal(i))
                per_cls.append(
                    fn(one, score_col=F.col(self._proba_col(c)), cal_col="_cal_c").select(CHUNK_KEY, "value")
                )
            parts.append(
                _union(per_cls)
                .groupBy(CHUNK_KEY)
                .agg(F.avg("value").alias("value"))
                .join(n_by_chunk, CHUNK_KEY)
                .select(CHUNK_KEY, "n_chunk", F.lit(metric).alias("method"), "value")
            )
        if {"confusion_matrix", "business_value"} & set(self.metrics):
            cells = agg.select(CHUNK_KEY, "n_chunk", F.explode("_cm").alias("c")).select(
                CHUNK_KEY, "n_chunk", "c._t", "c._p", "c._v"
            )
            parts.extend(cm_cell_values(cells, classes, self))
        return _union(parts)

    def _roc_points(self, assigned: DataFrame, score_col=None, cal_col="_cal_p") -> DataFrame:
        """Per-row synthetic ROC point in uncalibrated-score descending order
        (metrics.py:466-480): tps=cum(calibrated) rounded to 5, fps=rank−tps."""
        s = (score_col if score_col is not None else F.col(self.y_pred_proba)).cast("double")
        df = assigned.select(CHUNK_KEY, s.alias("_s"), F.col(cal_col).alias("_p")).filter(
            F.col("_s").isNotNull() & F.col("_p").isNotNull()
        )
        w = Window.partitionBy(CHUNK_KEY).orderBy(F.desc("_s"), F.desc("_p")).rowsBetween(
            Window.unboundedPreceding, 0
        )
        w_rank = Window.partitionBy(CHUNK_KEY).orderBy(F.desc("_s"), F.desc("_p"))
        return (
            df.withColumn("_tps", F.round(F.sum("_p").over(w), 5))
            .withColumn("_rank", F.row_number().over(w_rank))
            .withColumn("_fps", F.round(F.col("_rank") - F.sum("_p").over(w), 5))
        )

    def _estimate_auc(self, assigned: DataFrame, score_col=None, cal_col="_cal_p") -> DataFrame:
        pts = self._roc_points(assigned, score_col, cal_col)
        w_tot = Window.partitionBy(CHUNK_KEY)
        pts = pts.withColumn("_tp_tot", F.max("_tps").over(w_tot)).withColumn(
            "_fp_tot", F.max("_fps").over(w_tot)
        )
        w_lag = Window.partitionBy(CHUNK_KEY).orderBy("_rank")
        tpr = F.col("_tps") / F.col("_tp_tot")
        fpr = F.col("_fps") / F.col("_fp_tot")
        tpr_prev = F.coalesce(F.lag(tpr).over(w_lag), F.lit(0.0))
        fpr_prev = F.coalesce(F.lag(fpr).over(w_lag), F.lit(0.0))
        with_trap = pts.withColumn("_trap", (fpr - fpr_prev) * (tpr + tpr_prev) / 2)
        return with_trap.groupBy(CHUNK_KEY).agg(F.sum("_trap").cast("double").alias("value")).select(
            CHUNK_KEY, F.lit("roc_auc").alias("method"), "value"
        )

    def _estimate_ap(self, assigned: DataFrame, score_col=None, cal_col="_cal_p") -> DataFrame:
        """estimate_ap (metrics.py:596-645): AP = Σ Δrecall·precision over the
        synthetic PR curve (recall_0 = 0, precision = tps/rank)."""
        pts = self._roc_points(assigned, score_col, cal_col)
        w_tot = Window.partitionBy(CHUNK_KEY)
        pts = pts.withColumn("_tp_tot", F.max("_tps").over(w_tot))
        w_lag = Window.partitionBy(CHUNK_KEY).orderBy("_rank")
        recall = F.col("_tps") / F.col("_tp_tot")
        recall_prev = F.coalesce(F.lag(recall).over(w_lag), F.lit(0.0))
        precision = F.col("_tps") / F.col("_rank")
        with_term = pts.withColumn("_term", (recall - recall_prev) * precision)
        return with_term.groupBy(CHUNK_KEY).agg(F.sum("_term").cast("double").alias("value")).select(
            CHUNK_KEY, F.lit("average_precision").alias("method"), "value"
        )

    def _column_name(self) -> str:
        if self.problem_type == "multiclass_classification":
            return ",".join(self._proba_col(c) for c in self._classes)
        return self.y_pred_proba

    # runner-protocol alias: estimators "calculate" their estimate
    estimate = PerformanceCalculator.calculate
