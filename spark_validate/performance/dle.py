"""DLE — Direct Loss Estimation for regression (reference
`nannyml/performance_estimation/direct_loss_estimation/dle.py:300-447`).

Estimates regression performance WITHOUT labels: fit a model on the reference
period predicting each row's LOSS (|e|, e², relative or log variants) from
the features + prediction, then per chunk the estimated metric is the mean
(or root-mean) of predicted losses.

The reference trains LightGBM regressors (dle.py:436-447); LightGBM is
importable-gated here and, when absent, the default loss model is the same
model family re-implemented in numpy — a histogram gradient-boosted tree
regressor (`spark_validate/functions/gbt.py::GBTRegressor`: second-order
boosted depth-limited trees over feature-quantile histogram splits), which
learns the nonlinear loss surfaces DLE exists for. A closed-form ridge over
standardized features + simple interactions remains as `loss_model='ridge'`.
Either way the model is fit on a seeded driver sample and is small enough to
broadcast; scoring is one Arrow-vectorized pass; chunk metrics are plain
aggregations.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from typing import Dict, List, Optional, Sequence, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spark_validate.calculators.base import assign_chunks
from spark_validate.chunking import CHUNK_KEY, Chunker, DefaultChunker
from spark_validate.performance.calculator import REGRESSION_METRICS, _melt, finalize
from spark_validate.thresholds import StandardDeviationThreshold, fit_thresholds

try:  # the reference's model class, absent in this container
    import lightgbm  # noqa: F401

    _HAS_LGBM = True
except ImportError:
    _HAS_LGBM = False

DLE_METRICS = REGRESSION_METRICS

# metric → (per-row loss fn name, aggregate = mean | root-mean)
_LOSS_OF = {
    "mae": ("abs", "mean"),
    "mape": ("ape", "mean"),
    "mse": ("sq", "mean"),
    "msle": ("sle", "mean"),
    "rmse": ("sq", "root_mean"),
    "rmsle": ("sle", "root_mean"),
}


def _loss_values(kind: str, y_true: np.ndarray, y_pred: np.ndarray) -> np.ndarray:
    e = y_true - y_pred
    if kind == "abs":
        return np.abs(e)
    if kind == "ape":
        return np.abs(e) / np.maximum(np.abs(y_true), 1e-12)
    if kind == "sq":
        return e * e
    if kind == "sle":
        return (np.log1p(y_true) - np.log1p(y_pred)) ** 2
    raise ValueError(kind)


class _RidgeLossModel:
    """Closed-form ridge on standardized [features, y_pred, y_pred²]."""

    def __init__(self, alpha: float = 1.0):
        self.alpha = alpha

    def fit(self, X: np.ndarray, loss: np.ndarray) -> "_RidgeLossModel":
        self.mu = X.mean(axis=0)
        self.sd = X.std(axis=0) + 1e-12
        Xs = np.column_stack([np.ones(len(X)), (X - self.mu) / self.sd])
        k = Xs.shape[1]
        A = Xs.T @ Xs + self.alpha * np.eye(k)
        A[0, 0] -= self.alpha  # don't penalize the intercept
        self.w = np.linalg.solve(A, Xs.T @ loss)
        return self

    def predict(self, X: np.ndarray) -> np.ndarray:
        Xs = np.column_stack([np.ones(len(X)), (X - self.mu) / self.sd])
        return np.maximum(Xs @ self.w, 0.0)  # losses are non-negative

    def state(self) -> dict:
        return {"kind": "ridge", "alpha": self.alpha, "mu": self.mu.tolist(), "sd": self.sd.tolist(), "w": self.w.tolist()}

    @classmethod
    def from_state(cls, st: dict) -> "_RidgeLossModel":
        m = cls(alpha=float(st.get("alpha", 1.0)))
        m.mu = np.asarray(st["mu"], dtype=np.float64)
        m.sd = np.asarray(st["sd"], dtype=np.float64)
        m.w = np.asarray(st["w"], dtype=np.float64)
        return m


class _GBTLossModel:
    """Histogram-GBDT loss model (the reference's LightGBM family). Thin
    wrapper clamping predictions to the non-negative loss domain."""

    def __init__(self, **kw):
        from spark_validate.functions.gbt import GBTRegressor

        self.params = kw
        self.model = GBTRegressor(**kw)

    def fit(self, X: np.ndarray, loss: np.ndarray) -> "_GBTLossModel":
        self.model.fit(X, loss)
        return self

    def predict(self, X: np.ndarray) -> np.ndarray:
        return np.maximum(self.model.predict(X), 0.0)

    def state(self) -> dict:
        return {"kind": "gbt", **self.model.state()}

    @classmethod
    def from_state(cls, st: dict) -> "_GBTLossModel":
        from spark_validate.functions.gbt import GBTRegressor

        m = cls.__new__(cls)
        m.params = {}
        m.model = GBTRegressor.from_state(st)
        return m


@dataclass
class DLE:
    metrics: Sequence[str]
    feature_column_names: Sequence[str]
    y_pred: str = "y_pred"
    y_true: str = "y_true"
    chunker: Chunker = field(default_factory=DefaultChunker)
    threshold: object = field(default_factory=StandardDeviationThreshold)
    fit_sample: int = 200_000
    # 'gbt' (default — the reference's LightGBM family, numpy histogram GBDT),
    # 'ridge' (closed-form linear), or 'lightgbm' (only if importable).
    loss_model: str = "gbt"
    # reference tunes its LightGBM loss model with FLAML when
    # tune_hyperparameters=True (dle.py:143-168). Same spirit here,
    # deterministic: seeded k-fold grid on the driver sample picking the
    # MSE-minimizing config — alphas for ridge, (max_depth, n_rounds) for gbt.
    tune_hyperparameters: bool = False
    tune_alphas: Sequence[float] = (0.01, 0.1, 1.0, 10.0, 100.0)
    tune_gbt_grid: Sequence[Tuple[int, int]] = ((2, 40), (3, 60), (4, 60), (5, 80))
    tune_folds: int = 3

    def __post_init__(self):
        bad = set(self.metrics) - set(DLE_METRICS)
        if bad:
            raise ValueError(f"unknown DLE metrics {sorted(bad)}")
        if self.loss_model not in ("gbt", "ridge", "lightgbm"):
            raise ValueError(f"unknown loss_model {self.loss_model!r}")
        if self.loss_model == "lightgbm" and not _HAS_LGBM:
            raise ValueError("loss_model='lightgbm' but lightgbm is not importable")
        self._models: Dict[str, object] = {}
        self._thresholds: Dict[str, Tuple[Optional[float], Optional[float]]] = {}
        self._fitted = False

    def _design(self, pdf: pd.DataFrame) -> np.ndarray:
        cols = [pd.to_numeric(pdf[c], errors="coerce").fillna(0).to_numpy(np.float64) for c in self.feature_column_names]
        yp = pd.to_numeric(pdf[self.y_pred], errors="coerce").fillna(0).to_numpy(np.float64)
        return np.column_stack(cols + [yp, yp * yp])

    def fit(self, reference: DataFrame) -> "DLE":
        n = reference.count()
        frac = min(1.0, self.fit_sample / max(n, 1))
        pdf = (
            reference.select(*self.feature_column_names, self.y_pred, self.y_true)
            .dropna()
            .sample(fraction=frac, seed=42)
            .toPandas()
        )
        # toPandas() row order follows partition order (cores / file splits);
        # sort so the fitted loss model is a pure function of the sample SET —
        # cheap on a ≤fit_sample driver frame, required for frozen goldens
        pdf = pdf.sort_values(list(pdf.columns), kind="mergesort").reset_index(drop=True)
        X = self._design(pdf)
        yt = pdf[self.y_true].to_numpy(np.float64)
        yp = pdf[self.y_pred].to_numpy(np.float64)
        kinds = {_LOSS_OF[m][0] for m in self.metrics}
        for kind in kinds:
            loss = _loss_values(kind, yt, yp)
            self._models[kind] = self._fit_loss_model(X, loss)
        self._fitted = True
        ref_long, ref_headers = self._chunk_values(reference)
        ref_long = ref_long.persist()
        # FITTED lower bounds clamp at 0 (losses are non-negative); an
        # explicit ConstantThreshold keeps whatever the caller asked for
        self._thresholds.update(
            fit_thresholds(ref_long, ["method"], self.threshold, limits=(0.0, None), clamp_constant=False)
        )
        self._reference_result = self._finalize(ref_long, ref_headers, "reference")
        ref_long.unpersist()
        return self

    def _fit_loss_model(self, X: np.ndarray, loss: np.ndarray):
        if self.loss_model == "lightgbm":
            import lightgbm as lgb

            m = lgb.LGBMRegressor(n_estimators=100, random_state=42)
            m.fit(X, loss)
            return m
        if self.loss_model == "ridge":
            alpha = self._tune_alpha(X, loss) if self.tune_hyperparameters else 1.0
            return _RidgeLossModel(alpha=alpha).fit(X, loss)
        if self.tune_hyperparameters:
            depth, rounds = min(
                self.tune_gbt_grid,
                key=lambda dr: self._cv_mse(lambda: _GBTLossModel(max_depth=dr[0], n_rounds=dr[1]), X, loss),
            )
        else:
            depth, rounds = 4, 60
        return _GBTLossModel(max_depth=depth, n_rounds=rounds).fit(X, loss)

    def _cv_mse(self, make_model, X: np.ndarray, loss: np.ndarray) -> float:
        """Seeded k-fold CV MSE of a loss-model factory (driver-side numpy;
        the sample is already bounded by fit_sample)."""
        rng = np.random.default_rng(42)
        idx = rng.permutation(len(X))
        folds = np.array_split(idx, self.tune_folds)
        mse = 0.0
        for i in range(self.tune_folds):
            val = folds[i]
            trn = np.concatenate([folds[j] for j in range(self.tune_folds) if j != i])
            m = make_model().fit(X[trn], loss[trn])
            mse += float(((m.predict(X[val]) - loss[val]) ** 2).mean())
        return mse

    def _tune_alpha(self, X: np.ndarray, loss: np.ndarray) -> float:
        """Seeded k-fold grid search over ridge alphas."""
        return min(
            (float(a) for a in self.tune_alphas),
            key=lambda a: self._cv_mse(lambda: _RidgeLossModel(alpha=a), X, loss),
        )

    def _chunk_values(self, df: DataFrame):
        assigned, headers = assign_chunks(df, self.chunker)
        sc = df.sparkSession.sparkContext
        # fitted loss models are small (ridge: coefficient vector; gbt: tens
        # of shallow trees) — broadcast the picklable objects themselves and
        # score through the uniform .predict() surface
        bc = sc.broadcast(dict(self._models))
        feature_cols = list(self.feature_column_names)
        y_pred = self.y_pred
        kinds = sorted({_LOSS_OF[m][0] for m in self.metrics})

        from pyspark.sql.functions import pandas_udf

        @pandas_udf("map<string,double>")
        def _pred_losses(*cols: pd.Series) -> pd.Series:
            # NULL FEATURES impute to 0 so a sparse column cannot poison the
            # chunk mean (ridge) or take arbitrary tree branches (gbt). Rows
            # with a NULL PREDICTION are filtered before this UDF: there is
            # no prediction whose loss could be estimated — 0-imputing yp
            # would fabricate a confident estimate at a (0, 0²) point the
            # loss model never trained on (fit dropna()s incomplete rows).
            mats = [np.nan_to_num(c.to_numpy(np.float64), nan=0.0) for c in cols]
            yp = mats[-1]
            X = np.column_stack(mats[:-1] + [yp, yp * yp])
            out = {kind: np.maximum(np.asarray(bc.value[kind].predict(X), dtype=np.float64), 0.0) for kind in kinds}
            return pd.Series([{k: float(out[k][i]) for k in kinds} for i in range(len(yp))])

        scored = assigned.filter(F.col(y_pred).isNotNull()).withColumn(
            "_losses",
            _pred_losses(*[F.col(c).cast("double") for c in feature_cols], F.col(y_pred).cast("double")),
        )
        aggs = [F.count(F.lit(1)).alias("n_chunk")]
        for m in self.metrics:
            kind, mode = _LOSS_OF[m]
            mean_loss = F.avg(F.element_at("_losses", kind))
            aggs.append((F.sqrt(mean_loss) if mode == "root_mean" else mean_loss).alias(m))
        wide = scored.groupBy(CHUNK_KEY).agg(*aggs)
        return _melt(wide, {m: F.col(m) for m in self.metrics}), headers

    def _finalize(self, long_df, headers, period):
        # no sampling error, so the confidence bounds are NULL
        return finalize(long_df, headers, period, self._thresholds, {}, False, self.y_pred)

    def estimate(self, df: DataFrame, period: str = "analysis") -> DataFrame:
        if not self._fitted:
            raise RuntimeError("fit first")
        long_df, headers = self._chunk_values(df)
        return self._finalize(long_df, headers, period)

    # runner-protocol alias: estimators "calculate" their estimate
    calculate = estimate

    # ---- JSON state for the FittedStore (loss models + thresholds;
    # reference_result is not persisted). lightgbm models are not
    # JSON-serializable — get_state refuses, so the runner falls back to
    # refitting instead of silently dropping the model.

    def get_state(self) -> dict:
        if not self._fitted:
            raise RuntimeError("fit first")
        if self.loss_model == "lightgbm":
            raise TypeError("lightgbm loss models have no JSON state; refit instead")
        return {
            "loss_model": self.loss_model,
            "models": {k: m.state() for k, m in self._models.items()},
            "thresholds": {m: [lo, up] for m, (lo, up) in self._thresholds.items()},
        }

    def set_state(self, st: dict) -> "DLE":
        self._models = {}
        for k, ms in st["models"].items():
            if ms.get("kind") == "gbt":
                self._models[k] = _GBTLossModel.from_state(ms)
            else:
                self._models[k] = _RidgeLossModel.from_state(ms)
        self._thresholds = {m: (v[0], v[1]) for m, v in st["thresholds"].items()}
        self._reference_result = None
        self._fitted = True
        return self

    @property
    def reference_result(self) -> DataFrame:
        return self._reference_result
