"""Multivariate drift (reference §2.6).

DataReconstructionDriftCalculator
(`nannyml/drift/multivariate/data_reconstruction/calculator.py:36-303`):
impute (mean / most-frequent) → count-encode categoricals (normalized
frequency) → standard-scale → PCA keeping components explaining ≥65%
variance → per-row L2 reconstruction error → per-chunk mean (value) and
std; SE = std/√n.

Spark-first fit: imputation/encoding/scaling statistics come from single
aggregation passes; the covariance matrix (k×k for k monitored features) is
computed with one sum-of-cross-products aggregation — no sample collection —
and eigendecomposed on the driver (k is tens, the matrix is tiny). sklearn's
PCA solves the same eigenproblem; our components span the same subspace, and
the reconstruction error ||(I − WᵀW)x|| is basis-invariant, so values match
the reference's up to numerical precision.

Per-row error is an Arrow-batched matmul UDF over the assembled scaled
vector (vectorized numpy; never per-row Python).

DomainClassifierCalculator
(`nannyml/drift/multivariate/domain_classifier/calculator.py:74-424`):
cross-validated AUROC of a classifier separating each chunk from a reference
sample. The reference uses LightGBM (unavailable here); we train an L2
logistic regression in numpy inside ``applyInPandas`` per chunk — same
discriminability semantics, different model class (documented deviation).
Default threshold ConstantThreshold(0.45, 0.65) as in the reference (:38-93).
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from typing import Dict, List, Optional, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spark_validate.calculators.base import assign_chunks, join_headers_long, presample_chunks
from spark_validate.chunking import CHUNK_KEY, Chunker, DefaultChunker
from spark_validate.functions.local import local_frame
from spark_validate.result import conform_result
from spark_validate.session import shuffle_partitions
from spark_validate.thresholds import ConstantThreshold, StandardDeviationThreshold, alert_expr, fit_thresholds

_NUMERIC_TYPES = ("int", "bigint", "smallint", "tinyint", "float", "double", "decimal", "long")


@dataclass
class DataReconstructionDriftCalculator:
    column_names: Sequence[str]
    chunker: Chunker = field(default_factory=DefaultChunker)
    threshold: object = field(default_factory=StandardDeviationThreshold)
    variance_fraction: float = 0.65
    # frequency-encoding cap: keep the max_categories most frequent values
    # (rarer ones encode to 0.0, like unseen) so a high-cardinality column
    # cannot blow up the driver; mirrors the univariate calculator's cap
    max_categories: int = 100_000

    def __post_init__(self):
        self._state: Optional[dict] = None

    def _split(self, df: DataFrame):
        dtypes = dict(df.dtypes)
        cont = [c for c in self.column_names if any(dtypes[c].startswith(t) for t in _NUMERIC_TYPES)]
        cat = [c for c in self.column_names if c not in cont]
        return cont, cat

    # ------------------------------------------------------------------ fit

    def fit(self, reference: DataFrame) -> "DataReconstructionDriftCalculator":
        from spark_validate.functions.fitcache import cached_for_fit, chunker_columns

        cols = list(self.column_names) + chunker_columns(self.chunker)
        with cached_for_fit(reference, columns=cols) as ref:
            return self._fit(ref)

    def _fit(self, reference: DataFrame) -> "DataReconstructionDriftCalculator":
        cont, cat = self._split(reference)
        # imputation + encoding statistics in one pass each; the total row
        # count rides the means aggregate so the threshold pass's chunk
        # assignment can skip its own count job (chunker_n_hint below)
        aggs = [F.count(F.lit(1)).alias("__rows_total")]
        aggs += [F.avg(F.col(c)).alias(f"{c}__mean") for c in cont]
        row = reference.agg(*aggs).first().asDict()
        n = row["__rows_total"]
        cont_means = {c: float(row[f"{c}__mean"]) for c in cont}
        cat_maps: Dict[str, Dict[str, float]] = {}
        cat_modes: Dict[str, str] = {}
        for c in cat:
            # per-column frequency map, capped at max_categories by count so
            # the driver collect is bounded no matter the column's cardinality
            counts_df = (
                reference.groupBy(F.col(c).cast("string").alias("v"))
                .count()
                .filter(F.col("v").isNotNull())
            )
            nn = counts_df.agg(F.sum("count")).first()[0] or 1
            top = counts_df.orderBy(F.desc("count"), F.asc("v")).limit(self.max_categories).collect()
            cat_maps[c] = {r["v"]: r["count"] / nn for r in top}
            cat_modes[c] = top[0]["v"] if top else ""
        enc = self._encoded(reference, cont, cat, cont_means, cat_maps, cat_modes, scale=False)
        # scaler stats over encoded features
        feat = [f"_f{i}" for i in range(len(self.column_names))]
        srow = enc.agg(
            *[F.avg(f).alias(f"{f}__m") for f in feat], *[F.stddev_pop(f).alias(f"{f}__s") for f in feat]
        ).first()
        means = np.array([srow[f"{f}__m"] for f in feat])
        stds = np.array([max(srow[f"{f}__s"] or 0.0, 1e-12) for f in feat])
        # covariance of the scaled features via one cross-product aggregation
        scaled = enc.select(
            *[((F.col(f) - F.lit(float(means[i]))) / F.lit(float(stds[i]))).alias(f) for i, f in enumerate(feat)]
        )
        k = len(feat)
        cross = scaled.agg(
            *[
                F.avg(F.col(feat[i]) * F.col(feat[j])).alias(f"c_{i}_{j}")
                for i in range(k)
                for j in range(i, k)
            ]
        ).first()
        cov = np.zeros((k, k))
        for i in range(k):
            for j in range(i, k):
                cov[i, j] = cov[j, i] = cross[f"c_{i}_{j}"]
        evals, evecs = np.linalg.eigh(cov)
        order = np.argsort(evals)[::-1]
        evals, evecs = evals[order], evecs[:, order]
        ratio = np.cumsum(evals) / evals.sum()
        m = int(np.searchsorted(ratio, self.variance_fraction) + 1)
        W = evecs[:, :m].T  # (m, k)
        self._state = {
            "cont": cont,
            "cat": cat,
            "cont_means": cont_means,
            "cat_maps": cat_maps,
            "cat_modes": cat_modes,
            "scale_mean": means.tolist(),
            "scale_std": stds.tolist(),
            "components": W.tolist(),
        }
        # reference per-chunk values → thresholds
        from spark_validate.calculators.base import chunker_n_hint

        with chunker_n_hint(self.chunker, n):
            ref_vals, headers = self._chunk_values(reference)
        ref_vals = ref_vals.persist()
        # fitted lower bounds clamp at 0 (errors are non-negative); an
        # explicit ConstantThreshold keeps whatever the caller asked for
        self._thr = fit_thresholds(
            ref_vals, [], self.threshold, limits=(0.0, None), clamp_constant=False
        )[()]
        self._reference_result = self._finalize(ref_vals, headers, "reference")
        ref_vals.unpersist()
        return self

    # chained-when is codegen-friendly for small maps; larger maps become a
    # broadcast frequency-map join (a 100k-deep when-chain would blow the
    # expression tree and the driver)
    _WHEN_CHAIN_MAX = 64

    def _encoded(self, df, cont, cat, cont_means, cat_maps, cat_modes, scale: bool):
        out = df
        cols = []
        for i, c in enumerate(self.column_names):
            if c in cont:
                e = F.coalesce(F.col(c).cast("double"), F.lit(cont_means[c]))
            else:
                v = F.coalesce(F.col(c).cast("string"), F.lit(cat_modes[c]))
                mapping = cat_maps[c]
                if len(mapping) <= self._WHEN_CHAIN_MAX:
                    e = F.lit(0.0)  # unseen category → 0 frequency
                    for val, freq in mapping.items():
                        e = F.when(v == val, F.lit(freq)).otherwise(e)
                else:
                    fdf = local_frame(
                        df.sparkSession,
                        [(k, float(f)) for k, f in mapping.items()],
                        f"_k{i} string, _fr{i} double",
                    )
                    out = out.withColumn(f"_v{i}", v).join(
                        F.broadcast(fdf), F.col(f"_v{i}") == F.col(f"_k{i}"), "left"
                    ).drop(f"_k{i}", f"_v{i}")
                    e = F.coalesce(F.col(f"_fr{i}"), F.lit(0.0))
            cols.append(e.alias(f"_f{i}"))
        sel = out.select("*", *cols)
        return sel.drop(*[f"_fr{i}" for i in range(len(self.column_names)) if f"_fr{i}" in sel.columns])

    # ------------------------------------------------------------------ calculate

    def _chunk_values(self, df: DataFrame):
        st = self._state
        assigned, headers = assign_chunks(df, self.chunker)
        enc = self._encoded(assigned, st["cont"], st["cat"], st["cont_means"], st["cat_maps"], st["cat_modes"], False)
        feat = [f"_f{i}" for i in range(len(self.column_names))]
        means = np.asarray(st["scale_mean"])
        stds = np.asarray(st["scale_std"])
        W = np.asarray(st["components"])
        P = np.eye(len(feat)) - W.T @ W  # residual projector, (k, k)
        bc = df.sparkSession.sparkContext.broadcast((means, stds, P))

        @F.pandas_udf("double")
        def _rcerr(*cols: pd.Series) -> pd.Series:
            m, s, proj = bc.value
            X = np.column_stack([c.to_numpy(dtype=np.float64) for c in cols])
            Xs = (X - m) / s
            R = Xs @ proj.T
            return pd.Series(np.sqrt((R * R).sum(axis=1)))

        per_row = enc.select(CHUNK_KEY, _rcerr(*[F.col(f) for f in feat]).alias("_err"))
        vals = per_row.groupBy(CHUNK_KEY).agg(
            F.avg("_err").alias("value"),
            F.stddev_samp("_err").alias("_std"),
            F.count(F.lit(1)).alias("_n"),
        ).select(
            CHUNK_KEY,
            F.lit("reconstruction_error").alias("method"),
            F.col("value").cast("double"),
            (F.col("_std") / F.sqrt(F.col("_n"))).cast("double").alias("sampling_error"),
        )
        return vals, headers

    def _finalize(self, vals, headers, period):
        lo, up = getattr(self, "_thr", (None, None))
        out = (
            vals.withColumn("lower_threshold", F.lit(lo).cast("double"))
            .withColumn("upper_threshold", F.lit(up).cast("double"))
            .withColumn("lower_confidence_boundary", F.greatest(F.col("value") - 3 * F.col("sampling_error"), F.lit(0.0)))
            .withColumn("upper_confidence_boundary", F.col("value") + 3 * F.col("sampling_error"))
            .withColumn("alert", alert_expr())
            .withColumn("column_name", F.lit("|".join(self.column_names)))
        )
        return conform_result(join_headers_long(out, headers, period))

    def calculate(self, df: DataFrame, period: str = "analysis") -> DataFrame:
        if self._state is None:
            raise RuntimeError("fit first")
        vals, headers = self._chunk_values(df)
        return self._finalize(vals, headers, period)

    def get_state(self) -> dict:
        if self._state is None:
            raise RuntimeError("not fitted")
        return {"state": self._state, "thr": list(getattr(self, "_thr", (None, None)))}

    def set_state(self, s: dict):
        self._state = s["state"]
        self._thr = tuple(s["thr"])
        self._reference_result = None
        return self

    @property
    def reference_result(self) -> DataFrame:
        return self._reference_result


def _logreg_cv_auc(X: np.ndarray, y: np.ndarray, folds: int = 5, seed: int = 16) -> float:
    """Stratified k-fold CV AUROC of an L2 logistic regression (numpy GD)."""
    rng = np.random.default_rng(seed)
    mu, sd = X.mean(axis=0), X.std(axis=0) + 1e-12
    X = (X - mu) / sd
    X = np.column_stack([np.ones(len(X)), X])
    idx_pos = rng.permutation(np.where(y == 1)[0])
    idx_neg = rng.permutation(np.where(y == 0)[0])
    scores = np.zeros(len(y))
    got = np.zeros(len(y), dtype=bool)
    for f in range(folds):
        test = np.concatenate([idx_pos[f::folds], idx_neg[f::folds]])
        train = np.setdiff1d(np.arange(len(y)), test)
        w = np.zeros(X.shape[1])
        Xt, yt = X[train], y[train]
        lr = 0.5
        for _ in range(200):
            p = 1 / (1 + np.exp(-Xt @ w))
            g = Xt.T @ (p - yt) / len(yt) + 1e-3 * w
            w -= lr * g
        scores[test] = X[test] @ w
        got[test] = True
    y, s = y[got], scores[got]
    order = np.argsort(s, kind="mergesort")
    ranks = np.empty(len(s))
    ss = s[order]
    i, r = 0, 1
    while i < len(s):
        j = i
        while j + 1 < len(s) and ss[j + 1] == ss[i]:
            j += 1
        ranks[order[i : j + 1]] = (2 * r + (j - i)) / 2
        r += j - i + 1
        i = j + 1
    n1 = y.sum()
    n0 = len(y) - n1
    if n1 == 0 or n0 == 0:
        return 0.5
    return float((ranks[y == 1].sum() - n1 * (n1 + 1) / 2) / (n1 * n0))


@dataclass
class DomainClassifierCalculator:
    """Per-chunk discriminator AUROC vs a broadcast reference sample."""

    column_names: Sequence[str]
    chunker: Chunker = field(default_factory=DefaultChunker)
    threshold: ConstantThreshold = field(default_factory=lambda: ConstantThreshold(0.45, 0.65))
    reference_sample: int = 10_000
    # sampling contract (SURVEY §7.3): each ANALYSIS chunk is hash-sampled to
    # ≤ ~chunk_sample rows BEFORE the chunk shuffle — per-chunk CV training
    # must never materialize an unbounded chunk in one Arrow worker. The
    # reference caps its train set the same way (len cap via
    # `drift/multivariate/domain_classifier/calculator.py` 10k default);
    # ours is deterministic (xxhash threshold), so results are a pure
    # function of the data at any cluster size.
    chunk_sample: int = 10_000
    cv_folds: int = 5
    # 'gbdt' (default): numpy histogram-GBDT — same model family as the
    # reference's LightGBM, catches nonlinear chunk-vs-reference drift.
    # 'logreg': linear discriminator (cheaper, round-1 behavior).
    model: str = "gbdt"

    def __post_init__(self):
        if self.model not in ("gbdt", "logreg"):
            raise ValueError(f"model must be gbdt|logreg, got {self.model!r}")
        self._ref_pdf: Optional[pd.DataFrame] = None

    def fit(self, reference: DataFrame) -> "DomainClassifierCalculator":
        n = reference.count()
        frac = min(1.0, self.reference_sample / max(n, 1))
        self._ref_pdf = (
            reference.select(*self.column_names).sample(fraction=frac, seed=16).toPandas()
        )
        # categorical → ordinal codes learned on reference (ordinal encode,
        # reference `domain_classifier/calculator.py:394-403`)
        self._cat_codes = {}
        for c in self.column_names:
            if self._ref_pdf[c].dtype == object:
                cats = sorted(self._ref_pdf[c].dropna().unique())
                self._cat_codes[c] = {v: i for i, v in enumerate(cats)}
        return self

    def _encode(self, pdf: pd.DataFrame) -> np.ndarray:
        cols = []
        for c in self.column_names:
            s = pdf[c]
            if c in self._cat_codes:
                codes = self._cat_codes[c]
                s = s.map(lambda v: codes.get(v, len(codes)))
            cols.append(pd.to_numeric(s, errors="coerce").fillna(0).to_numpy(dtype=np.float64))
        return np.column_stack(cols)

    def calculate(self, df: DataFrame, period: str = "analysis") -> DataFrame:
        if self._ref_pdf is None:
            raise RuntimeError("fit first")
        assigned, headers = assign_chunks(df, self.chunker)
        if self.chunk_sample:
            assigned = presample_chunks(assigned, headers, self.chunk_sample)
        ref_X = self._encode(self._ref_pdf)
        bc = df.sparkSession.sparkContext.broadcast(ref_X)
        cat_codes = self._cat_codes
        column_names = list(self.column_names)
        folds = self.cv_folds
        model = self.model

        def per_chunk(pdf: pd.DataFrame) -> pd.DataFrame:
            key = pdf[CHUNK_KEY].iloc[0]
            cols = []
            for c in column_names:
                s = pdf[c]
                if c in cat_codes:
                    codes = cat_codes[c]
                    s = s.map(lambda v: codes.get(v, len(codes)))
                cols.append(pd.to_numeric(s, errors="coerce").fillna(0).to_numpy(dtype=np.float64))
            X_chunk = np.column_stack(cols)
            X_ref = bc.value
            X = np.vstack([X_ref, X_chunk])
            y = np.r_[np.zeros(len(X_ref)), np.ones(len(X_chunk))]
            if len(np.unique(y)) < 2:
                auc = 0.5
            elif model == "gbdt":
                from spark_validate.functions.gbt import gbdt_cv_auc

                auc = gbdt_cv_auc(X, y, folds=folds)
            else:
                auc = _logreg_cv_auc(X, y, folds=folds)
            return pd.DataFrame({CHUNK_KEY: [key], "value": [auc]})

        # compute-dense Arrow stage: force one shuffle partition per chunk so
        # AQE's BYTE-based coalescing cannot serialize the per-chunk CV-GBDT
        # onto one task (the group payloads are a few MB but each costs ~1 s
        # of numpy; measured 29 s → ~5 s at 28 chunks on 32 cores)
        shuffle_default = shuffle_partitions(df.sparkSession)
        vals = (
            assigned.select(CHUNK_KEY, *column_names)
            .repartition(shuffle_default, CHUNK_KEY)
            .groupBy(CHUNK_KEY)
            .applyInPandas(per_chunk, f"{CHUNK_KEY} string, value double")
        )
        out = (
            vals.withColumn("method", F.lit("domain_classifier_auroc"))
            .withColumn("lower_threshold", F.lit(self.threshold.lower).cast("double"))
            .withColumn("upper_threshold", F.lit(self.threshold.upper).cast("double"))
            .withColumn("alert", alert_expr())
            .withColumn("column_name", F.lit("|".join(column_names)))
        )
        return conform_result(join_headers_long(out, headers, period))
