"""Column statistics + data-quality (missing values) calculators.

One engine class, :class:`ColumnStatsCalculator`, computes every requested
(column × metric) in a SINGLE ``groupBy(chunk_key)`` aggregation pass —
missing count/rate (`nannyml/data_quality/missing/calculator.py:28-243`),
avg/sum/std/median/min/max/count (`nannyml/stats/*/calculator.py`) — then
melts to the long result schema. Thin NannyML-parity wrappers pin each
reference calculator's defaults.

Sampling errors (per reference formulas):

* missing rate:  ``sqrt(p(1-p)) / sqrt(n)``; count: ``sqrt(p(1-p)) * sqrt(n)``
  with ``p`` the *reference* missing rate
  (`nannyml/sampling_error/summary_stats.py` analogues in
  `data_quality/missing/calculator.py:198-204`).
* avg: ``ref_std / sqrt(n)``; sum: ``ref_std * sqrt(n)``
  (`nannyml/stats/avg/calculator.py:118,186`, `stats/sum/calculator.py:117,185`).
* std: delta method from ``(ref_std, ref_mu4)``
  (`nannyml/sampling_error/summary_stats.py:16-66`).
* median: ``sqrt(1 / (4 n f(median)^2))`` with ``f`` a gaussian-KDE density
  fit on a (deterministic) reference sample
  (`nannyml/sampling_error/summary_stats.py:69-116`).

Confidence bounds are value ± 3·SE, clamped to metric limits
(`data_quality/missing/calculator.py:206-213`).
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from typing import Dict, List, Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spark_validate.calculators.base import nan_to_null
from spark_validate.chunking import CHUNK_INDEX, CHUNK_KEY, Chunker, DefaultChunker, chunk_aggregate
from spark_validate.functions.local import local_frame
from spark_validate.fused import calculate_alone
from spark_validate.result import conform_result
from spark_validate.thresholds import StandardDeviationThreshold, alert_expr, fit_thresholds

# metric → (value limits for threshold clamping, confidence-bound limits)
_METRIC_LIMITS = {
    "missing_rate": (0.0, 1.0),
    "missing_count": (0.0, None),
    "count": (0.0, None),
    "std": (0.0, None),
}

SUPPORTED_METRICS = ("missing_count", "missing_rate", "avg", "sum", "std", "median", "min", "max", "count")


@dataclass
class ColumnStatsCalculator:
    """Per-chunk column statistics with reference-fitted alert thresholds."""

    column_names: Sequence[str]
    metrics: Sequence[str] = ("avg",)
    chunker: Chunker = field(default_factory=DefaultChunker)
    threshold: object = field(default_factory=StandardDeviationThreshold)
    exact_median: bool = True  # False → percentile_approx (the 10^12-row path)
    median_kde_sample: int = 50_000

    def __post_init__(self):
        unknown = set(self.metrics) - set(SUPPORTED_METRICS)
        if unknown:
            raise ValueError(f"unsupported metrics: {sorted(unknown)}")
        self._fitted: Optional[Dict] = None

    # -- aggregation ---------------------------------------------------------

    def _needs(self, metric: str) -> bool:
        return metric in self.metrics

    def _agg_exprs(self, dtypes: Dict[str, str], prefix: str = "") -> List[F.Column]:
        exprs = []
        for c in self.column_names:
            v = nan_to_null(F.col(c), dtypes[c])
            if self._needs("missing_count") or self._needs("missing_rate"):
                exprs.append((F.count(F.lit(1)) - F.count(v)).cast("double").alias(f"{prefix}{c}__missing_count"))
            if self._needs("avg"):
                exprs.append(F.avg(v).alias(f"{prefix}{c}__avg"))
            if self._needs("sum"):
                exprs.append(F.sum(v).cast("double").alias(f"{prefix}{c}__sum"))
            if self._needs("std"):
                exprs.append(F.stddev_samp(v).alias(f"{prefix}{c}__std"))
            if self._needs("median"):
                if self.exact_median:
                    exprs.append(F.expr(f"percentile({c}, 0.5)").alias(f"{prefix}{c}__median"))
                else:
                    exprs.append(F.percentile_approx(v, 0.5, 100_000).cast("double").alias(f"{prefix}{c}__median"))
            if self._needs("min"):
                exprs.append(F.min(v).cast("double").alias(f"{prefix}{c}__min"))
            if self._needs("max"):
                exprs.append(F.max(v).cast("double").alias(f"{prefix}{c}__max"))
            if self._needs("count"):
                exprs.append(F.count(v).cast("double").alias(f"{prefix}{c}__count"))
        return exprs

    def _melt_wide(self, wide: DataFrame, prefix: str = "") -> DataFrame:
        """Per-chunk aggregate (chunk_aggregate: header cols ride along) →
        long form."""
        pairs = []
        for c in self.column_names:
            for m in self.metrics:
                if m == "missing_rate":
                    val = F.col(f"{prefix}{c}__missing_count") / F.col("n_rows")
                else:
                    val = F.col(f"{prefix}{c}__{m}")
                pairs.append(
                    F.struct(
                        F.lit(c).alias("column_name"),
                        F.lit(m).alias("method"),
                        val.cast("double").alias("value"),
                    )
                )
        hdr_cols = [CHUNK_INDEX, "start_index", "end_index", "start_ts", "end_ts"]
        return (
            wide.select(
                CHUNK_KEY, *hdr_cols, "n_rows",
                F.explode(F.array(*pairs)).alias("kv"),
            )
            .select(CHUNK_KEY, *hdr_cols, "n_rows", "kv.column_name", "kv.method", "kv.value")
        )

    def fuse_contrib(self, dtypes: Dict[str, str], prefix: str):
        """Suite-fusion hook: (agg expressions with prefixed aliases,
        finisher(wide, period) → result). The fused runner computes ONE
        groupBy(chunk) aggregation carrying every check's expressions — one
        scan and one shuffle of the fact table for the whole suite."""
        if self._fitted is None:
            raise RuntimeError("call fit(reference) before calculate()")
        exprs = self._agg_exprs(dtypes, prefix)

        def fin(wide: DataFrame, period: str) -> DataFrame:
            return self._finalize(self._melt_wide(wide, prefix), period)

        return exprs, fin

    # -- fit -----------------------------------------------------------------

    def _fit_components(self, reference: DataFrame) -> Dict:
        """Global reference aggregates needed by sampling-error formulas."""
        comp: Dict[str, Dict[str, float]] = {c: {} for c in self.column_names}
        dtypes = dict(reference.dtypes)
        need_std = any(m in self.metrics for m in ("avg", "sum", "std"))
        need_missing = any(m in self.metrics for m in ("missing_count", "missing_rate"))
        aggs = [F.count(F.lit(1)).alias("__rows")]
        for c in self.column_names:
            v = nan_to_null(F.col(c), dtypes[c])
            if need_std:
                aggs += [F.stddev_samp(v).alias(f"{c}__std"), F.avg(v).alias(f"{c}__mean")]
            if need_missing:
                aggs.append((F.count(F.lit(1)) - F.count(v)).cast("double").alias(f"{c}__nmiss"))
            if "median" in self.metrics:
                # ride the same pass — previously a separate percentile agg
                # plus a separate count() job (2 extra driver round-trips)
                aggs.append(F.expr(f"percentile({c}, 0.5)").alias(f"{c}__med"))
        row = reference.agg(*aggs).first().asDict()
        n_ref = row["__rows"]
        self._ref_rows_total = n_ref
        for c in self.column_names:
            if need_std:
                comp[c]["std"] = row.get(f"{c}__std")
                comp[c]["mean"] = row.get(f"{c}__mean")
            if need_missing:
                comp[c]["missing_rate_ref"] = (row.get(f"{c}__nmiss") or 0.0) / n_ref if n_ref else None
        if "std" in self.metrics:
            # second pass for the centered 4th moment (numerically safer than
            # expanding E[x^4] sums at web-scale magnitudes)
            m4_aggs = []
            for c in self.column_names:
                v = nan_to_null(F.col(c), dtypes[c])
                mean = comp[c].get("mean")
                if mean is not None:
                    m4_aggs.append(F.avg(F.pow(v - F.lit(float(mean)), 4)).alias(f"{c}__mu4"))
            if m4_aggs:
                m4row = reference.agg(*m4_aggs).first().asDict()
                for c in self.column_names:
                    comp[c]["mu4"] = m4row.get(f"{c}__mu4")
        if "median" in self.metrics:
            meds = {c: row.get(f"{c}__med") for c in self.column_names}
            comp_median = self._fit_median_components(reference, meds, n_ref)
            for c, (med, fmed) in comp_median.items():
                comp[c]["median"] = med
                comp[c]["fmedian"] = fmed
        return comp

    def _fit_median_components(self, reference: DataFrame, meds: Dict, n_ref: int) -> Dict[str, tuple]:
        """Gaussian-KDE density at the (already-aggregated) median, from a
        deterministic reference sample collected to the driver (the KDE
        itself is O(sample) and not distributable — nor does it need to be).
        The medians and row count ride the shared components aggregate."""
        from spark_validate.functions.mathstats import gaussian_kde_at

        out = {}
        frac = min(1.0, self.median_kde_sample / max(n_ref, 1))
        sample = reference.select(*self.column_names).sample(fraction=frac, seed=42).toPandas()
        for c in self.column_names:
            med = meds[c]
            fmed = None
            if med is not None:
                vals = sample[c].dropna().to_numpy()
                if len(vals) > 1:
                    fmed = float(gaussian_kde_at(vals, float(med))[0])
            out[c] = (float(med) if med is not None else None, fmed)
        return out

    def fit(self, reference: DataFrame) -> "ColumnStatsCalculator":
        from spark_validate.functions.fitcache import cached_for_fit, chunker_columns

        cols = list(self.column_names) + chunker_columns(self.chunker)
        with cached_for_fit(reference, columns=cols) as ref:
            return self._fit(ref)

    def _fit(self, reference: DataFrame) -> "ColumnStatsCalculator":
        from spark_validate.calculators.base import chunker_n_hint

        # components first: its aggregate counts the reference rows, which
        # the chunked threshold pass then reuses via the chunker hint (one
        # fewer count job per fit)
        components = self._fit_components(reference)
        with chunker_n_hint(self.chunker, getattr(self, "_ref_rows_total", None)):
            assigned = self.chunker.assign(reference)
        wide = chunk_aggregate(assigned, self.chunker, self._agg_exprs(dict(reference.dtypes)))
        ref_long = self._melt_wide(wide).persist()
        thresholds = fit_thresholds(
            ref_long, ["column_name", "method"], self.threshold, limits=_METRIC_LIMITS
        )
        self._fitted = {"thresholds": thresholds, "components": components}
        self._reference_result = self._finalize(ref_long, period="reference")
        ref_long.unpersist()
        return self

    # -- calculate -------------------------------------------------------------

    def _se_expr(self) -> F.Column:
        """Sampling-error column from broadcast components (joined in)."""
        n = F.col("n_rows").cast("double")
        m = F.col("method")
        p = F.col("_c_missing_rate_ref")
        std = F.col("_c_std")
        mu4 = F.col("_c_mu4")
        fmed = F.col("_c_fmedian")
        se_std_paren = mu4 - (n - 3) * F.pow(std, 4) / (n - 1)
        se_std = (
            F.when(se_std_paren >= 0, F.sqrt(se_std_paren / n) / (F.lit(2.0) * std))
            .otherwise(F.lit(None))
        )
        return (
            F.when(m == "missing_rate", F.sqrt(p * (1 - p)) / F.sqrt(n))
            .when(m == "missing_count", F.sqrt(p * (1 - p)) * F.sqrt(n))
            .when(m == "avg", std / F.sqrt(n))
            .when(m == "sum", std * F.sqrt(n))
            .when(m == "std", se_std)
            .when(m == "median", F.sqrt(F.lit(1.0) / (F.lit(4.0) * n * fmed * fmed)))
            .otherwise(F.lit(None))
            .cast("double")
        )

    def _finalize(self, long_df: DataFrame, period: str) -> DataFrame:
        if self._fitted is None:
            # during fit: thresholds not known yet for the reference result —
            # they get attached after fit_thresholds (reference rows
            # still receive thresholds in NannyML; we pass through here and
            # re-finalize below)
            thresholds = {}
            components = {}
        else:
            thresholds = self._fitted["thresholds"]
            components = self._fitted["components"]
        spark = long_df.sparkSession
        thr_rows = [(c, m, lo, up) for (c, m), (lo, up) in thresholds.items()]
        thr_df = local_frame(
            spark, thr_rows, "column_name string, method string, lower_threshold double, upper_threshold double"
        )
        comp_rows = [
            (
                c,
                d.get("missing_rate_ref"),
                d.get("std"),
                d.get("mu4"),
                d.get("fmedian"),
            )
            for c, d in components.items()
        ]
        comp_df = local_frame(
            spark,
            comp_rows,
            "column_name string, _c_missing_rate_ref double, _c_std double, _c_mu4 double, _c_fmedian double",
        )
        out = (
            long_df.join(F.broadcast(thr_df), ["column_name", "method"], "left")
            .join(F.broadcast(comp_df), ["column_name"], "left")
            .withColumn("sampling_error", self._se_expr())
        )
        lo_b = F.col("value") - F.lit(3.0) * F.col("sampling_error")
        up_b = F.col("value") + F.lit(3.0) * F.col("sampling_error")
        # clamp confidence bounds to metric limits (rates to [0,1], counts/std to >=0)
        lo_lim = (
            F.when(F.col("method").isin("missing_rate"), F.greatest(lo_b, F.lit(0.0)))
            .when(F.col("method").isin("missing_count", "count", "std"), F.greatest(lo_b, F.lit(0.0)))
            .otherwise(lo_b)
        )
        up_lim = F.when(F.col("method") == "missing_rate", F.least(up_b, F.lit(1.0))).otherwise(up_b)
        out = (
            out.withColumn("lower_confidence_boundary", lo_lim)
            .withColumn("upper_confidence_boundary", up_lim)
            .withColumn("alert", alert_expr())
            .drop("_c_missing_rate_ref", "_c_std", "_c_mu4", "_c_fmedian", "n_rows")
        )
        return conform_result(out.withColumn("period", F.lit(period)))

    def calculate(self, df: DataFrame, period: str = "analysis") -> DataFrame:
        return calculate_alone(self, df, period)

    @property
    def reference_result(self) -> DataFrame:
        """Per-chunk reference-period result (thresholds attached post-fit)."""
        if self._fitted is None:
            raise RuntimeError("not fitted")
        return self._reference_result

    # -- fitted-state (de)serialization (reference analog: the joblib store,
    # nannyml/io/store/file_store.py:16-139 — ours is plain JSON) -------------

    def get_state(self) -> dict:
        if self._fitted is None:
            raise RuntimeError("not fitted")
        return {
            "thresholds": [
                {"column_name": c, "method": m, "lower": lo, "upper": up}
                for (c, m), (lo, up) in self._fitted["thresholds"].items()
            ],
            "components": self._fitted["components"],
        }

    def set_state(self, state: dict) -> "ColumnStatsCalculator":
        self._fitted = {
            "thresholds": {
                (t["column_name"], t["method"]): (t["lower"], t["upper"]) for t in state["thresholds"]
            },
            "components": state["components"],
        }
        self._reference_result = None
        return self


# -- NannyML-parity wrappers -------------------------------------------------


def MissingValuesCalculator(column_names, normalize: bool = True, chunker=None, threshold=None):
    """`nannyml/data_quality/missing/calculator.py:28` — missing count or rate."""
    return ColumnStatsCalculator(
        column_names=column_names,
        metrics=("missing_rate",) if normalize else ("missing_count",),
        chunker=chunker or DefaultChunker(),
        threshold=threshold or StandardDeviationThreshold(),
    )


def SummaryStatsAvgCalculator(column_names, chunker=None, threshold=None):
    """`nannyml/stats/avg/calculator.py:22`."""
    return ColumnStatsCalculator(
        column_names=column_names,
        metrics=("avg",),
        chunker=chunker or DefaultChunker(),
        threshold=threshold or StandardDeviationThreshold(),
    )


def SummaryStatsSumCalculator(column_names, chunker=None, threshold=None):
    """`nannyml/stats/sum/calculator.py`."""
    return ColumnStatsCalculator(
        column_names=column_names,
        metrics=("sum",),
        chunker=chunker or DefaultChunker(),
        threshold=threshold or StandardDeviationThreshold(),
    )


def SummaryStatsStdCalculator(column_names, chunker=None, threshold=None):
    """`nannyml/stats/std/calculator.py`."""
    return ColumnStatsCalculator(
        column_names=column_names,
        metrics=("std",),
        chunker=chunker or DefaultChunker(),
        threshold=threshold or StandardDeviationThreshold(),
    )


def SummaryStatsMedianCalculator(column_names, chunker=None, threshold=None, exact: bool = True):
    """`nannyml/stats/median/calculator.py` (exact=False → percentile_approx)."""
    return ColumnStatsCalculator(
        column_names=column_names,
        metrics=("median",),
        chunker=chunker or DefaultChunker(),
        threshold=threshold or StandardDeviationThreshold(),
        exact_median=exact,
    )


def SummaryStatsRowCountCalculator(chunker=None, threshold=None, count_column: Optional[str] = None):
    """`nannyml/stats/count/calculator.py:77` — rows per chunk (NaN rows count)."""

    class _RowCount(ColumnStatsCalculator):
        # the count reads no column: no per-column components to fit
        def _fit_components(self, reference: DataFrame) -> Dict:
            return {c: {} for c in self.column_names}

        def _agg_exprs(self, dtypes, prefix: str = ""):
            return [F.count(F.lit(1)).cast("double").alias(f"{prefix}{c}__count") for c in self.column_names]

    return _RowCount(
        column_names=[count_column or "__table__"],
        metrics=("count",),
        chunker=chunker or DefaultChunker(),
        threshold=threshold or StandardDeviationThreshold(),
    )
