"""Univariate distribution-drift calculator.

Re-expresses the reference's drift methods
(`nannyml/drift/univariate/methods.py:249-814`) as histogram/count
aggregations:

* fit on the FULL reference column → fixed equal-width bin state
  (continuous) or category probabilities (categorical), kept small and
  broadcast;
* calculate = ONE exploded ``groupBy(chunk, column, spec, bucket)`` count
  shuffle for all continuous columns, ONE for all categorical columns —
  method formulas are then plain aggregations over the (tiny) histogram
  tables. Adding methods/columns does not add shuffles.

Method semantics matched:

* ``jensen_shannon`` cont./cat. — Doane-rule bins / reference categories,
  leftover-mass bin for data outside reference support, JS distance base 2
  (`methods.py:249-364`). All numpy string bin rules produce EQUAL-WIDTH
  bins, so Doane reduces to (lo, hi, n_bins) with
  ``n = ceil(1 + log2(n) + log2(1 + |g1|/σ_g1))`` — computable from one
  count/min/max/skewness aggregate.
* ``kolmogorov_smirnov`` — the reference's ≥10k-row binned-ECDF sketch
  (`methods.py:411-446`): 10k equal-width bins over reference [min, max],
  ``D = max|ref_cdf − (below_mass + cum(chunk_freq))|``. The sketch is the
  default here (it IS the scalable formulation); exact ks is available for
  small data via ``computation='exact'``.
* ``chi2`` — contingency of reference counts vs chunk counts over the
  category union; alert on ``p < 0.05`` (`methods.py:449-538`); p-value via
  the regularized upper incomplete gamma of commons-math3, called through
  ``reflect`` (``chi2_p_value``).
* ``l_infinity`` — max |p_ref − p_chunk| over the category union
  (`methods.py:541-585`).
* ``wasserstein`` — binned CDF-difference integral + out-of-range ECDF
  correction terms (`methods.py:588-703`).
* ``hellinger`` cont./cat. (`methods.py:706-814`).
* ``psi`` — NOT in the reference (registry `methods.py:195-198`); added per
  the north rule with the same fixed-bin plumbing: Σ(q−p)·ln(q/p) with
  ε-clipped probabilities.
* ``kl`` — forward Kullback–Leibler divergence KL(analysis‖reference)
  = Σ q·ln(q/p), ε-clipped like PSI (PSI is exactly the symmetrized sum
  KL(q‖p) + KL(p‖q)); rides the same Doane-bin / category exchange as
  JS/Hellinger/TVD, the unseen-mass lump scores q_l·ln(q_l/ε). NOT in the
  reference — Evidently-parity method for directional drift attribution.

JS, Hellinger, PSI, TVD and KL are written once, in the divergence kernel
below (``bin_terms`` → per-bin summands, ``divergences`` → method values,
leftover lump included). This calculator, the streaming compilation
(`streaming/drift.py`) and the joint, rolling, embedding-norm and pHash
histogram checks all build their values from it.

Thresholds: per reference semantics, each method is re-computed on every
reference chunk and thresholds are mean ± 3σ of those values, upper-only by
default (`nannyml/drift/univariate/calculator.py:48-55`,
`methods.py:87-121`); chi2 ignores value thresholds and alerts on p-value.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from typing import Dict, List, Optional, Sequence, Tuple

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from spark_validate.calculators.base import assign_chunks, join_headers_long, nan_to_null
from spark_validate.chunking import CHUNK_KEY, Chunker, DefaultChunker
from spark_validate.functions.local import local_frame
from spark_validate.result import conform_result
from spark_validate.session import shuffle_partitions
from spark_validate.thresholds import (
    ConstantThreshold,
    StandardDeviationThreshold,
    alert_expr,
    fit_thresholds,
)

CONTINUOUS_METHODS = (
    "jensen_shannon", "kolmogorov_smirnov", "wasserstein", "hellinger",
    "psi", "tvd", "kl", "cramer_von_mises",
)
CATEGORICAL_METHODS = ("jensen_shannon", "chi2", "l_infinity", "hellinger", "psi", "tvd", "kl")

_NUMERIC_TYPES = ("int", "bigint", "smallint", "tinyint", "float", "double", "decimal", "long")

# method → (lower_limit, upper_limit) for threshold clamping
_LIMITS = {
    "jensen_shannon": (0.0, None),
    "kolmogorov_smirnov": (0.0, 1.0),
    "wasserstein": (0.0, None),
    "hellinger": (0.0, None),
    "l_infinity": (0.0, None),
    "psi": (0.0, None),
    "tvd": (0.0, 1.0),
    "kl": (0.0, None),
    "cramer_von_mises": (0.0, 1.0),
}


def doane_bin_count(n: int, g1: float) -> int:
    """Doane's rule bin count (numpy `_hist_bin_doane` re-derived from the
    published formula): ceil(1 + log2(n) + log2(1 + |g1|/σ_g1))."""
    if n <= 2 or not np.isfinite(g1):
        return 1
    sg1 = math.sqrt(6.0 * (n - 2) / ((n + 1.0) * (n + 3.0)))
    width_count = 1.0 + math.log2(n) + math.log2(1.0 + abs(g1) / sg1)
    return max(int(math.ceil(width_count)), 1)


def bucket_expr(col: F.Column, lo: float, hi: float, n: int) -> F.Column:
    """Equal-width bucket index matching np.histogram: [lo, hi] inclusive,
    last bin right-closed; below → -1, above → n (out-of-range markers)."""
    width = hi - lo
    scaled = (col - F.lit(lo)) / F.lit(width) * F.lit(n)
    return (
        F.when(col < F.lit(lo), F.lit(-1))
        .when(col > F.lit(hi), F.lit(n))
        .when(col == F.lit(hi), F.lit(n - 1))
        .otherwise(F.least(F.floor(scaled), F.lit(n - 1)))
        .cast("int")
    )


# -- divergence kernel ----------------------------------------------------------
#
# JS, Hellinger, TVD, KL and PSI between a reference histogram p and an
# analysis histogram q, written once for every histogram drift check. A site
# supplies its own q (and its own empty-chunk guard and melt) and sums the
# per-bin terms its own way: long-form sites (one row per bin) with F.sum,
# wide-form sites (one count column per bin) with ``sum_bins``.

DIVERGENCE_METHODS = ("jensen_shannon", "hellinger", "psi", "tvd", "kl")
# the continuous ones that share the Doane bins (psi has its own bin count)
DOANE_METHODS = ("jensen_shannon", "hellinger", "tvd", "kl")

_BIN_TERMS = {  # method → the per-bin summands it reads
    "jensen_shannon": ("js_p", "js_q"),
    "hellinger": ("hel_sq",),
    "psi": ("psi",),
    "tvd": ("tvd_abs",),
    "kl": ("kl",),
}


def bin_terms(p, q: Column, eps: Optional[float], methods=DIVERGENCE_METHODS) -> Dict[str, Optional[Column]]:
    """Per-bin summands of ``methods``: the two halves of the base-2 JS
    divergence, (√p − √q)², |p − q|, and the ε-clipped KL q′·ln(q′/p′) and
    PSI (q′ − p′)·ln(q′/p′). ``q`` is a Column; ``p`` is a Column or a
    fitted Python float. A float ``p == 0`` yields ``js_p`` None, so an empty
    reference bin adds no expression to the plan; a Column ``p`` guards
    ``p > 0`` per row instead. ``eps`` is the PSI/KL floor."""
    const = not isinstance(p, Column)
    pl = F.lit(float(p)) if const else p
    wanted = {t for m in methods for t in _BIN_TERMS[m]}
    terms: Dict[str, Optional[Column]] = {}
    if "js_p" in wanted:
        js_p = pl * F.log2(F.lit(2.0) * pl / (pl + q))
        if not const:
            terms["js_p"] = F.when(p > 0, js_p).otherwise(F.lit(0.0))
        else:
            terms["js_p"] = js_p if p > 0 else None
        terms["js_q"] = F.when(q > 0, q * F.log2(F.lit(2.0) * q / (pl + q))).otherwise(F.lit(0.0))
    if "hel_sq" in wanted:
        terms["hel_sq"] = F.pow(F.sqrt(pl) - F.sqrt(q), 2)
    if "tvd_abs" in wanted:
        terms["tvd_abs"] = F.abs(pl - q)
    if wanted & {"psi", "kl"}:
        pc, qc = F.greatest(pl, F.lit(eps)), F.greatest(q, F.lit(eps))
        if "kl" in wanted:
            terms["kl"] = qc * F.log(qc / pc)
        if "psi" in wanted:
            terms["psi"] = (qc - pc) * F.log(qc / pc)
    return terms


def sum_bins(per_bin: Sequence[Dict[str, Optional[Column]]]) -> Dict[str, Column]:
    """Bin-ordered sum of ``bin_terms`` for wide-form sites; None terms are
    skipped."""
    sums: Dict[str, Column] = {}
    for terms in per_bin:
        for key, t in terms.items():
            if t is not None:
                sums[key] = sums[key] + t if key in sums else t
    return sums


def divergences(methods, sums: Dict[str, Column], leftover: Optional[Column], eps: Optional[float]) -> Dict[str, Column]:
    """method → value Column from the summed ``bin_terms``, in
    ``DIVERGENCE_METHODS`` order. A summand no bin contributed (no bins, or
    a constant p == 0 in every bin) is the empty sum 0.0. ``leftover`` is
    the analysis mass outside the reference bins or categories (clamped at
    0 against float residue), scored as one more bin with p = 0: its JS term
    q·log2(2q/q), its Hellinger term (√0 − √q)² and its TVD term |0 − q| are
    q itself, and KL and PSI score it against p′ = ε. Sites without a lump
    pass None."""
    lump = None if leftover is None else F.greatest(leftover, F.lit(0.0))

    def total(key: str) -> Column:
        return sums.get(key, F.lit(0.0))

    out: Dict[str, Column] = {}
    for m in DIVERGENCE_METHODS:
        if m not in methods:
            continue
        if m == "jensen_shannon":
            div = F.lit(0.5) * (total("js_p") + total("js_q"))
            if lump is not None:
                div = div + F.lit(0.5) * lump
            out[m] = F.sqrt(F.greatest(div, F.lit(0.0)))
        elif m == "hellinger":
            hel = total("hel_sq") if lump is None else total("hel_sq") + lump
            out[m] = F.sqrt(hel / F.lit(2.0))
        elif m == "tvd":
            tvd = total("tvd_abs") if lump is None else total("tvd_abs") + lump
            out[m] = F.lit(0.5) * tvd
        else:
            out[m] = total(m) if lump is None else total(m) + bin_terms(0.0, lump, eps, (m,))[m]
    return out


def chi2_p_value(stat: Column, dof: Column) -> Column:
    """Chi-squared survival function P(X > stat) = Q(dof/2, stat/2), the
    regularized upper incomplete gamma of the commons-math3 jar Spark ships,
    called through ``reflect`` (no Python worker); NaN where the statistic
    is NULL or dof < 1. ``functions.mathstats.chi2_sf`` is its reference."""
    q = F.reflect(
        F.lit("org.apache.commons.math3.special.Gamma"),
        F.lit("regularizedGammaQ"),
        dof.cast("double") / F.lit(2.0),
        stat.cast("double") / F.lit(2.0),
    ).cast("double")
    return F.when(stat.isNotNull() & (dof >= 1), q).otherwise(F.lit(float("nan")))


def categorical_counts(df: DataFrame, cols, dtypes, chunked: bool = False) -> DataFrame:
    """One map-side-combined (chunk?, column, value) → cnt pass for all
    columns (NaN→NULL, NULLs dropped). Shared by the univariate categorical
    methods and the category-shift attribution calculator."""
    structs = []
    for c in cols:
        v = nan_to_null(F.col(c), dtypes[c]).cast("string")
        structs.append(F.struct(F.lit(c).alias("column_name"), v.alias("value")))
    keys = [CHUNK_KEY] if chunked else []
    exploded = (
        df.select(*keys, F.explode(F.array(*structs)).alias("kv"))
        .select(*keys, "kv.column_name", "kv.value")
        .filter(F.col("value").isNotNull())
    )
    return exploded.groupBy(*keys, "column_name", "value").agg(F.count(F.lit(1)).alias("cnt"))


def bounded_topk_category_counts(counts: DataFrame, cols, max_categories: int):
    """(totals, per_col) from an unchunked counts frame, with the driver
    collect bounded BEFORE it happens: top-``max_categories`` per column via
    a Spark-side ``row_number`` window (deterministic tie-break cnt DESC,
    value ASC); totals come from a one-row-per-column aggregate so tail
    (leftover) mass stays exact for any cardinality."""
    agg = counts.groupBy("column_name", "value").agg(F.sum("cnt").alias("cnt")).persist()
    try:
        # ONE collect for both outputs: the per-column totals ride along as
        # marker rows (value NULL — categorical_counts drops NULL values, so
        # the marker cannot collide with a real category). Both subtrees
        # read the persisted aggregate; merging halves the fit's driver
        # round-trips (each collect is a full plan+job at bench scale).
        w = Window.partitionBy("column_name").orderBy(F.desc("cnt"), F.asc("value"))
        ranked = (
            agg.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") <= max_categories)
            .select("column_name", "value", "cnt")
        )
        tot = agg.groupBy("column_name").agg(F.sum("cnt").alias("cnt")).select(
            "column_name", F.lit(None).cast("string").alias("value"), "cnt"
        )
        rows = ranked.unionByName(tot).collect()
    finally:
        agg.unpersist()
    totals = {}
    per_col = {c: {} for c in cols}
    for r in rows:
        if r["value"] is None:
            totals[r["column_name"]] = r["cnt"]
        else:
            per_col[r["column_name"]][r["value"]] = r["cnt"]
    return totals, per_col


@dataclass
class ContinuousState:
    lo: float
    hi: float
    n_ref: int
    # spec name → (n_bins, ref_probs list); cdf derived
    specs: Dict[str, Tuple[int, List[float]]] = field(default_factory=dict)


@dataclass
class CategoricalState:
    n_ref: int
    counts: Dict[str, int] = field(default_factory=dict)

    @property
    def probs(self) -> Dict[str, float]:
        return {k: v / self.n_ref for k, v in self.counts.items()}


class UnivariateDriftCalculator:
    """fit(reference) → calculate(analysis) → long result DataFrame."""

    def __init__(
        self,
        column_names: Sequence[str],
        continuous_methods: Sequence[str] = ("jensen_shannon",),
        categorical_methods: Sequence[str] = ("jensen_shannon",),
        chunker: Optional[Chunker] = None,
        threshold=None,
        treat_as_categorical: Sequence[str] = (),
        treat_as_numerical: Sequence[str] = (),
        n_bins_ecdf: int = 10_000,
        n_bins_doane: Optional[int] = None,  # override Doane's rule with a fixed bin count
        computation: str = "auto",  # auto | exact | estimated (KS/Wasserstein; methods.py:405-424)
        psi_n_bins: int = 10,
        psi_eps: float = 1e-4,
        max_categories: int = 100_000,
    ):
        bad = set(continuous_methods) - set(CONTINUOUS_METHODS)
        if bad:
            raise ValueError(f"unknown continuous methods {sorted(bad)}")
        bad = set(categorical_methods) - set(CATEGORICAL_METHODS)
        if bad:
            raise ValueError(f"unknown categorical methods {sorted(bad)}")
        self.column_names = list(column_names)
        self.continuous_methods = tuple(continuous_methods)
        self.categorical_methods = tuple(categorical_methods)
        self.chunker = chunker or DefaultChunker()
        # reference default: upper-only 3σ (calculator.py:48-55). Also accepts
        # a {method: Threshold} dict for per-method overrides
        # (calculator.py:116-128); chi2 overrides are ignored with a warning
        # (calculator.py:176-181 — its alert is the p-value).
        self._default_threshold = StandardDeviationThreshold(std_lower_multiplier=None)
        if isinstance(threshold, dict):
            if "chi2" in threshold:
                import logging

                logging.getLogger(__name__).warning(
                    "ignoring custom threshold for 'chi2' as it does not support "
                    "custom thresholds for now."
                )
                threshold = {k: v for k, v in threshold.items() if k != "chi2"}
            bad = set(threshold) - set(CONTINUOUS_METHODS) - set(CATEGORICAL_METHODS)
            if bad:
                raise ValueError(f"custom thresholds for unknown methods {sorted(bad)}")
        self.threshold = threshold if threshold is not None else self._default_threshold
        self.treat_as_categorical = set(treat_as_categorical)
        self.treat_as_numerical = set(treat_as_numerical)
        if computation not in ("auto", "exact", "estimated"):
            raise ValueError(f"computation must be auto|exact|estimated, got {computation!r}")
        self.n_bins_ecdf = n_bins_ecdf
        self.n_bins_doane = n_bins_doane
        self.computation = computation
        self.psi_n_bins = psi_n_bins
        self._exact_ref: Dict[str, list] = {}  # raw reference values (exact path only)
        self.psi_eps = psi_eps
        self.max_categories = max_categories
        self._cont_state: Dict[str, ContinuousState] = {}
        self._cat_state: Dict[str, CategoricalState] = {}
        self._thresholds: Dict[Tuple[str, str], Tuple[Optional[float], Optional[float]]] = {}
        self._fitted = False
        self._live_caches: List[DataFrame] = []

    # -- cache management --------------------------------------------------------
    #
    # The per-chunk histogram / category-count aggregates are shared by every
    # method branch of one calculate() call. Catalyst cannot reuse the exchange
    # (per-branch filters push below the aggregation, so the exchange subtrees
    # differ), and without sharing each branch re-scans the input — measured
    # 2.2× slower at sf0.1, catastrophic at 100 TB. So the small aggregated
    # state is persisted, tracked, and released: the next calculate() (or an
    # explicit release_cache()) unpersists the previous call's entries, keeping
    # at most one live cache set per calculator instead of leaking per call.

    def _persist(self, df: DataFrame) -> DataFrame:
        df = df.persist()
        self._live_caches.append(df)
        return df

    def release_cache(self) -> None:
        """Unpersist cached intermediates from the last calculate() call."""
        for df in self._live_caches:
            df.unpersist(blocking=False)
        self._live_caches.clear()

    # -- column kinds ----------------------------------------------------------

    def _split_kinds(self, df: DataFrame) -> Tuple[List[str], List[str]]:
        dtypes = dict(df.dtypes)
        missing = [c for c in self.column_names if c not in dtypes]
        if missing:
            raise ValueError(f"columns not in DataFrame: {missing}")
        cont, cat = [], []
        for c in self.column_names:
            if c in self.treat_as_categorical:
                cat.append(c)
            elif c in self.treat_as_numerical:
                cont.append(c)
            elif any(dtypes[c].startswith(t) for t in _NUMERIC_TYPES):
                cont.append(c)
            else:
                cat.append(c)
        return cont, cat

    def _cont_specs_needed(self) -> List[str]:
        specs = []
        if set(DOANE_METHODS) & set(self.continuous_methods):
            specs.append("doane")
        if {"kolmogorov_smirnov", "wasserstein", "cramer_von_mises"} & set(self.continuous_methods):
            specs.append("ecdf")
        if "psi" in self.continuous_methods:
            specs.append("psi")
        return specs

    # -- fit -------------------------------------------------------------------

    def fit(self, reference: DataFrame) -> "UnivariateDriftCalculator":
        from spark_validate.functions.fitcache import cached_for_fit, chunker_columns

        cols = list(self.column_names) + chunker_columns(self.chunker)
        with cached_for_fit(reference, columns=cols) as ref:
            return self._fit(ref)

    def _fit(self, reference: DataFrame) -> "UnivariateDriftCalculator":
        cont, cat = self._split_kinds(reference)
        self._cont_cols, self._cat_cols = cont, cat
        dtypes = dict(reference.dtypes)
        if cont:
            self._fit_continuous(reference, cont, dtypes)
        if cat:
            self._fit_categorical(reference, cat, dtypes)
        self._fitted = True
        # thresholds from per-reference-chunk method values (methods.py:103-119);
        # the continuous moments pass already counted the reference rows —
        # hint the chunker so assign() skips a duplicate count job
        from spark_validate.calculators.base import chunker_n_hint

        with chunker_n_hint(self.chunker, getattr(self, "_ref_rows_total", None)):
            ref_result = self._calculate(reference, period="reference", with_thresholds=False)
        # chi2 alerts on its p-value, so it gets no band
        by_method = self.threshold if isinstance(self.threshold, dict) else {}
        default = self._default_threshold if isinstance(self.threshold, dict) else self.threshold
        self._thresholds.update(
            fit_thresholds(
                ref_result, ["column_name", "method"], {**by_method, "chi2": ConstantThreshold()},
                limits=_LIMITS, default=default,
            )
        )
        self._reference_result = self._attach_thresholds(ref_result)
        return self

    def _fit_continuous(self, reference: DataFrame, cols: List[str], dtypes) -> None:
        # total row count rides along so the threshold pass's chunk
        # assignment can skip its own count job (chunker_n_hint below)
        aggs = [F.count(F.lit(1)).alias("__rows_total")]
        for c in cols:
            v = nan_to_null(F.col(c), dtypes[c]).cast("double")
            aggs += [
                F.count(v).alias(f"{c}__n"),
                F.min(v).alias(f"{c}__lo"),
                F.max(v).alias(f"{c}__hi"),
                F.skewness(v).alias(f"{c}__g1"),
            ]
        row = reference.agg(*aggs).first().asDict()
        self._ref_rows_total = row["__rows_total"]
        specs_needed = self._cont_specs_needed()
        for c in cols:
            n, lo, hi, g1 = (row[f"{c}__n"], row[f"{c}__lo"], row[f"{c}__hi"], row[f"{c}__g1"])
            if n == 0 or lo is None:
                raise ValueError(f"reference column {c!r} has no non-null values")
            lo, hi = float(lo), float(hi)
            if lo == hi:  # np.histogram widens degenerate ranges by ±0.5
                lo, hi = lo - 0.5, hi + 0.5
            st = ContinuousState(lo=lo, hi=hi, n_ref=int(n))
            for spec in specs_needed:
                if spec == "doane":
                    nb = self.n_bins_doane or doane_bin_count(int(n), g1 if g1 is not None else 0.0)
                    st.specs[spec] = (nb, [])
                elif spec == "ecdf":
                    st.specs[spec] = (self.n_bins_ecdf, [])
                else:
                    st.specs[spec] = (self.psi_n_bins, [])
            self._cont_state[c] = st
        # exact KS/Wasserstein path (methods.py:411-424): reference < 10k rows
        # under 'auto', or forced — store the raw reference column (small by
        # construction; hard cap guards against misuse at scale)
        if {"kolmogorov_smirnov", "wasserstein", "cramer_von_mises"} & set(self.continuous_methods):
            for c in cols:
                st = self._cont_state[c]
                if self.computation == "exact" or (self.computation == "auto" and st.n_ref < 10_000):
                    if st.n_ref > 1_000_000:
                        raise ValueError(
                            f"exact KS/Wasserstein on {c!r} needs the raw reference column "
                            f"({st.n_ref} rows) on the driver — use computation='estimated'"
                        )
                    vals = (
                        reference.select(nan_to_null(F.col(c), dtypes[c]).cast("double").alias("v"))
                        .filter(F.col("v").isNotNull())
                        .toPandas()["v"]
                        .to_numpy()
                    )
                    self._exact_ref[c] = vals.tolist()
        # one exploded histogram pass for all (column, spec) pairs
        hist = self._continuous_histogram(reference, cols, dtypes)
        counts = hist.groupBy("column_name", "spec", "bucket").agg(F.sum("cnt").alias("cnt")).collect()
        by_key: Dict[Tuple[str, str], Dict[int, int]] = {}
        for r in counts:
            by_key.setdefault((r["column_name"], r["spec"]), {})[r["bucket"]] = r["cnt"]
        for c in cols:
            st = self._cont_state[c]
            for spec, (n_bins, _) in st.specs.items():
                cmap = by_key.get((c, spec), {})
                probs = [cmap.get(b, 0) / st.n_ref for b in range(n_bins)]
                st.specs[spec] = (n_bins, probs)

    def _fit_categorical(self, reference: DataFrame, cols: List[str], dtypes) -> None:
        # Driver safety at scale: the collect is bounded BEFORE it happens
        # (see bounded_topk_category_counts) — a high-cardinality column
        # misconfigured as categorical collects ≤ max_categories rows per
        # column instead of the full distinct set.
        totals, per_col = bounded_topk_category_counts(
            categorical_counts(reference, cols, dtypes), cols, self.max_categories
        )
        for c in cols:
            self._cat_state[c] = CategoricalState(n_ref=totals.get(c, 0), counts=per_col[c])

    # -- shared exploded count passes -------------------------------------------

    def _continuous_histogram(self, df: DataFrame, cols: List[str], dtypes, chunked: bool = False) -> DataFrame:
        """(chunk_key?, column_name, spec, bucket) → cnt. One shuffle for all
        columns × specs; null values dropped (NaN-removal semantics)."""
        structs = []
        for c in cols:
            st = self._cont_state[c]
            v = nan_to_null(F.col(c), dtypes[c]).cast("double")
            for spec, (n_bins, _probs) in st.specs.items():
                structs.append(
                    F.struct(
                        F.lit(c).alias("column_name"),
                        F.lit(spec).alias("spec"),
                        F.when(v.isNull(), F.lit(None)).otherwise(
                            bucket_expr(v, st.lo, st.hi, n_bins)
                        ).alias("bucket"),
                    )
                )
        keys = [CHUNK_KEY] if chunked else []
        exploded = (
            df.select(*keys, F.explode(F.array(*structs)).alias("kv"))
            .select(*keys, "kv.column_name", "kv.spec", "kv.bucket")
            .filter(F.col("bucket").isNotNull())
        )
        return exploded.groupBy(*keys, "column_name", "spec", "bucket").agg(F.count(F.lit(1)).alias("cnt"))

    # -- calculate ---------------------------------------------------------------

    def calculate(self, df: DataFrame, period: str = "analysis") -> DataFrame:
        if not self._fitted:
            raise RuntimeError("call fit(reference) before calculate()")
        return self._attach_thresholds(self._calculate(df, period, with_thresholds=False))

    def _attach_thresholds(self, result: DataFrame) -> DataFrame:
        spark = result.sparkSession
        rows = [(c, m, lo, up) for (c, m), (lo, up) in self._thresholds.items()]
        if not rows:
            out = result.withColumn("lower_threshold", F.lit(None).cast("double")).withColumn(
                "upper_threshold", F.lit(None).cast("double")
            )
        else:
            thr = local_frame(
                spark,
                rows, "column_name string, method string, lower_threshold double, upper_threshold double"
            )
            out = result.join(F.broadcast(thr), ["column_name", "method"], "left")
        # chi2 alerts on p-value (methods.py:517-528); everything else on bounds
        alert = F.when(
            F.col("method") == "chi2",
            F.coalesce(F.col("p_value") < F.lit(0.05), F.lit(False)),
        ).otherwise(alert_expr())
        return conform_result(out.withColumn("alert", alert))

    def _calculate(self, df: DataFrame, period: str, with_thresholds: bool) -> DataFrame:
        self.release_cache()  # free the previous call's cached aggregates
        assigned, headers = assign_chunks(df, self.chunker)
        dtypes = dict(df.dtypes)
        parts: List[DataFrame] = []
        if self._cont_cols:
            parts.extend(self._calc_continuous(assigned, dtypes))
        if self._cat_cols:
            parts.extend(self._calc_categorical(assigned, dtypes))
        if not parts:
            raise ValueError("no drift methods to compute")
        result = parts[0]
        for p in parts[1:]:
            result = result.unionByName(p, allowMissingColumns=True)
        if "p_value" not in result.columns:
            result = result.withColumn("p_value", F.lit(None).cast("double"))
        return join_headers_long(result, headers, period)

    # ---- continuous -----------------------------------------------------------

    def _calc_continuous(self, assigned: DataFrame, dtypes) -> List[DataFrame]:
        out: List[DataFrame] = []
        methods = set(self.continuous_methods)
        # ONE exploded count shuffle feeds every continuous method; persisted
        # via the managed registry (see release_cache).
        hist_all = self._persist(self._continuous_histogram(assigned, self._cont_cols, dtypes, chunked=True))
        doane_methods = methods & set(DOANE_METHODS)
        ecdf_methods = methods & {"kolmogorov_smirnov", "wasserstein", "cramer_von_mises"}
        exact_cols = [c for c in self._cont_cols if c in self._exact_ref] if ecdf_methods else []
        binned_cols = [c for c in self._cont_cols if c not in self._exact_ref]
        fam_specs = []
        if doane_methods:
            fam_specs.append("doane")
        if ecdf_methods and binned_cols:
            fam_specs.append("ecdf")
        if "psi" in methods:
            fam_specs.append("psi")
        if len(fam_specs) > 1:
            # Materialize the shared cache EAGERLY when several subtrees
            # consume it. The subtrees evaluate concurrently inside one
            # action; first readers of a cold cache serialize on the
            # block-manager's per-block compute-or-wait locks while holding
            # task slots, which destabilizes the whole schedule. Measured
            # (11-series drift_all_methods, sf0.1, 3 runs each): calculate
            # 8-45 s (wild variance) cold vs 10.7±0.2 s with this one
            # up-front count — equal best case, far lower variance.
            hist_all.count()
        if fam_specs:
            out.append(
                self._binned_continuous_methods(
                    hist_all, fam_specs, doane_methods, ecdf_methods,
                    "psi" in methods, binned_cols, assigned, dtypes,
                )
            )
        if ecdf_methods and exact_cols:
            out.extend(self._exact_ks_wasserstein(assigned, dtypes, exact_cols, ecdf_methods))
        return out

    def _binned_continuous_methods(
        self,
        hist_all: DataFrame,
        fam_specs: List[str],
        doane_methods,
        ecdf_methods,
        want_psi: bool,
        binned_cols: List[str],
        assigned: DataFrame,
        dtypes,
    ) -> DataFrame:
        """EVERY binned continuous method off ONE pipeline keyed
        (chunk, column, spec): one totals aggregate, one dense join against a
        single all-spec broadcast bin table, one window cumsum (only when an
        ECDF method needs it), one groupBy computing every requested family's
        sufficient statistics, and a spec-conditioned melt. Previously each
        family (doane / ecdf / psi) re-built totals+dense as its own union
        branch — no exchange reuse across branches, so drift_all_methods paid
        the substrate three times per calculate and again per fit-threshold
        pass (measured: 22 aggregation pipelines for 13 series).

        Method formulas (the DuckDB oracles mirror them term-for-term):

        * JS/Hellinger/TVD/KL over Doane-bin dense histograms with the
          leftover-mass bin for chunk mass outside reference bins
          (`methods.py:299-305`), and PSI over its own bins: the divergence
          kernel (``bin_terms`` summed per group, then ``divergences``).
        * KS (`methods.py:426-446`): D = max|ref_cdf − (below + cumsum q)|.
        * CvM: binned distance ω² = ∫ (F_ref − F_chunk)² dH with
          H = (F_ref + F_chunk)/2 over the reference bin partition; per ref
          bucket the CDFs are right-edge (cumsum) values, pooled step mass
          (p + q)/2; out-of-range lumps score mass³/2 at the range-adjacent
          edge. Bounded in [0, 1]; the exact small-reference path uses
          `functions.mathstats.cvm_dist_2samp` (same definition, raw values).
        * Wasserstein (`methods.py:662-692`): Σ|ref_cdf − (amount_smaller +
          cumsum q)|·width plus distributed out-of-range correction terms
          (`_wasserstein_corrections`); amount_smaller = (n_below + 1)/n when
          n_below > 0 (the +1 is the appended ref_min sentinel).
        """
        spark = assigned.sparkSession
        hist = hist_all.filter(F.col("spec").isin(fam_specs))
        if "ecdf" in fam_specs and len(binned_cols) < len(self._cont_cols):
            hist = hist.filter(
                (F.col("spec") != "ecdf") | F.col("column_name").isin(binned_cols)
            )
        # single broadcast dimension tables across ALL specs
        nbins_rows, ref_rows = [], []
        for c in self._cont_cols:
            st = self._cont_state[c]
            for spec in fam_specs:
                if spec not in st.specs:
                    continue
                if spec == "ecdf" and c not in binned_cols:
                    continue
                n_bins, probs = st.specs[spec]
                nbins_rows.append((c, spec, n_bins))
                cdf = np.cumsum(probs)
                width = (st.hi - st.lo) / n_bins
                for b in range(n_bins):
                    ref_rows.append((c, spec, b, float(probs[b]), float(cdf[b]), float(width)))
        nbins_df = F.broadcast(
            local_frame(spark, nbins_rows, "column_name string, spec string, n_bins int")
        )
        ref_bins = F.broadcast(
            local_frame(
                spark,
                ref_rows,
                "column_name string, spec string, bucket int, p double, ref_cdf double, width double",
            )
        )
        keys = [CHUNK_KEY, "column_name", "spec"]
        totals = (
            hist.join(nbins_df, ["column_name", "spec"])
            .groupBy(*keys)
            .agg(
                F.sum("cnt").alias("n_nonnull"),
                F.sum(F.when(F.col("bucket") == -1, F.col("cnt")).otherwise(F.lit(0))).alias("n_below"),
                F.sum(F.when(F.col("bucket") == F.col("n_bins"), F.col("cnt")).otherwise(F.lit(0))).alias(
                    "n_above"
                ),
            )
        )
        dense = (
            totals.join(ref_bins, ["column_name", "spec"])  # chunk × ref bins (dense)
            .join(hist.filter(F.col("bucket") >= 0), keys + ["bucket"], "left")
            .withColumn("q", F.coalesce(F.col("cnt"), F.lit(0)) / F.col("n_nonnull"))
        )
        want_ks = "kolmogorov_smirnov" in ecdf_methods
        want_cvm = "cramer_von_mises" in ecdf_methods
        want_w = "wasserstein" in ecdf_methods
        have_ecdf = "ecdf" in fam_specs
        if have_ecdf:
            w = Window.partitionBy(*keys).orderBy("bucket")
            dense = dense.withColumn("_cum_q", F.sum("q").over(w))
        p, q = F.col("p"), F.col("q")
        aggs: List[Column] = []
        div_methods = doane_methods | ({"psi"} if want_psi else set())
        if div_methods:
            terms = bin_terms(p, q, self.psi_eps, div_methods)
            aggs.append(F.sum(q).alias("_q"))
            aggs += [F.sum(t).alias(f"_{k}") for k, t in terms.items()]
        if have_ecdf:
            below = F.col("n_below") / F.col("n_nonnull")
            ks_cdf = below + F.col("_cum_q")
            if want_ks:
                aggs.append(F.max(F.abs(F.col("ref_cdf") - ks_cdf)).alias("_ks_d"))
            if want_cvm:
                aggs += [
                    F.sum(((p + q) / F.lit(2.0)) * F.pow(F.col("ref_cdf") - ks_cdf, 2)).alias(
                        "_cvm_within"
                    ),
                    (F.max("n_below") / F.max("n_nonnull")).alias("_cvm_below"),
                    (F.lit(1.0) - F.max("n_below") / F.max("n_nonnull") - F.sum("q")).alias(
                        "_cvm_above"
                    ),
                ]
            if want_w:
                amount_smaller = F.when(
                    F.col("n_below") > 0, (F.col("n_below") + 1) / F.col("n_nonnull")
                ).otherwise(F.lit(0.0))
                aggs.append(
                    F.sum(
                        F.abs(F.col("ref_cdf") - (amount_smaller + F.col("_cum_q"))) * F.col("width")
                    ).alias("_w_within")
                )
        grp = dense.groupBy(*keys).agg(*aggs)
        if have_ecdf and want_w:
            corr = self._wasserstein_corrections(assigned, dtypes)
            grp = grp.join(corr, [CHUNK_KEY, "column_name"], "left")
        # spec-conditioned melt: each per-spec aggregate row emits only its
        # own family's (method, value) structs
        fam_pairs: Dict[str, List[Tuple[str, Column]]] = {}
        if div_methods:
            # chunk mass outside the reference bins is the leftover lump
            sums = {k: F.col(f"_{k}") for k in terms}
            leftover = F.lit(1.0) - F.col("_q")
        if doane_methods:
            fam_pairs["doane"] = list(divergences(doane_methods, sums, leftover, self.psi_eps).items())
        if have_ecdf:
            pairs = []
            if want_ks:
                pairs.append(("kolmogorov_smirnov", F.col("_ks_d")))
            if want_cvm:
                ab = F.greatest(F.col("_cvm_above"), F.lit(0.0))  # guard float residue
                pairs.append(
                    (
                        "cramer_von_mises",
                        F.col("_cvm_within")
                        + F.pow(F.col("_cvm_below"), 3) / F.lit(2.0)
                        + F.pow(ab, 3) / F.lit(2.0),
                    )
                )
            if want_w:
                pairs.append(
                    (
                        "wasserstein",
                        F.col("_w_within")
                        + F.coalesce(F.col("term_smaller"), F.lit(0.0))
                        + F.coalesce(F.col("term_bigger"), F.lit(0.0)),
                    )
                )
            fam_pairs["ecdf"] = pairs
        if want_psi:
            fam_pairs["psi"] = list(divergences({"psi"}, sums, leftover, self.psi_eps).items())
        arr = None
        for spec, pairs in fam_pairs.items():
            kvs = F.array(
                *[
                    F.struct(F.lit(m).alias("method"), v.cast("double").alias("value"))
                    for m, v in pairs
                ]
            )
            arr = F.when(F.col("spec") == spec, kvs) if arr is None else arr.when(
                F.col("spec") == spec, kvs
            )
        return grp.select(
            CHUNK_KEY, "column_name", F.explode(arr).alias("kv")
        ).select(CHUNK_KEY, "column_name", "kv.method", "kv.value")

    @staticmethod
    def _melt_methods(grp: DataFrame, pairs: List[Tuple[str, Column]]) -> DataFrame:
        """(chunk, column, method, value) long rows from ONE aggregated frame:
        the per-method values are emitted via a single explode of
        ``struct(method, value)`` literals instead of one union branch per
        method. A union branch re-executes the whole aggregation subtree
        (measured: drift_all_methods ran 22 aggregation pipelines / 18 scans
        of the persisted histogram for 13 series — no exchange reuse across
        union branches), while the melt computes the aggregate once and the
        explode is O(#methods) per ≤#chunks-row group."""
        kvs = [
            F.struct(F.lit(m).alias("method"), v.cast("double").alias("value"))
            for m, v in pairs
        ]
        return grp.select(
            CHUNK_KEY, "column_name", F.explode(F.array(*kvs)).alias("kv")
        ).select(CHUNK_KEY, "column_name", "kv.method", "kv.value")

    def _wasserstein_corrections(self, assigned: DataFrame, dtypes) -> DataFrame:
        """The reference's out-of-range ECDF correction terms
        (`methods.py:662-692`) computed fully distributed: distinct OOR values
        (map-side-combined) + a lo/hi sentinel row, cumulative ECDF via a
        bounded per-(chunk, column, side) window, Σ y·Δx integral. No
        collect_list, no size cap, no Python workers."""
        cols = [c for c in self._cont_cols if "ecdf" in self._cont_state[c].specs]
        spark = assigned.sparkSession
        structs = []
        for c in cols:
            st = self._cont_state[c]
            v = nan_to_null(F.col(c), dtypes[c]).cast("double")
            structs.append(
                F.struct(
                    F.lit(c).alias("column_name"),
                    v.alias("value"),
                    F.lit(st.lo).alias("lo"),
                    F.lit(st.hi).alias("hi"),
                )
            )
        exploded = (
            assigned.select(CHUNK_KEY, F.explode(F.array(*structs)).alias("kv"))
            .select(CHUNK_KEY, "kv.column_name", "kv.value", "kv.lo", "kv.hi")
            .filter(F.col("value").isNotNull())
        )
        # per-chunk totals (needed for amount_* denominators)
        totals = exploded.groupBy(CHUNK_KEY, "column_name").agg(
            F.count(F.lit(1)).alias("n_tot"),
            F.min("lo").alias("lo"),
            F.min("hi").alias("hi"),
        )
        # Fully distributed ECDF integral — no collect_list, no cap, no Arrow:
        # dedupe values FIRST (map-side-combinable groupBy shrinks the window
        # input to distinct OOR values), append the lo/hi sentinel the
        # reference appends (methods.py:665-691), then per (chunk, column,
        # side): y = cumcount/n_xs over value order, term = amount · Σ y·Δx
        # (smaller side) or Σ (1−y)·Δx (bigger side).
        oor = exploded.filter((F.col("value") < F.col("lo")) | (F.col("value") > F.col("hi"))).select(
            CHUNK_KEY,
            "column_name",
            F.when(F.col("value") < F.col("lo"), F.lit("s")).otherwise(F.lit("b")).alias("side"),
            "value",
        )
        dedup = oor.groupBy(CHUNK_KEY, "column_name", "side", "value").agg(
            F.count(F.lit(1)).alias("cnt")
        )
        side_n = dedup.groupBy(CHUNK_KEY, "column_name", "side").agg(F.sum("cnt").alias("n_side"))
        sentinel = (
            side_n.join(totals.select(CHUNK_KEY, "column_name", "lo", "hi"), [CHUNK_KEY, "column_name"])
            .select(
                CHUNK_KEY,
                "column_name",
                "side",
                F.when(F.col("side") == "s", F.col("lo")).otherwise(F.col("hi")).alias("value"),
                F.lit(1).cast("long").alias("cnt"),
            )
        )
        pts = dedup.select(CHUNK_KEY, "column_name", "side", "value", "cnt").unionByName(sentinel)
        w = Window.partitionBy(CHUNK_KEY, "column_name", "side").orderBy("value")
        w_all = Window.partitionBy(CHUNK_KEY, "column_name", "side")
        pts = (
            pts.withColumn("_cum", F.sum("cnt").over(w))
            .withColumn("_nxs", F.sum("cnt").over(w_all))
            .withColumn("_next", F.lead("value").over(w))
        )
        y = F.col("_cum") / F.col("_nxs")
        seg = F.when(
            F.col("_next").isNotNull(),
            F.when(F.col("side") == "s", y).otherwise(1 - y) * (F.col("_next") - F.col("value")),
        ).otherwise(F.lit(0.0))
        terms = pts.groupBy(CHUNK_KEY, "column_name", "side").agg(
            F.sum(seg).alias("integral"), F.max("_nxs").alias("n_xs")
        )
        out = (
            terms.join(totals.select(CHUNK_KEY, "column_name", "n_tot"), [CHUNK_KEY, "column_name"])
            .withColumn("term", F.col("integral") * F.col("n_xs") / F.col("n_tot"))
            .groupBy(CHUNK_KEY, "column_name")
            .agg(
                F.sum(F.when(F.col("side") == "s", F.col("term")).otherwise(F.lit(0.0))).alias("term_smaller"),
                F.sum(F.when(F.col("side") == "b", F.col("term")).otherwise(F.lit(0.0))).alias("term_bigger"),
            )
        )
        return out

    def _exact_ks_wasserstein(self, assigned: DataFrame, dtypes, cols, methods) -> List[DataFrame]:
        """Exact two-sample statistics for small-reference columns
        (`methods.py:444-446, 694-696`): raw chunk values vs the broadcast raw
        reference column, evaluated per chunk in one Arrow pass per column."""
        import pandas as pd

        from spark_validate.functions.mathstats import (
            cvm_dist_2samp,
            ks_stat_2samp,
            wasserstein_1d,
        )

        sc = assigned.sparkSession.sparkContext
        out = []
        wanted = sorted(methods & {"kolmogorov_smirnov", "wasserstein", "cramer_von_mises"})
        for c in cols:
            ref_vals = np.asarray(self._exact_ref[c], dtype=np.float64)
            bc = sc.broadcast(ref_vals)

            def _make(bc_ref, wanted_methods):
                def per_chunk(pdf: pd.DataFrame) -> pd.DataFrame:
                    key = pdf[CHUNK_KEY].iloc[0]
                    vals = pdf["_v"].dropna().to_numpy(dtype=np.float64)
                    rows = []
                    for m in wanted_methods:
                        if len(vals) == 0:
                            v = float("nan")
                        elif m == "kolmogorov_smirnov":
                            v = ks_stat_2samp(bc_ref.value, vals)
                        elif m == "cramer_von_mises":
                            v = cvm_dist_2samp(bc_ref.value, vals)
                        else:
                            v = wasserstein_1d(bc_ref.value, vals)
                        rows.append((key, m, v))
                    return pd.DataFrame(rows, columns=[CHUNK_KEY, "method", "value"])

                return per_chunk

            per_chunk = _make(bc, wanted)

            src = assigned.select(
                CHUNK_KEY, nan_to_null(F.col(c), dtypes[c]).cast("double").alias("_v")
            )
            # compute-dense Arrow stage: pin one shuffle partition per chunk
            # so AQE byte-based coalescing can't serialize the numpy work
            n_shuf = shuffle_partitions(assigned.sparkSession)
            res = src.repartition(n_shuf, CHUNK_KEY).groupBy(CHUNK_KEY).applyInPandas(
                per_chunk, f"{CHUNK_KEY} string, method string, value double"
            )
            out.append(res.withColumn("column_name", F.lit(c)).select(CHUNK_KEY, "column_name", "method", "value"))
        return out

    def _calc_categorical(self, assigned: DataFrame, dtypes) -> List[DataFrame]:
        spark = assigned.sparkSession
        # One count shuffle shared by every categorical method; persisted via
        # the managed registry (see release_cache).
        counts = self._persist(categorical_counts(assigned, self._cat_cols, dtypes, chunked=True))
        # Eager materialization: even a single method reads `counts` through
        # two subtrees (totals + the dense join), and multi-method runs add
        # l_infinity/chi2 branches — concurrent cold-cache readers serialize
        # on block locks while holding task slots (see _calc_continuous for
        # the measured variance this causes). One count settles the cache.
        counts.count()
        ref_rows = []
        for c in self._cat_cols:
            st = self._cat_state[c]
            for v, cnt in st.counts.items():
                ref_rows.append((c, v, cnt, cnt / st.n_ref))
        ref_df = F.broadcast(
            local_frame(spark, ref_rows, "column_name string, value string, ref_cnt long, p double")
        )
        totals = counts.groupBy(CHUNK_KEY, "column_name").agg(F.sum("cnt").alias("n_nonnull"))
        # dense over ref categories (chunk × ref cats) + chunk-only categories
        dense_ref = (
            totals.join(ref_df, "column_name")
            .join(counts, [CHUNK_KEY, "column_name", "value"], "left")
            .withColumn("q", F.coalesce(F.col("cnt"), F.lit(0)) / F.col("n_nonnull"))
            .withColumn("obs_cnt", F.coalesce(F.col("cnt"), F.lit(0)))
        )
        chunk_only = (
            counts.join(ref_df.select("column_name", "value", "ref_cnt"), ["column_name", "value"], "left_anti")
            .join(totals, [CHUNK_KEY, "column_name"])
            .withColumn("p", F.lit(0.0))
            .withColumn("ref_cnt", F.lit(0).cast("long"))
            .withColumn("q", F.col("cnt") / F.col("n_nonnull"))
            .withColumn("obs_cnt", F.col("cnt"))
        )
        out: List[DataFrame] = []
        methods = set(self.categorical_methods)
        hist_methods = set(DIVERGENCE_METHODS) & methods
        if hist_methods or "l_infinity" in methods:
            out.append(
                self._cat_hist_methods(
                    dense_ref, chunk_only, methods, with_linf="l_infinity" in methods
                )
            )
        if "chi2" in methods:
            out.append(self._chi2(dense_ref, chunk_only))
        return out

    def _cat_hist_methods(
        self, dense_ref: DataFrame, chunk_only: DataFrame, methods, with_linf: bool
    ) -> DataFrame:
        """The divergence kernel's methods on reference-category probabilities
        with a leftover bin for unseen categories (`methods.py:346-364,
        795-814`), plus l_infinity = max|p − q| over the category UNION
        (`methods.py:541-585`) — one aggregation, methods melted out (see
        ``_melt_methods``).

        When l_infinity is requested the aggregate runs over the union of
        reference categories and chunk-only categories; the hist-method sums
        are guarded to reference-category rows (`_ref`), where a chunk-only
        row contributes an exact 0.0 term (IEEE identity — adding 0.0 never
        changes a finite sum), so their values are unchanged by the union.
        Without l_infinity the chunk-only subtree is skipped entirely."""
        p, q = F.col("p"), F.col("q")
        if with_linf:
            base = dense_ref.select(
                CHUNK_KEY, "column_name", "p", "q", F.lit(True).alias("_ref")
            ).unionByName(
                chunk_only.select(
                    CHUNK_KEY, "column_name", "p", "q", F.lit(False).alias("_ref")
                )
            )
            ref_row = F.col("_ref")
        else:
            base = dense_ref
            ref_row = F.lit(True)

        def ref_sum(term: Column, alias: str) -> Column:
            guarded = term if not with_linf else F.when(ref_row, term).otherwise(F.lit(0.0))
            return F.sum(guarded).alias(alias)

        div_methods = set(DIVERGENCE_METHODS) & set(methods)
        terms = bin_terms(p, q, self.psi_eps, div_methods)
        aggs = [ref_sum(q, "_q")] + [ref_sum(t, f"_{k}") for k, t in terms.items()]
        if with_linf:
            aggs.append(F.max(F.abs(p - q)).alias("_linf"))
        grp = base.groupBy(CHUNK_KEY, "column_name").agg(*aggs)
        # the unseen-category mass is the leftover lump
        sums = {k: F.col(f"_{k}") for k in terms}
        pairs = list(divergences(div_methods, sums, F.lit(1.0) - F.col("_q"), self.psi_eps).items())
        if with_linf:
            pairs.append(("l_infinity", F.col("_linf")))
        return self._melt_methods(grp, pairs)

    def _chi2(self, dense_ref: DataFrame, chunk_only: DataFrame) -> DataFrame:
        """Pearson chi-squared of the 2×k (reference vs chunk) contingency
        table, closed-form in SQL, and its p-value (`methods.py:530-538`)."""
        cols = [CHUNK_KEY, "column_name", "value", "ref_cnt", "obs_cnt"]
        union = dense_ref.select(*cols).unionByName(chunk_only.select(*cols))
        union = union.filter((F.col("ref_cnt") + F.col("obs_cnt")) > 0)
        tot = union.groupBy(CHUNK_KEY, "column_name").agg(
            F.sum("ref_cnt").alias("R"),
            F.sum("obs_cnt").alias("O"),
            F.count(F.lit(1)).alias("k"),
        )
        j = union.join(tot, [CHUNK_KEY, "column_name"])
        col_tot = F.col("ref_cnt") + F.col("obs_cnt")
        grand = F.col("R") + F.col("O")
        er = col_tot * F.col("R") / grand
        eo = col_tot * F.col("O") / grand
        # scipy chi2_contingency applies Yates continuity correction on 2×2
        # tables (dof==1) by default, and the reference doesn't disable it
        plain = F.pow(F.col("ref_cnt") - er, 2) / er + F.pow(F.col("obs_cnt") - eo, 2) / eo
        yates_r = F.greatest(F.abs(F.col("ref_cnt") - er) - F.lit(0.5), F.lit(0.0))
        yates_o = F.greatest(F.abs(F.col("obs_cnt") - eo) - F.lit(0.5), F.lit(0.0))
        yates = F.pow(yates_r, 2) / er + F.pow(yates_o, 2) / eo
        cell = F.when(F.col("k") == 2, yates).otherwise(plain)
        # the cells are added in category order, not in the order the
        # shuffle delivers them, so the statistic is the same bits under any
        # partitioning; a chunk holds at most max_categories + its unseen
        # categories
        stat = j.groupBy(CHUNK_KEY, "column_name").agg(
            F.array_sort(F.collect_list(F.struct(F.col("value"), cell.alias("c")))).alias("_cells"),
            F.max("k").alias("k"),
        ).withColumn("value", F.aggregate("_cells", F.lit(0.0), lambda acc, x: acc + x["c"]))
        return stat.select(
            CHUNK_KEY,
            "column_name",
            F.lit("chi2").alias("method"),
            F.col("value").cast("double").alias("value"),
            chi2_p_value(F.col("value"), F.col("k") - 1).alias("p_value"),
        )

    @property
    def reference_result(self) -> DataFrame:
        if not self._fitted:
            raise RuntimeError("not fitted")
        return self._reference_result

    # -- fitted-state (de)serialization ------------------------------------------

    def get_state(self) -> dict:
        if not self._fitted:
            raise RuntimeError("not fitted")
        return {
            "cont": {
                c: {"lo": st.lo, "hi": st.hi, "n_ref": st.n_ref, "specs": {k: [v[0], list(v[1])] for k, v in st.specs.items()}}
                for c, st in self._cont_state.items()
            },
            "cat": {c: {"n_ref": st.n_ref, "counts": st.counts} for c, st in self._cat_state.items()},
            "thresholds": [
                {"column_name": c, "method": m, "lower": lo, "upper": up}
                for (c, m), (lo, up) in self._thresholds.items()
            ],
            "cont_cols": self._cont_cols,
            "cat_cols": self._cat_cols,
            "exact_ref": self._exact_ref,
        }

    def set_state(self, state: dict) -> "UnivariateDriftCalculator":
        self._cont_state = {
            c: ContinuousState(
                lo=s["lo"], hi=s["hi"], n_ref=s["n_ref"], specs={k: (v[0], v[1]) for k, v in s["specs"].items()}
            )
            for c, s in state["cont"].items()
        }
        self._cat_state = {
            c: CategoricalState(n_ref=s["n_ref"], counts=s["counts"]) for c, s in state["cat"].items()
        }
        self._thresholds = {
            (t["column_name"], t["method"]): (t["lower"], t["upper"]) for t in state["thresholds"]
        }
        self._cont_cols = state["cont_cols"]
        self._cat_cols = state["cat_cols"]
        self._exact_ref = state.get("exact_ref", {})
        self._fitted = True
        self._reference_result = None
        return self
