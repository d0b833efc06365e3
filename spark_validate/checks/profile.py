"""Column-profile checks: fitted z-score outlier rates and cardinality.

Both extend the reference's data-quality calculator family
(`nannyml/data_quality/simple/metrics.py`, `nannyml/data_quality/range/
calculator.py:117-143`) with two profile dimensions every production
validation engine carries (Deequ/GreatExpectations surface) but NannyML
lacks; they follow the same fit-small-state / one-chunked-aggregation
execution shape as every other check here.

* :class:`ZScoreOutlierCalculator` — fit per-column mean/std on the
  reference, report the per-chunk rate of analysis values beyond
  ``mu ± z·sigma``. Cross-engine determinism (the DuckDB oracle must
  hash-match): moments are computed from EXACT decimal sums (value and
  value² each cast to a fixed-scale decimal before summation — decimal
  addition is order-independent, so the fitted mu/sigma are bit-identical
  no matter the partitioning), then mu/sigma/lo/hi are derived with plain
  IEEE double arithmetic that the oracle SQL mirrors expression-for-
  expression.
* :class:`CardinalityCalculator` — per-chunk distinct count / ratio.
  ``exact=True`` (default) runs a two-phase aggregation:
  ``groupBy(chunk, value) → groupBy(chunk)`` — map-side partial
  aggregation means the shuffle carries one row per distinct
  (chunk, value), and hot values spread across reducers by value exactly
  like the uniqueness check. ``exact=False`` switches to
  ``approx_count_distinct`` (HLL++, one pass, rel. error ~2%) which is a
  pure aggregate expression and therefore joins the fused shared-scan
  pass — the 100 TB default, with the exact path as the audit/oracle
  companion.

Scale notes:
  * z-score calculate is a pure codegen aggregate of fitted constants —
    fusable into the suite's single shared scan.
  * exact cardinality is NOT fusable (its first phase keys by
    (chunk, value), a shuffle the shared pass doesn't have); the approx
    path is.
  * fit decimal sums use DECIMAL(38,6): overflow needs > ~10^31 total
    magnitude — at 10^12 rows that still leaves 10^19 per-value headroom.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from typing import Dict, Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spark_validate.calculators.base import assign_chunks, join_headers, nan_to_null
from spark_validate.checks.constraints import _HDR_COLS, _attach_const_threshold, _melt_long, _melt_rates
from spark_validate.chunking import CHUNK_KEY, Chunker, DefaultChunker, chunk_aggregate
from spark_validate.fused import calculate_alone
from spark_validate.session import shuffle_partitions
from spark_validate.thresholds import ConstantThreshold

_DEC_V = "decimal(38,6)"  # value sums: exact for inputs with <= 6 decimals
_DEC_S = "decimal(38,6)"  # value^2 sums: the double product rounds to 6 dp
                          # identically in Spark and DuckDB (no tie point of
                          # a half-even/half-up split is exactly representable
                          # as a binary double), so both engines sum the SAME
                          # exact decimals


@dataclass
class ZScoreOutlierCalculator:
    """Per-chunk rate of values beyond ``mu ± z·sigma`` fitted on reference.

    The classic streaming-quality anomaly gate (Deequ's ``hasApproxQuantile``
    family / NannyML's StandardDeviationThreshold applied at the ROW level
    instead of the metric level — `nannyml/thresholds.py:169-247`).
    """

    column_names: Sequence[str]
    z: float = 3.0
    normalize: bool = True
    chunker: Chunker = field(default_factory=DefaultChunker)
    threshold: ConstantThreshold = field(default_factory=lambda: ConstantThreshold(lower=None, upper=None))
    _bounds: Optional[Dict[str, tuple]] = None  # col -> (stat1, stat2, lo, hi)

    # subclasses (IQR) reuse the whole flag/melt/violations machinery and
    # only swap the fitted-bounds recipe + labels
    _method_base = "zscore_outlier"
    _check_name = "zscore_outliers"

    def fit(self, reference: DataFrame) -> "ZScoreOutlierCalculator":
        dtypes = dict(reference.dtypes)
        aggs = []
        for c in self.column_names:
            v = nan_to_null(F.col(c), dtypes[c])
            vd = v.cast("double")  # int columns: v*v would overflow long under ANSI
            aggs += [
                F.sum(vd.cast(_DEC_V)).alias(f"{c}__s"),
                F.sum((vd * vd).cast(_DEC_S)).alias(f"{c}__ss"),
                F.count(v).alias(f"{c}__n"),
            ]
        row = reference.agg(*aggs).first().asDict()
        self._bounds = {}
        for c in self.column_names:
            n = row[f"{c}__n"]
            if not n:
                self._bounds[c] = (None, None, None, None)
                continue
            # plain double arithmetic, mirrored verbatim in oracle SQL
            mu = float(row[f"{c}__s"]) / n
            var = float(row[f"{c}__ss"]) / n - mu * mu
            sigma = math.sqrt(max(var, 0.0))
            lo = mu - self.z * sigma
            hi = mu + self.z * sigma
            self._bounds[c] = (mu, sigma, lo, hi)
        return self

    def _flag(self, c: str, dtypes) -> F.Column:
        mu, sigma, lo, hi = self._bounds[c]
        v = nan_to_null(F.col(c), dtypes[c])
        if mu is None:
            return F.lit(0)
        return (v.isNotNull() & ((v < F.lit(lo)) | (v > F.lit(hi)))).cast("int")

    def calculate(self, df: DataFrame, period: str = "analysis") -> DataFrame:
        return calculate_alone(self, df, period)

    def fuse_contrib(self, dtypes, prefix: str):
        """Suite-fusion hook (see ColumnStatsCalculator.fuse_contrib)."""
        if self._bounds is None:
            raise RuntimeError("fit first")
        exprs = [
            F.sum(self._flag(c, dtypes)).cast("double").alias(f"{prefix}{c}__out")
            for c in self.column_names
        ]
        method = f"{self._method_base}_rate" if self.normalize else f"{self._method_base}_count"

        def fin(wide: DataFrame, period: str) -> DataFrame:
            long_df = _melt_rates(wide, prefix, method, self.column_names, "__out", self.normalize)
            return _attach_const_threshold(long_df, period, self.threshold.lower, self.threshold.upper)

        return exprs, fin

    def get_state(self) -> dict:
        if self._bounds is None:
            raise RuntimeError("fit first")
        return {"z": self.z, "bounds": {c: list(v) for c, v in self._bounds.items()}}

    def set_state(self, state: dict) -> "ZScoreOutlierCalculator":
        self.z = float(state["z"])
        self._bounds = {c: tuple(v) for c, v in state["bounds"].items()}
        return self

    def violations(self, df: DataFrame, row_id: Optional[str] = None) -> DataFrame:
        if self._bounds is None:
            raise RuntimeError("fit first")
        dtypes = dict(df.dtypes)
        assigned = self.chunker.assign(df)
        parts = []
        for c in self.column_names:
            mu, sigma, lo, hi = self._bounds[c]
            if mu is None:
                continue
            v = nan_to_null(F.col(c), dtypes[c])
            parts.append(
                assigned.filter(v.isNotNull() & ((v < F.lit(lo)) | (v > F.lit(hi)))).select(
                    F.lit(self._check_name).alias("check"),
                    F.lit(c).alias("column_name"),
                    F.col(CHUNK_KEY),
                    (F.col(row_id).cast("string") if row_id else F.lit(None).cast("string")).alias("row_id"),
                    F.lit(self._method_base).alias("violation_kind"),
                    F.col(c).cast("string").alias("observed_value"),
                )
            )
        if not parts:
            raise RuntimeError("no fitted columns (all-null reference)")
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out


@dataclass
class SkewCalculator:
    """Per-chunk hot-key share: ``max(value count) / rows`` per column.

    The validation-side guard for the engine's own scale hazards: a key
    column whose top-value share approaches 1.0 is the flooded-key case
    that breaks shuffles and joins downstream (the reason the uniqueness
    check salts and the LSH sweeps cap buckets). NULL is a value here — a
    null flood IS skew.

    Same two-phase shape as exact cardinality: L1 ``(chunk, col, value)``
    partial counts collapse map-side (the hot key becomes ONE row per
    partition before the shuffle — measuring skew doesn't suffer it),
    L2 takes ``max(cnt)/sum(cnt)`` per (chunk, col). One scan for every
    column via the same explode device.
    """

    column_names: Sequence[str]
    chunker: Chunker = field(default_factory=DefaultChunker)
    threshold: ConstantThreshold = field(default_factory=lambda: ConstantThreshold(lower=None, upper=None))

    def calculate(self, df: DataFrame, period: str = "analysis") -> DataFrame:
        assigned, headers = assign_chunks(df, self.chunker)
        pairs = F.array(*[
            F.struct(F.lit(c).alias("c"), F.col(c).cast("string").alias("v"))
            for c in self.column_names
        ])
        ex = assigned.select(CHUNK_KEY, F.explode(pairs).alias("kv")).select(
            CHUNK_KEY, "kv.c", "kv.v"
        )
        l2 = (
            ex.groupBy(CHUNK_KEY, "c", "v")
            .agg(F.count(F.lit(1)).alias("_cnt"))
            .groupBy(CHUNK_KEY, "c")
            .agg(F.max("_cnt").alias("__top"), F.sum("_cnt").alias("__rows"))
        )
        long_df = l2.select(
            CHUNK_KEY,
            F.col("c").alias("column_name"),
            F.lit("top_value_share").alias("method"),
            (F.col("__top") / F.col("__rows")).cast("double").alias("value"),
        )
        return _attach_const_threshold(
            join_headers(long_df, headers), period, self.threshold.lower, self.threshold.upper
        )


@dataclass
class IQROutlierCalculator(ZScoreOutlierCalculator):
    """Tukey-fence outlier rate: values beyond ``[Q1 − k·IQR, Q3 + k·IQR]``
    fitted on the reference (k = 1.5 is Tukey's classic fence). Robust
    sibling of the z-score gate — heavy-tailed columns where mean/std are
    themselves dragged by the outliers still get sane fences.

    ``exact_fit=True`` (default) fits Q1/Q3 with Spark's exact ``percentile``
    (bit-identical to DuckDB's ``quantile_cont``, so oracles replicate the
    fences exactly) — it buffers the reference column per partition, fine
    for fit-time on a bounded reference. ``exact_fit=False`` switches to the
    ``approx_percentile`` sketch (bounded memory) for huge references.
    Everything after fit (flag aggregation, fusion, violations, state) is
    the shared bounds-gate machinery.
    """

    k: float = 1.5
    exact_fit: bool = True

    _method_base = "iqr_outlier"
    _check_name = "iqr_outliers"

    def fit(self, reference: DataFrame) -> "IQROutlierCalculator":
        dtypes = dict(reference.dtypes)
        fn = "percentile" if self.exact_fit else "approx_percentile"
        suffix = "" if self.exact_fit else ", 10000"
        # percentile ignores NULLs; NaNs normalized to NULL first
        named = reference.select(
            *[
                nan_to_null(F.col(c), dtypes[c]).cast("double").alias(f"_sv_{c}")
                for c in self.column_names
            ]
        )
        aggs = [
            F.expr(f"{fn}(_sv_{c}, array(0.25, 0.75){suffix})").alias(f"{c}__q")
            for c in self.column_names
        ]
        row = named.agg(*aggs).first().asDict()
        self._bounds = {}
        for c in self.column_names:
            q = row[f"{c}__q"]
            if q is None or q[0] is None:
                self._bounds[c] = (None, None, None, None)
                continue
            q1, q3 = float(q[0]), float(q[1])
            iqr = q3 - q1
            lo = q1 - self.k * iqr
            hi = q3 + self.k * iqr
            self._bounds[c] = (q1, q3, lo, hi)
        return self

    def get_state(self) -> dict:
        if self._bounds is None:
            raise RuntimeError("fit first")
        return {"k": self.k, "bounds": {c: list(v) for c, v in self._bounds.items()}}

    def set_state(self, state: dict) -> "IQROutlierCalculator":
        self.k = float(state["k"])
        self._bounds = {c: tuple(v) for c, v in state["bounds"].items()}
        return self


@dataclass
class QuantileStatsCalculator:
    """Per-chunk quantile profile (p25/p50/p75/p90/p99 by default).

    ``exact=False`` (default) uses ``approx_percentile`` — Spark's
    GK-sketch aggregate with bounded memory per (chunk × column), the only
    shape that survives 10^12-row chunks; ``accuracy`` trades memory for
    error (1/accuracy relative rank error). ``exact=True`` uses exact
    ``percentile`` (buffers each chunk's column in the agg — audit/oracle
    companion, same convention as CardinalityCalculator's exact path).
    Both paths are pure aggregate expressions, so both fuse into the
    shared-scan suite pass.
    """

    column_names: Sequence[str]
    quantiles: Sequence[float] = (0.25, 0.5, 0.75, 0.9, 0.99)
    exact: bool = False
    accuracy: int = 10_000
    chunker: Chunker = field(default_factory=DefaultChunker)
    threshold: ConstantThreshold = field(default_factory=lambda: ConstantThreshold(lower=None, upper=None))

    def _label(self, q: float) -> str:
        return f"p{q * 100:g}"

    def _melt(self, wide: DataFrame, prefix: str) -> DataFrame:
        pairs = []
        for c in self.column_names:
            for i, q in enumerate(self.quantiles):
                pairs.append(F.struct(
                    F.lit(c).alias("column_name"),
                    F.lit(self._label(q)).alias("method"),
                    F.col(f"{prefix}{c}__q")[i].cast("double").alias("value"),
                ))
        return _melt_long(wide, pairs)

    def calculate(self, df: DataFrame, period: str = "analysis") -> DataFrame:
        return calculate_alone(self, df, period)

    def fuse_contrib(self, dtypes, prefix: str):
        """Suite-fusion hook. The pass aggregates the RAW frame, so the
        NaN→NULL normalization rides inside the expressions (percentile
        would otherwise sort NaNs into the quantiles)."""
        qs = "array(" + ", ".join(repr(float(q)) for q in self.quantiles) + ")"
        exprs = []
        for c in self.column_names:
            if dtypes.get(c) in ("double", "float"):
                src = f"CAST(CASE WHEN isnan(`{c}`) THEN NULL ELSE `{c}` END AS DOUBLE)"
            else:
                src = f"CAST(`{c}` AS DOUBLE)"
            fn = (
                f"percentile({src}, {qs})"
                if self.exact
                else f"approx_percentile({src}, {qs}, {int(self.accuracy)})"
            )
            exprs.append(F.expr(fn).alias(f"{prefix}{c}__q"))

        def fin(wide: DataFrame, period: str) -> DataFrame:
            long_df = self._melt(wide, prefix)
            return _attach_const_threshold(long_df, period, self.threshold.lower, self.threshold.upper)

        return exprs, fin


@dataclass
class CardinalityCalculator:
    """Per-chunk distinct count + distinct ratio per column.

    No fit: cardinality is a profile stat (optionally alert via constant
    thresholds on the ratio — e.g. an id column whose per-chunk ratio
    drops below 1.0 is duplicating).
    """

    column_names: Sequence[str]
    exact: bool = True
    chunker: Chunker = field(default_factory=DefaultChunker)
    threshold: ConstantThreshold = field(default_factory=lambda: ConstantThreshold(lower=None, upper=None))

    @property
    def fusable(self) -> bool:
        """Only the approx (HLL++) path is a pure aggregate expression."""
        return not self.exact

    def calculate(self, df: DataFrame, period: str = "analysis") -> DataFrame:
        if self.fusable:
            return calculate_alone(self, df, period)
        assigned, headers = assign_chunks(df, self.chunker)
        # exact path: ONE scan for every column — explode to a long
        # (chunk, column, value-as-string) frame, then a two-level agg:
        # L1 (chunk, col, value) partial counts collapse duplicates map-side,
        # L2 per (chunk, col) sees one row per distinct value. Values are
        # string-cast so heterogeneous columns share the frame (injective for
        # the atomic types a cardinality check targets); NULLs keep their own
        # L1 group so L2's sum(cnt) is the chunk row count while count(v)
        # counts only non-null distinct values — COUNT(DISTINCT) semantics.
        pairs = F.array(*[
            F.struct(F.lit(c).alias("c"), F.col(c).cast("string").alias("v"))
            for c in self.column_names
        ])
        ex = assigned.select(CHUNK_KEY, F.explode(pairs).alias("kv")).select(
            CHUNK_KEY, "kv.c", "kv.v"
        )
        l2 = (
            ex.groupBy(CHUNK_KEY, "c", "v")
            .agg(F.count(F.lit(1)).alias("_cnt"))
            .groupBy(CHUNK_KEY, "c")
            .agg(F.sum("_cnt").alias("__rows"), F.count("v").alias("__d"))
        )
        long_df = l2.select(
            CHUNK_KEY,
            F.col("c").alias("column_name"),
            F.explode(F.array(
                F.struct(
                    F.lit("distinct_count").alias("method"),
                    F.col("__d").cast("double").alias("value"),
                ),
                F.struct(
                    F.lit("distinct_ratio").alias("method"),
                    (F.col("__d") / F.col("__rows")).cast("double").alias("value"),
                ),
            )).alias("kv"),
        ).select(CHUNK_KEY, "column_name", "kv.method", "kv.value")
        return _attach_const_threshold(
            join_headers(long_df, headers), period, self.threshold.lower, self.threshold.upper
        )

    def fuse_contrib(self, dtypes, prefix: str):
        """Suite-fusion hook — approx path only (`fusable` gates this)."""
        if self.exact:
            raise RuntimeError("exact cardinality needs its own (chunk, value) shuffle: not fusable")
        exprs = [F.approx_count_distinct(c).alias(f"{prefix}{c}__d") for c in self.column_names]

        def fin(wide: DataFrame, period: str) -> DataFrame:
            pairs = []
            for c in self.column_names:
                d = F.col(f"{prefix}{c}__d")
                pairs.append(F.struct(
                    F.lit(c).alias("column_name"), F.lit("approx_distinct_count").alias("method"),
                    d.cast("double").alias("value"),
                ))
                pairs.append(F.struct(
                    F.lit(c).alias("column_name"), F.lit("approx_distinct_ratio").alias("method"),
                    (d / F.col("n_rows")).cast("double").alias("value"),
                ))
            long_df = _melt_long(wide, pairs)
            return _attach_const_threshold(long_df, period, self.threshold.lower, self.threshold.upper)

        return exprs, fin


@dataclass
class FrequentItemsCalculator:
    """Per-chunk top-k values per column, with counts and shares — the
    heavy-hitters profile (Deequ ``FrequentItems`` / GE
    ``expect_column_most_common_value_to_be_in_set`` surface; extends the
    §2.3 family the same way cardinality/skew do).

    Same two-phase shape as exact cardinality: one explode to
    ``(chunk, col, value)``, L1 partial counts collapse duplicates
    MAP-SIDE (a flooded value becomes one row per map task before the
    shuffle — profiling heavy hitters never suffers them), then a
    window rank per (chunk, col) keeps k rows. Deterministic tie-break:
    count DESC, value ASC — so results (and the DuckDB oracle) are
    reproducible at any parallelism. NULL is a reportable value (a null
    flood is a top item worth seeing); it ranks as the string "NULL"
    sentinel-free via a dedicated flag column.

    Result is LONG-FORM but per (chunk, column, rank): method ``top_k``,
    ``value`` = share, plus ``item_value`` / ``item_count`` / ``rank``
    columns — callers needing the conformed check schema project them off.
    """

    column_names: Sequence[str]
    k: int = 5
    chunker: Chunker = field(default_factory=DefaultChunker)

    def calculate(self, df: DataFrame, period: str = "analysis") -> DataFrame:
        from pyspark.sql import Window

        assigned, _ = assign_chunks(df, self.chunker)
        pairs = F.array(*[
            F.struct(F.lit(c).alias("c"), F.col(c).cast("string").alias("v"))
            for c in self.column_names
        ])
        ex = assigned.select(CHUNK_KEY, F.explode(pairs).alias("kv")).select(
            CHUNK_KEY, "kv.c", F.col("kv.v").alias("v")
        )
        l1 = ex.groupBy(CHUNK_KEY, "c", "v").agg(F.count(F.lit(1)).alias("cnt"))
        tot = Window.partitionBy(CHUNK_KEY, "c")
        # NULLS FIRST would float the null item above ties; pin NULL last in
        # the tie-break so engines agree (Spark default asc = NULLS FIRST,
        # DuckDB default = NULLS LAST)
        rank_w = tot.orderBy(F.col("cnt").desc(), F.col("v").asc_nulls_last())
        ranked = l1.select(
            CHUNK_KEY,
            F.col("c").alias("column_name"),
            "v",
            "cnt",
            F.row_number().over(rank_w).alias("rank"),
            F.sum("cnt").over(tot).alias("__rows"),
        ).filter(F.col("rank") <= self.k)
        return ranked.select(
            CHUNK_KEY,
            "column_name",
            F.lit("top_k").alias("method"),
            (F.col("cnt") / F.col("__rows")).cast("double").alias("value"),
            F.col("v").alias("item_value"),
            F.col("cnt").cast("long").alias("item_count"),
            F.col("rank").cast("int").alias("rank"),
        ).withColumn("period", F.lit(period))


@dataclass
class HistogramCalculator:
    """Per-chunk equi-width histograms over reference-fitted [lo, hi) ranges
    (Deequ ``Histogram`` / the reference's distribution plots as TABLES —
    the export the plot layer and any downstream BI reads).

    Binning is Spark SQL ``width_bucket`` over the fitted range — buckets
    ``1..n_bins`` plus the SQL-standard overflow bins 0 (below lo) and
    n_bins+1 (at/above hi), so analysis mass OUTSIDE the reference range is
    reported, never silently clipped. Calculate is ONE codegen
    ``groupBy(chunk)`` of columns × (n_bins+2) pivoted counts — pure
    aggregate expressions, map-side combinable, fusable into the suite's
    shared scan via ``fuse_contrib``. Fit is one min/max aggregate.
    """

    column_names: Sequence[str]
    n_bins: int = 10
    chunker: Chunker = field(default_factory=DefaultChunker)
    _ranges: Optional[Dict[str, tuple]] = None

    def fit(self, reference: DataFrame) -> "HistogramCalculator":
        dtypes = dict(reference.dtypes)
        aggs = []
        for c in self.column_names:
            v = nan_to_null(F.col(c), dtypes[c]).cast("double")
            aggs += [F.min(v).alias(f"{c}__lo"), F.max(v).alias(f"{c}__hi")]
        row = reference.agg(*aggs).first().asDict()
        self._ranges = {}
        for c in self.column_names:
            lo, hi = row[f"{c}__lo"], row[f"{c}__hi"]
            if lo is None:
                self._ranges[c] = (None, None)
                continue
            lo, hi = float(lo), float(hi)
            if hi <= lo:
                hi = lo + 1.0  # degenerate single-value reference
            self._ranges[c] = (lo, hi)
        return self

    def _count_exprs(self, dtypes, prefix: str):
        exprs = []
        for c in self.column_names:
            lo, hi = self._ranges[c]
            v = nan_to_null(F.col(c), dtypes[c]).cast("double")
            exprs.append(F.count(v).alias(f"{prefix}{c}__n"))
            if lo is None:
                continue
            b = F.width_bucket(v, F.lit(lo), F.lit(hi), F.lit(self.n_bins))
            for i in range(self.n_bins + 2):
                exprs.append(F.count(F.when(b == i, F.lit(1))).alias(f"{prefix}{c}__b{i}"))
        return exprs

    def _melt(self, wide: DataFrame, prefix: str, period: str) -> DataFrame:
        structs = []
        for c in self.column_names:
            lo, hi = self._ranges[c]
            if lo is None:
                continue
            width = (hi - lo) / self.n_bins
            for i in range(self.n_bins + 2):
                bin_lo = None if i == 0 else lo + (i - 1) * width
                bin_hi = None if i == self.n_bins + 1 else lo + i * width
                structs.append(F.struct(
                    F.lit(c).alias("column_name"),
                    F.lit(i).alias("bucket"),
                    F.lit(bin_lo).cast("double").alias("bin_lo"),
                    F.lit(bin_hi).cast("double").alias("bin_hi"),
                    F.col(f"{prefix}{c}__b{i}").cast("long").alias("item_count"),
                    (F.col(f"{prefix}{c}__b{i}")
                     / F.greatest(F.col(f"{prefix}{c}__n"), F.lit(1))).cast("double").alias("value"),
                ))
        return (
            wide.select(CHUNK_KEY, F.explode(F.array(*structs)).alias("kv"))
            .select(
                CHUNK_KEY,
                "kv.column_name",
                F.lit("histogram").alias("method"),
                "kv.bucket", "kv.bin_lo", "kv.bin_hi", "kv.item_count", "kv.value",
            )
            .withColumn("period", F.lit(period))
        )

    def calculate(self, df: DataFrame, period: str = "analysis") -> DataFrame:
        return calculate_alone(self, df, period)

    def fuse_contrib(self, dtypes, prefix: str):
        """Suite-fusion hook — pure aggregate expressions. NOTE: the result
        schema is the histogram export (bucket/bin/count columns), not the
        conformed alert schema; library callers (suite.py / fused_calculate)
        consume it directly."""
        if self._ranges is None:
            raise RuntimeError("fit first")
        exprs = self._count_exprs(dtypes, prefix)

        def fin(wide: DataFrame, period: str) -> DataFrame:
            return self._melt(wide, prefix, period)

        return exprs, fin

    def get_state(self) -> dict:
        if self._ranges is None:
            raise RuntimeError("fit first")
        return {"n_bins": self.n_bins, "ranges": {c: list(v) for c, v in self._ranges.items()}}

    def set_state(self, state: dict) -> "HistogramCalculator":
        self.n_bins = int(state["n_bins"])
        self._ranges = {
            c: (None, None) if v[0] is None else (float(v[0]), float(v[1]))
            for c, v in state["ranges"].items()
        }
        return self


@dataclass
class EntropyCalculator:
    """Per-chunk Shannon entropy per categorical column — class balance as
    one number (Deequ's ``Entropy`` analyzer surface; the skew check sees
    only the single hottest key, entropy sees the whole shape: a
    distribution quietly collapsing from 100 active categories to 5 drops
    H long before any one key dominates).

    Methods per (chunk, column):
    * ``entropy`` — ``−Σ (c/n)·ln(c/n)`` over non-null values (Deequ
      ignores NULLs; the missing-values check owns the NULL rate).
    * ``normalized_entropy`` — ``H / ln(k)`` for chunk-distinct ``k`` (1.0 =
      uniform, →0 = collapsed); NULL when k ≤ 1 (a constant column carries
      no balance information, and 0/0 must not read as "balanced").

    Same one-scan two-phase shape as exact cardinality / skew: L1
    ``(chunk, col, value)`` partial counts collapse map-side (a flooded key
    becomes ONE row per partition before the shuffle), L2 sums the entropy
    terms per (chunk, col). Not fusable (the L1 phase keys by value).

    Thresholds: constant band on the NORMALIZED entropy (scale-free across
    columns with different cardinalities); the raw entropy rows are
    informational.
    """

    column_names: Sequence[str]
    chunker: Chunker = field(default_factory=DefaultChunker)
    threshold: ConstantThreshold = field(default_factory=lambda: ConstantThreshold(lower=None, upper=None))

    def calculate(self, df: DataFrame, period: str = "analysis") -> DataFrame:
        assigned, headers = assign_chunks(df, self.chunker)
        pairs = F.array(*[
            F.struct(F.lit(c).alias("c"), F.col(c).cast("string").alias("v"))
            for c in self.column_names
        ])
        ex = assigned.select(CHUNK_KEY, F.explode(pairs).alias("kv")).select(
            CHUNK_KEY, "kv.c", "kv.v"
        )
        l1 = (
            ex.filter(F.col("v").isNotNull())
            .groupBy(CHUNK_KEY, "c", "v")
            .agg(F.count(F.lit(1)).alias("_cnt"))
        )
        # the identity H = ln(n) − (Σ c·ln c)/n turns the per-term p·ln p
        # (which needs n on every row — a join or window) into ONE L2
        # aggregate over the already-collapsed frame
        cnt = F.col("_cnt").cast("double")
        l2 = l1.groupBy(CHUNK_KEY, "c").agg(
            F.sum("_cnt").alias("__n"),
            F.count(F.lit(1)).alias("__k"),
            F.sum(cnt * F.log(cnt)).alias("__s"),
        ).withColumn(
            "__h",
            F.when(
                F.col("__n") > 0,
                F.log(F.col("__n").cast("double")) - F.col("__s") / F.col("__n").cast("double"),
            ),
        )
        long_df = l2.select(
            CHUNK_KEY,
            F.col("c").alias("column_name"),
            F.explode(F.array(
                F.struct(
                    F.lit("entropy").alias("method"),
                    F.col("__h").cast("double").alias("value"),
                ),
                F.struct(
                    F.lit("normalized_entropy").alias("method"),
                    F.when(
                        F.col("__k") > 1,
                        F.col("__h") / F.log(F.col("__k").cast("double")),
                    ).cast("double").alias("value"),
                ),
            )).alias("kv"),
        ).select(CHUNK_KEY, "column_name", "kv.method", "kv.value")
        out = _attach_const_threshold(
            join_headers(long_df, headers), period, self.threshold.lower, self.threshold.upper
        )
        # raw-entropy rows are informational: the constant band is calibrated
        # on the scale-free normalized metric (the urls_per_doc convention)
        keep = F.col("method") == "normalized_entropy"
        return (
            out.withColumn("lower_threshold", F.when(keep, F.col("lower_threshold")))
            .withColumn("upper_threshold", F.when(keep, F.col("upper_threshold")))
            .withColumn("alert", F.when(keep, F.col("alert")).otherwise(F.lit(False)))
        )


@dataclass
class RowCompletenessCalculator:
    """Per-chunk RECORD-level completeness: what fraction of each row's
    configured fields are populated (Deequ/GE carry column-wise
    completeness — the missing-values calculator here — but a training
    pipeline gates on the ROW: a record missing 4 of 6 features is
    unusable even when every column's own null rate looks healthy).

    Methods per chunk (``column_name`` = the joined field list):
    * ``row_completeness`` — mean populated fraction. Computed as
      ``Σ per-row non-null count / (rows · n_fields)`` — an integer
      division, so the value is bit-identical at any parallelism (summing
      per-row FRACTIONS in doubles would be order-dependent).
    * ``incomplete_row_rate`` — fraction of rows whose populated count is
      below ``min_fraction`` (strict), compared in integers:
      ``nonnull_count < min_fraction · n_fields`` evaluated per row.

    Pure codegen aggregate — fusable into the suite's shared scan.
    """

    column_names: Sequence[str]
    min_fraction: float = 1.0
    chunker: Chunker = field(default_factory=DefaultChunker)
    threshold: ConstantThreshold = field(default_factory=lambda: ConstantThreshold(lower=None, upper=0))
    id_column: Optional[str] = None  # row identity in violation output

    def _row_nonnull(self, dtypes) -> F.Column:
        cnt = None
        for c in self.column_names:
            v = nan_to_null(F.col(c), dtypes[c]).isNotNull().cast("int")
            cnt = v if cnt is None else cnt + v
        return cnt

    def _exprs(self, dtypes, prefix: str):
        nn = self._row_nonnull(dtypes)
        m = len(self.column_names)
        # strict < on the exact integer count; the float product appears
        # only against an integer, identically on the oracle side
        incomplete = (nn < F.lit(float(self.min_fraction) * m)).cast("int")
        return [
            F.sum(nn).alias(f"{prefix}__nn"),
            F.sum(incomplete).alias(f"{prefix}__inc"),
        ]

    def _melt(self, wide: DataFrame, prefix: str) -> DataFrame:
        m = len(self.column_names)
        name = "+".join(self.column_names)
        rows_ = F.col("n_rows")
        pairs = [
            F.struct(
                F.lit(name).alias("column_name"),
                F.lit("row_completeness").alias("method"),
                (F.col(f"{prefix}__nn") / (rows_ * F.lit(m))).cast("double").alias("value"),
            ),
            F.struct(
                F.lit(name).alias("column_name"),
                F.lit("incomplete_row_rate").alias("method"),
                (F.col(f"{prefix}__inc") / rows_).cast("double").alias("value"),
            ),
        ]
        return _melt_long(wide, pairs)

    def _gate(self, long_df: DataFrame) -> DataFrame:
        # only incomplete_row_rate carries the alert band; the mean row is
        # informational (the urls_per_doc convention)
        keep = F.col("method") == "incomplete_row_rate"
        return (
            long_df.withColumn("lower_threshold", F.when(keep, F.col("lower_threshold")))
            .withColumn("upper_threshold", F.when(keep, F.col("upper_threshold")))
            .withColumn("alert", F.when(keep, F.col("alert")).otherwise(F.lit(False)))
        )

    def calculate(self, df: DataFrame, period: str = "analysis") -> DataFrame:
        return calculate_alone(self, df, period)

    def fuse_contrib(self, dtypes, prefix: str):
        exprs = self._exprs(dtypes, prefix)

        def fin(wide: DataFrame, period: str) -> DataFrame:
            long_df = self._melt(wide, prefix)
            out = _attach_const_threshold(long_df, period, self.threshold.lower, self.threshold.upper)
            return self._gate(out)

        return exprs, fin

    def violations(self, df: DataFrame, row_id: Optional[str] = None) -> DataFrame:
        row_id = row_id or self.id_column
        dtypes = dict(df.dtypes)
        assigned = self.chunker.assign(df)
        nn = self._row_nonnull(dtypes)
        m = len(self.column_names)
        bad = assigned.filter(nn < F.lit(float(self.min_fraction) * m))
        return bad.select(
            F.lit("row_completeness").alias("check"),
            F.lit("+".join(self.column_names)).alias("column_name"),
            F.col(CHUNK_KEY),
            (F.col(row_id).cast("string") if row_id else F.lit(None).cast("string")).alias("row_id"),
            F.lit("incomplete_row").alias("violation_kind"),
            F.concat_ws("/", nn.cast("string"), F.lit(str(m))).alias("observed_value"),
        )


@dataclass
class BenfordCalculator:
    """Per-chunk conformance of a numeric column's FIRST SIGNIFICANT DIGIT
    distribution to Benford's law — the fraud/synthetic-data anomaly screen
    (Nigrini's MAD statistic; naturally-occurring multi-magnitude
    quantities follow ``P(d) = log10(1 + 1/d)``, fabricated or truncated
    feeds don't).

    Digit extraction is cross-engine exact: the value is cast to
    ``DECIMAL(38,6)`` (deterministic plain-notation string in both Spark
    and DuckDB — double→string would hit shortest-roundtrip formatting
    differences) and the first ``[1-9]`` is taken from the string.
    Magnitudes below 5e-7 round to 0 and are excluded, as are NULLs,
    zeros and (via the regex) sign characters; abs() first.

    Value per (chunk, column): ``benford_mad`` — mean absolute deviation
    of the 9 observed digit frequencies from Benford expectations. Nigrini
    closeness bands: <0.006 close, <0.012 acceptable, <0.015 marginal;
    the default alert threshold 0.015 flags nonconformity. One codegen
    aggregate (9 conditional counts per column) — fusable.
    """

    column_names: Sequence[str]
    chunker: Chunker = field(default_factory=DefaultChunker)
    threshold: ConstantThreshold = field(default_factory=lambda: ConstantThreshold(lower=None, upper=0.015))

    def _digit(self, c: str) -> F.Column:
        s = F.abs(F.col(c).cast("double")).cast("decimal(38,6)").cast("string")
        return F.regexp_extract(s, "[1-9]", 0)

    def _exprs(self, dtypes, prefix: str):
        exprs = []
        for c in self.column_names:
            d = self._digit(c)
            exprs.append(F.count(F.when(d != "", F.lit(1))).alias(f"{prefix}{c}__bn"))
            for k in range(1, 10):
                exprs.append(
                    F.count(F.when(d == str(k), F.lit(1))).alias(f"{prefix}{c}__b{k}")
                )
        return exprs

    def _melt(self, wide: DataFrame, prefix: str, hdr_cols=_HDR_COLS) -> DataFrame:
        pairs = []
        for c in self.column_names:
            n = F.greatest(F.col(f"{prefix}{c}__bn"), F.lit(1))
            total = None
            for k in range(1, 10):
                exp_p = math.log10(1.0 + 1.0 / k)
                term = F.abs(F.col(f"{prefix}{c}__b{k}") / n - F.lit(exp_p))
                total = term if total is None else total + term
            mad = F.when(F.col(f"{prefix}{c}__bn") > 0, total / F.lit(9.0))
            pairs.append(
                F.struct(
                    F.lit(c).alias("column_name"),
                    F.lit("benford_mad").alias("method"),
                    mad.cast("double").alias("value"),
                )
            )
        return wide.select(
            CHUNK_KEY, *hdr_cols, F.explode(F.array(*pairs)).alias("kv")
        ).select(CHUNK_KEY, *hdr_cols, "kv.column_name", "kv.method", "kv.value")

    def calculate(self, df: DataFrame, period: str = "analysis") -> DataFrame:
        return calculate_alone(self, df, period)

    def fuse_contrib(self, dtypes, prefix: str):
        exprs = self._exprs(dtypes, prefix)

        def fin(wide: DataFrame, period: str) -> DataFrame:
            long_df = self._melt(wide, prefix)
            return _attach_const_threshold(long_df, period, self.threshold.lower, self.threshold.upper)

        return exprs, fin


@dataclass
class ShapeStatsCalculator:
    """Per-chunk distribution SHAPE: skewness and excess kurtosis per
    numeric column (whylogs/pandas-profiling surface; NannyML stops at
    avg/std — `nannyml/data_quality/simple`). Shape moves before the mean
    does: a feature developing a heavy right tail keeps its average while
    g1 jumps — the early-warning complement of the avg/std stats.

    Cross-engine determinism (the zscore device, one moment further):
    per-chunk sums of v, v², v³, v⁴ accumulate as DECIMAL(38,6) — addition
    is order-independent, so the sums are bit-identical at any
    parallelism — and the central-moment derivation
    (``m2 = s2/n − μ²``, ``m3 = s3/n − 3μs2/n + 2μ³``,
    ``m4 = s4/n − 4μs3/n + 6μ²s2/n − 3μ⁴``) runs in plain IEEE doubles a
    DuckDB oracle mirrors op-for-op. Headroom: DECIMAL(38,6) overflows at
    ~10^31 total magnitude; v⁴ of a 10^5-scale column over a 10^9-row
    chunk is ~10^29 — document larger magnitudes out of scope (pre-scale
    the column). Population formulas: ``g1 = m3/m2^1.5``,
    ``g2 = m4/m2² − 3``; chunks with fewer than 2 distinct-valued rows
    (m2 == 0) yield NULL, never an alert.

    Pure codegen aggregate — fusable into the suite's shared scan.
    """

    column_names: Sequence[str]
    chunker: Chunker = field(default_factory=DefaultChunker)
    threshold: ConstantThreshold = field(default_factory=lambda: ConstantThreshold(lower=None, upper=None))

    def _exprs(self, dtypes, prefix: str):
        exprs = []
        for c in self.column_names:
            v = nan_to_null(F.col(c), dtypes[c]).cast("double")
            exprs += [
                F.count(v).alias(f"{prefix}{c}__n"),
                F.sum(v.cast(_DEC_V)).alias(f"{prefix}{c}__s1"),
                F.sum((v * v).cast(_DEC_S)).alias(f"{prefix}{c}__s2"),
                F.sum((v * v * v).cast(_DEC_S)).alias(f"{prefix}{c}__s3"),
                F.sum((v * v * v * v).cast(_DEC_S)).alias(f"{prefix}{c}__s4"),
            ]
        return exprs

    def _melt(self, wide: DataFrame, prefix: str) -> DataFrame:
        pairs = []
        for c in self.column_names:
            n = F.col(f"{prefix}{c}__n").cast("double")
            s1 = F.col(f"{prefix}{c}__s1").cast("double")
            s2 = F.col(f"{prefix}{c}__s2").cast("double")
            s3 = F.col(f"{prefix}{c}__s3").cast("double")
            s4 = F.col(f"{prefix}{c}__s4").cast("double")
            mu = s1 / n
            m2 = s2 / n - mu * mu
            m3 = s3 / n - F.lit(3.0) * mu * (s2 / n) + F.lit(2.0) * mu * mu * mu
            m4 = (
                s4 / n
                - F.lit(4.0) * mu * (s3 / n)
                + F.lit(6.0) * mu * mu * (s2 / n)
                - F.lit(3.0) * mu * mu * mu * mu
            )
            ok = (F.col(f"{prefix}{c}__n") > 1) & (m2 > 0)
            g1 = F.when(ok, m3 / F.pow(m2, F.lit(1.5)))
            g2 = F.when(ok, m4 / (m2 * m2) - F.lit(3.0))
            pairs += [
                F.struct(
                    F.lit(c).alias("column_name"),
                    F.lit("skewness").alias("method"),
                    g1.cast("double").alias("value"),
                ),
                F.struct(
                    F.lit(c).alias("column_name"),
                    F.lit("excess_kurtosis").alias("method"),
                    g2.cast("double").alias("value"),
                ),
            ]
        return _melt_long(wide, pairs)

    def calculate(self, df: DataFrame, period: str = "analysis") -> DataFrame:
        dtypes = dict(df.dtypes)
        assigned = self.chunker.assign(df)
        # DECIMAL(38,6) sums are BigDecimal-backed (not vectorized), and the
        # <=5M-row chunk-index sort emits ONE partition - the map-side partial
        # aggregation of 4 power sums x columns would run SERIALLY (measured
        # 10.4 s for 600k rows x 2 columns, ~1 s parallel). Decimal addition
        # is order-independent - that is this calculator's determinism
        # contract - so a round-robin repartition is bit-identical. Applied
        # only on the small-data sort path; the >5M scalable index is already
        # partitioned and a full-row reshuffle there would cost real I/O.
        from spark_validate.chunking import ROW_INDEX, SORT_INDEX_THRESHOLD

        n = getattr(self.chunker, "_last_assign_n", None)
        if ROW_INDEX in assigned.columns and n is not None and n <= SORT_INDEX_THRESHOLD:
            assigned = assigned.repartition(shuffle_partitions(df.sparkSession))
        wide = chunk_aggregate(assigned, self.chunker, self._exprs(dtypes, ""))
        long_df = self._melt(wide, "")
        return _attach_const_threshold(long_df, period, self.threshold.lower, self.threshold.upper)

    def fuse_contrib(self, dtypes, prefix: str):
        exprs = self._exprs(dtypes, prefix)

        def fin(wide: DataFrame, period: str) -> DataFrame:
            long_df = self._melt(wide, prefix)
            return _attach_const_threshold(long_df, period, self.threshold.lower, self.threshold.upper)

        return exprs, fin
