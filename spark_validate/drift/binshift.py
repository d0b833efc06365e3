"""Per-bin share-shift attribution for continuous columns.

The continuous sibling of ``drift/catshift.py``: the continuous drift
METHODS (JS, PSI, KS, Wasserstein…) compress a chunk's histogram change
into one number; when the alert fires the first operator question is
*where in the range did the mass move*.  This calculator answers it: for
each chunk and each fitted equal-width reference bin, the signed share
delta ``chunk_share − ref_share``, ranked by magnitude, top-m reported —
including the two OUT-OF-RANGE bins (below reference min / above
reference max, ref_share 0 by construction), because mass leaving the
reference support is the most common real-world shift (sensor saturation,
unit changes, new clipping) and is itself a mover.  Reference model:
NannyML's single-valued continuous methods
(``nannyml/drift/univariate/methods.py``) have no bin-level attribution.

Scale shape
-----------
* Fit is ONE moments aggregate (count/min/max/skewness — Doane's rule) +
  ONE bucket-count aggregation over the reference; state is ≤ n_bins
  probabilities per column (bounded, JSON-serializable).
* Calculate is one exploded ``(chunk, column, bucket)`` count shuffle for
  ALL columns (map-side combined — identical shape to
  ``univariate.py::_continuous_histogram``), a broadcast join against the
  ≤ cols × (n_bins + 2) fitted frame, and a rank window over
  ≤ chunks × cols × (n_bins + 2) rows.  The corpus is never joined
  row-wise; output is bounded by top_m.
* Shares are single int→double divisions and bin edges are the same
  ``lo + width·b/n`` doubles in any engine — attribution rows hash exact.

NULL values are excluded (missingness is the missing-values check's job);
a fitted bin with no chunk mass surfaces with ``chunk_share = 0`` (a
vanishing mode is a mover too).  Ties on |delta| break by bucket index
ascending — deterministic everywhere.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Dict, List, Optional, Sequence, Tuple

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from spark_validate.calculators.base import assign_chunks, join_headers_long, nan_to_null
from spark_validate.chunking import CHUNK_KEY, Chunker, DefaultChunker
from spark_validate.drift.univariate import bucket_expr, doane_bin_count
from spark_validate.functions.local import local_frame
from spark_validate.result import conform_result
from spark_validate.thresholds import alert_expr


@dataclass
class BinShiftCalculator:
    """fit(reference) → movers(analysis) / calculate(analysis)."""

    column_names: Sequence[str]
    chunker: Chunker = field(default_factory=DefaultChunker)
    n_bins: Optional[int] = None  # override Doane's rule with a fixed count
    top_m: int = 5
    delta_threshold: float = 0.05  # alert when |share delta| exceeds this
    _state: Optional[Dict[str, Dict]] = None
    _live_caches: Optional[list] = None

    # -- cache management (the catshift/univariate pattern) --------------------

    def _persist(self, df: DataFrame) -> DataFrame:
        df = df.persist()
        if self._live_caches is None:
            self._live_caches = []
        self._live_caches.append(df)
        return df

    def release_cache(self) -> None:
        """Unpersist cached intermediates from the last movers/calculate call."""
        for df in self._live_caches or ():
            df.unpersist(blocking=False)
        self._live_caches = []

    # -- fit -------------------------------------------------------------------

    def fit(self, reference: DataFrame) -> "BinShiftCalculator":
        dtypes = dict(reference.dtypes)
        aggs = []
        for c in self.column_names:
            v = nan_to_null(F.col(c), dtypes[c]).cast("double")
            aggs += [
                F.count(v).alias(f"{c}__n"),
                F.min(v).alias(f"{c}__lo"),
                F.max(v).alias(f"{c}__hi"),
                F.skewness(v).alias(f"{c}__g1"),
            ]
        row = reference.agg(*aggs).first().asDict()
        state: Dict[str, Dict] = {}
        for c in self.column_names:
            n, lo, hi, g1 = (row[f"{c}__n"], row[f"{c}__lo"], row[f"{c}__hi"], row[f"{c}__g1"])
            if n == 0 or lo is None:
                raise ValueError(f"reference column {c!r} has no non-null values")
            lo, hi = float(lo), float(hi)
            if lo == hi:  # np.histogram's ±0.5 widening, univariate parity
                lo, hi = lo - 0.5, hi + 0.5
            nb = self.n_bins or doane_bin_count(int(n), g1 if g1 is not None else 0.0)
            state[c] = {"lo": lo, "hi": hi, "n_bins": int(nb), "n_ref": int(n)}
        self._state = state
        counts = (
            self._hist(reference, dtypes, chunked=False)
            .groupBy("column_name", "bucket")
            .agg(F.sum("cnt").alias("cnt"))
            .collect()
        )
        by_col: Dict[str, Dict[int, int]] = {}
        for r in counts:
            by_col.setdefault(r["column_name"], {})[r["bucket"]] = int(r["cnt"])
        for c in self.column_names:
            cmap = by_col.get(c, {})
            st = state[c]
            st["probs"] = [cmap.get(b, 0) / st["n_ref"] for b in range(st["n_bins"])]
        return self

    def get_state(self) -> dict:
        if self._state is None:
            raise RuntimeError("fit first")
        return {"version": 1, "columns": list(self.column_names), "state": self._state}

    def set_state(self, state: dict) -> None:
        missing = [c for c in self.column_names if c not in state["columns"]]
        if missing:
            raise ValueError(f"stored state lacks columns {missing}")
        self._state = {c: state["state"][c] for c in self.column_names}

    # -- shared pieces ---------------------------------------------------------

    def _hist(self, df: DataFrame, dtypes, chunked: bool) -> DataFrame:
        """(chunk?, column_name, bucket) → cnt for every fitted column in one
        exploded pass; out-of-range markers (-1 / n_bins) are KEPT — they
        are the out-of-support bins."""
        if self._state is None:
            raise RuntimeError("fit first")
        structs = []
        for c in self.column_names:
            st = self._state[c]
            v = nan_to_null(F.col(c), dtypes[c]).cast("double")
            structs.append(
                F.struct(
                    F.lit(c).alias("column_name"),
                    F.when(v.isNull(), F.lit(None))
                    .otherwise(bucket_expr(v, st["lo"], st["hi"], st["n_bins"]))
                    .alias("bucket"),
                )
            )
        keys = [CHUNK_KEY] if chunked else []
        exploded = (
            df.select(*keys, F.explode(F.array(*structs)).alias("kv"))
            .select(*keys, "kv.column_name", "kv.bucket")
            .filter(F.col("bucket").isNotNull())
        )
        return exploded.groupBy(*keys, "column_name", "bucket").agg(
            F.count(F.lit(1)).alias("cnt")
        )

    def _fitted_frame(self, spark) -> DataFrame:
        """(column_name, bucket, bin_lo, bin_hi, ref_share): the fitted bins
        plus the two out-of-range bins with ref_share 0.  Edges are
        ``lo + (width · b) / n`` — compute-order-pinned for oracle parity.
        Broadcast by construction (≤ cols × (n_bins + 2) rows)."""
        if self._state is None:
            raise RuntimeError("fit first")
        rows: List[Tuple] = []
        for c in self.column_names:
            st = self._state[c]
            lo, hi, nb = st["lo"], st["hi"], st["n_bins"]
            width = hi - lo
            rows.append((c, -1, None, lo, 0.0))
            for b in range(nb):
                rows.append(
                    (c, b, lo + (width * b) / nb, lo + (width * (b + 1)) / nb,
                     st["probs"][b])
                )
            rows.append((c, nb, hi, None, 0.0))
        return F.broadcast(
            local_frame(
                spark,
                rows,
                "column_name string, bucket int, bin_lo double, bin_hi double, ref_share double",
            )
        )

    def _dense(self, df: DataFrame) -> Tuple[DataFrame, DataFrame]:
        """(dense, headers): per (chunk, column, bucket) over fitted bins
        (incl. out-of-range) with ref_share, chunk_share, delta."""
        if self._state is None:
            raise RuntimeError("fit first")
        dtypes = dict(df.dtypes)
        assigned, headers = assign_chunks(df, self.chunker)
        fitted = self._fitted_frame(df.sparkSession)
        self.release_cache()
        cnt = self._persist(self._hist(assigned, dtypes, chunked=True))
        tot = cnt.groupBy(CHUNK_KEY, "column_name").agg(F.sum("cnt").alias("n"))
        dense = (
            tot.join(fitted, "column_name")  # chunk × fitted bins (dense)
            .join(cnt, [CHUNK_KEY, "column_name", "bucket"], "left")
            .select(
                CHUNK_KEY,
                "column_name",
                "bucket",
                "bin_lo",
                "bin_hi",
                "ref_share",
                (F.coalesce(F.col("cnt"), F.lit(0)) / F.col("n")).alias("chunk_share"),
            )
            .withColumn("delta", F.col("chunk_share") - F.col("ref_share"))
        )
        return dense, headers

    # -- outputs ---------------------------------------------------------------

    def _rank_window(self):
        return Window.partitionBy(CHUNK_KEY, "column_name").orderBy(
            F.abs(F.col("delta")).desc(), F.col("bucket").asc()
        )

    def movers(self, df: DataFrame, period: str = "analysis") -> DataFrame:
        """Top-m bins per (chunk, column) by |delta| — deterministic
        tie-break |delta| DESC, bucket ASC.  Out-of-range bins rank like
        any other (mass escaping the reference support is a mover)."""
        dense, _ = self._dense(df)
        return (
            dense.withColumn("rank", F.row_number().over(self._rank_window()))
            .filter(F.col("rank") <= self.top_m)
            .select(
                CHUNK_KEY,
                "column_name",
                F.col("bucket").cast("int"),
                F.col("bin_lo").cast("double"),
                F.col("bin_hi").cast("double"),
                F.col("ref_share").cast("double"),
                F.col("chunk_share").cast("double"),
                F.col("delta").cast("double"),
                F.col("rank").cast("int"),
                (F.abs(F.col("delta")) > F.lit(float(self.delta_threshold))).alias("alert"),
            )
            .withColumn("period", F.lit(period))
        )

    def calculate(self, df: DataFrame, period: str = "analysis") -> DataFrame:
        """Conformed long rows: method ``bin_delta_max`` — the signed delta
        of each chunk/column's largest-|delta| bin; alerts when the
        magnitude clears ``delta_threshold``."""
        dense, headers = self._dense(df)
        top = (
            dense.withColumn("_rk", F.row_number().over(self._rank_window()))
            .filter(F.col("_rk") == 1)
        )
        long_df = top.select(
            CHUNK_KEY,
            "column_name",
            F.lit("bin_delta_max").alias("method"),
            F.col("delta").cast("double").alias("value"),
            F.lit(-float(self.delta_threshold)).alias("lower_threshold"),
            F.lit(float(self.delta_threshold)).alias("upper_threshold"),
        ).withColumn("alert", alert_expr())
        return conform_result(join_headers_long(long_df, headers, period))

    def importance_weights(
        self,
        df: DataFrame,
        column: Optional[str] = None,
        out_col: str = "importance_weight",
        max_weight: float = 10.0,
    ) -> DataFrame:
        """Covariate-shift correction weights from the fitted histogram:
        ``w(x) = p_ref(bin(x)) / p_analysis(bin(x))`` — the binned
        density-ratio estimator (Shimodaira 2000 importance weighting;
        Sugiyama's KLIEP/uLSIF are its smooth cousins).  Weighting the
        ANALYSIS sample by ``w`` makes its bin distribution match the
        reference, the standard correction before re-evaluating or
        retraining on drifted data.

        One global aggregation computes the analysis bin shares, then the
        weight is a broadcast-mapped row-local column — no per-row joins
        against anything unbounded.  Conventions: weights clip at
        ``max_weight`` (density ratios explode where analysis mass is
        thin); out-of-range bins (no reference mass) weigh 0; NULL values
        weigh NULL — callers decide whether unmeasured rows keep default
        weight 1 or drop."""
        if self._state is None:
            raise RuntimeError("fit first")
        cols = list(self.column_names)
        if column is None:
            if len(cols) != 1:
                raise ValueError(f"multiple fitted columns {cols}; pass column=")
            column = cols[0]
        elif column not in cols:
            raise ValueError(f"{column!r} not among fitted columns {cols}")
        st = self._state[column]
        dtypes = dict(df.dtypes)
        v = nan_to_null(F.col(column), dtypes[column]).cast("double")
        b = F.when(v.isNull(), F.lit(None)).otherwise(
            bucket_expr(v, st["lo"], st["hi"], st["n_bins"])
        )
        counts = (
            df.select(b.alias("__b"))
            .filter(F.col("__b").isNotNull())
            .groupBy("__b")
            .agg(F.count(F.lit(1)).alias("__c"))
            .collect()  # bounded: <= n_bins + 2 rows
        )
        n = sum(r["__c"] for r in counts)
        if n == 0:
            raise ValueError(f"analysis column {column!r} has no non-null values")
        q = {int(r["__b"]): r["__c"] / n for r in counts}
        probs = st["probs"]
        weights = {}
        for bucket in range(-1, st["n_bins"] + 1):
            p = 0.0 if bucket in (-1, st["n_bins"]) else probs[bucket]
            qa = q.get(bucket, 0.0)
            # qa == 0 with p > 0: the bin never occurs in analysis, so the
            # weight is never applied — any finite placeholder works
            weights[bucket] = min(p / qa, float(max_weight)) if qa > 0 else 0.0
        wmap = F.create_map(
            *[F.lit(x) for kv in weights.items() for x in kv]
        )
        return df.withColumn(out_col, wmap[b].cast("double"))

    def violations(self, df: DataFrame, row_id: Optional[str] = None) -> DataFrame:
        """Movers as violation rows (runner sink shape): one row per
        (chunk, column, bin) in the top-m whose |delta| clears the
        threshold; the bin is the row id (attribution is bin-shaped)."""
        mv = self.movers(df).filter(F.col("alert"))
        return mv.select(
            F.lit("bin_shift").alias("check"),
            F.col("column_name"),
            F.col(CHUNK_KEY),
            F.concat(F.lit("bin_"), F.col("bucket").cast("string")).alias("row_id"),
            F.lit("bin_shift").alias("violation_kind"),
            # labeled fields, NULL edges spelled out — concat_ws silently
            # drops NULLs and would make '0.6|1.0' ambiguous for the two
            # out-of-range bins (one edge is always NULL there)
            F.concat(
                F.lit("ref="), F.round("ref_share", 6).cast("string"),
                F.lit(" chunk="), F.round("chunk_share", 6).cast("string"),
                F.lit(" delta="), F.round("delta", 6).cast("string"),
                F.lit(" bin=["),
                F.coalesce(F.round("bin_lo", 6).cast("string"), F.lit("-inf")),
                F.lit(", "),
                F.coalesce(F.round("bin_hi", 6).cast("string"), F.lit("+inf")),
                F.lit(") rank="), F.col("rank").cast("string"),
            ).alias("observed_value"),
        )
