"""Per-category share-shift attribution.

The categorical drift METHODS (JS, chi2, L∞, TVD…) compress a chunk's
distribution change into one number per column; when the alert fires the
first operator question is *which category moved*. This calculator answers
it: for each chunk and each fitted reference category, the signed share
delta ``chunk_share − ref_share``, ranked by magnitude, top-m reported —
the attribution detail Evidently's categorical drift tables expose and the
reference's single-valued methods (``nannyml/drift/univariate/methods.py``)
do not.

Scale shape
-----------
* Fit reuses the bounded categorical-fit pattern of
  `drift/univariate.py::_fit_categorical`: one map-side-combined count
  aggregation, Spark-side ``row_number`` window keeps top
  ``max_categories`` BEFORE the collect (driver never sees an unbounded
  distinct set); tail mass is exact via a one-row totals aggregate and
  becomes the ``__other__`` lump.
* Calculate is one ``groupBy(chunk, value)`` count shuffle (hot categories
  collapse map-side), a broadcast join against the ≤max_categories fitted
  frame to fold unseen values into ``__other__``, a second tiny re-agg over
  the already-collapsed counts, and a rank window over ≤(chunks ×
  (max_categories+1)) rows. The corpus is never joined row-wise.
* Output is bounded by construction: ≤ top_m rows per (chunk, column).

Result contract: ``calculate`` emits conformed long rows (method
``share_delta_max`` — the chunk's largest |delta|, signed, thresholded on
|value|); ``movers`` emits the per-category detail (category, ref_share,
chunk_share, delta, rank) for the report/violations sink. NULL values are
excluded on both sides (missing is the missing-values check's job);
categories present in reference but absent from a chunk surface with
``chunk_share = 0`` (a disappearing category is a mover too).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Dict, Optional, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from typing import Tuple

from spark_validate.calculators.base import assign_chunks, join_headers_long
from spark_validate.chunking import CHUNK_KEY, Chunker, DefaultChunker
from spark_validate.drift.univariate import bounded_topk_category_counts, categorical_counts
from spark_validate.functions.local import local_frame
from spark_validate.result import conform_result
from spark_validate.thresholds import alert_expr

OTHER = "__other__"


@dataclass
class CategoryShiftCalculator:
    """fit(reference) → movers(analysis) / calculate(analysis)."""

    column_names: Sequence[str]
    chunker: Chunker = field(default_factory=DefaultChunker)
    max_categories: int = 200
    top_m: int = 5
    delta_threshold: float = 0.05  # alert when |share delta| exceeds this
    _state: Optional[Dict[str, Dict]] = None
    _live_caches: Optional[list] = None

    # -- cache management (the univariate pattern) -----------------------------
    # The mapped counts frame feeds BOTH the per-chunk totals and the dense
    # join; Catalyst cannot reuse the shared subtree across those branches,
    # so without persisting it the corpus is scanned and count-aggregated
    # TWICE per call (verified in the physical plan). The frame is bounded
    # (≤ chunks × (max_categories + 1) rows), so persisting it is cheap; at
    # most one call's caches stay live per calculator.

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

    def fit(self, reference: DataFrame) -> "CategoryShiftCalculator":
        dtypes = dict(reference.dtypes)
        counts = categorical_counts(reference, self.column_names, dtypes, chunked=False)
        totals, per_col = bounded_topk_category_counts(
            counts, self.column_names, self.max_categories
        )
        state: Dict[str, Dict] = {}
        for c in self.column_names:
            cats = {v: int(n) for v, n in per_col[c].items()}
            if OTHER in cats:
                # a REAL category named like the sentinel would collide with
                # the unseen-tail lump (double-joined counts, two conflicting
                # ref_share rows) — refuse loudly rather than mis-attribute
                raise ValueError(
                    f"column {c!r} has a reference category literally named "
                    f"{OTHER!r}, which collides with the unseen-value lump; "
                    "rename or pre-map that value before fitting"
                )
            state[c] = {"n_ref": int(totals.get(c, 0)), "counts": cats}
        self._state = state
        return self

    def get_state(self) -> dict:
        if self._state is None:
            raise RuntimeError("fit first")
        return {"version": 1, "columns": list(self.column_names), "state": self._state}

    def set_state(self, state: dict) -> None:
        cols = state["columns"]
        missing = [c for c in self.column_names if c not in cols]
        if missing:
            raise ValueError(f"stored state lacks columns {missing}")
        for c in self.column_names:
            if OTHER in state["state"][c]["counts"]:
                raise ValueError(
                    f"stored state for {c!r} contains a category named {OTHER!r} "
                    "(collides with the unseen-value lump)"
                )
        self._state = {c: state["state"][c] for c in self.column_names}

    # -- shared pieces ---------------------------------------------------------

    def _fitted_frame(self, spark) -> DataFrame:
        """(column_name, value, ref_share) — top-K categories plus the exact
        ``__other__`` tail lump. Broadcast by construction (≤ cols ×
        (max_categories+1) rows)."""
        if self._state is None:
            raise RuntimeError("fit first")
        rows = []
        for c in self.column_names:
            st = self._state[c]
            n = max(int(st["n_ref"]), 1)
            kept = 0
            for v, cnt in st["counts"].items():
                kept += int(cnt)
                rows.append((c, v, int(cnt) / n))
            rows.append((c, OTHER, (int(st["n_ref"]) - kept) / n))
        return F.broadcast(
            local_frame(spark, rows, "column_name string, value string, ref_share double")
        )

    # -- calculate -------------------------------------------------------------

    def _dense(self, df: DataFrame) -> Tuple[DataFrame, DataFrame]:
        """(dense, headers): per (chunk, column, category) frame over fitted
        categories (+ __other__) with ref_share, chunk_share, delta."""
        dtypes = dict(df.dtypes)
        assigned, headers = assign_chunks(df, self.chunker)
        fitted = self._fitted_frame(df.sparkSession)
        cnt = categorical_counts(assigned, self.column_names, dtypes, chunked=True)
        # fold values unseen in reference into the __other__ lump: join the
        # (already collapsed) counts against the tiny fitted frame, then
        # re-aggregate — the second agg runs over ≤ distinct-category rows.
        known = fitted.select("column_name", "value", F.lit(1).alias("_k"))
        self.release_cache()
        mapped = self._persist(
            cnt.join(known, ["column_name", "value"], "left")
            .select(
                CHUNK_KEY,
                "column_name",
                F.when(F.col("_k").isNotNull(), F.col("value")).otherwise(F.lit(OTHER)).alias("value"),
                "cnt",
            )
            .groupBy(CHUNK_KEY, "column_name", "value")
            .agg(F.sum("cnt").alias("cnt"))
        )
        tot = mapped.groupBy(CHUNK_KEY, "column_name").agg(F.sum("cnt").alias("n"))
        dense = (
            tot.join(fitted, "column_name")  # chunk × fitted cats (dense)
            .join(mapped, [CHUNK_KEY, "column_name", "value"], "left")
            .select(
                CHUNK_KEY,
                "column_name",
                "value",
                "ref_share",
                (F.coalesce(F.col("cnt"), F.lit(0)) / F.col("n")).alias("chunk_share"),
            )
            .withColumn("delta", F.col("chunk_share") - F.col("ref_share"))
        )
        return dense, headers

    def movers(self, df: DataFrame, period: str = "analysis") -> DataFrame:
        """Top-m categories per (chunk, column) by |delta| — deterministic
        tie-break |delta| DESC, category ASC. ``__other__`` rows aggregate
        all reference-unseen values (an emerging brand-new category shows
        up here)."""
        dense, _ = self._dense(df)
        w = Window.partitionBy(CHUNK_KEY, "column_name").orderBy(
            F.abs(F.col("delta")).desc(), F.col("value").asc()
        )
        return (
            dense.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= self.top_m)
            .select(
                CHUNK_KEY,
                "column_name",
                F.col("value").alias("category"),
                F.col("ref_share").cast("double"),
                F.col("chunk_share").cast("double"),
                F.col("delta").cast("double"),
                F.col("rank").cast("int"),
                (F.abs(F.col("delta")) > F.lit(float(self.delta_threshold))).alias("alert"),
            )
            .withColumn("period", F.lit(period))
        )

    def calculate(self, df: DataFrame, period: str = "analysis") -> DataFrame:
        """Conformed long rows: method ``share_delta_max`` — the signed delta
        of each chunk/column's largest-|delta| category; alerts when the
        magnitude clears ``delta_threshold``."""
        dense, headers = self._dense(df)
        w = Window.partitionBy(CHUNK_KEY, "column_name").orderBy(
            F.abs(F.col("delta")).desc(), F.col("value").asc()
        )
        top = dense.withColumn("_rk", F.row_number().over(w)).filter(F.col("_rk") == 1)
        long_df = top.select(
            CHUNK_KEY,
            "column_name",
            F.lit("share_delta_max").alias("method"),
            F.col("delta").cast("double").alias("value"),
            F.lit(-float(self.delta_threshold)).alias("lower_threshold"),
            F.lit(float(self.delta_threshold)).alias("upper_threshold"),
        ).withColumn("alert", alert_expr())
        return conform_result(join_headers_long(long_df, headers, period))

    def violations(self, df: DataFrame, row_id: Optional[str] = None) -> DataFrame:
        """Movers as violation rows (runner sink shape): one row per
        (chunk, column, category) in the top-m whose |delta| clears the
        threshold; the category is the row id (attribution is category-,
        not row-, shaped)."""
        mv = self.movers(df).filter(F.col("alert"))
        return mv.select(
            F.lit("category_shift").alias("check"),
            "column_name",
            F.col(CHUNK_KEY),
            F.col("category").alias("row_id"),
            F.lit("category_shift").alias("violation_kind"),
            F.concat(
                F.lit("ref="), F.round("ref_share", 6).cast("string"),
                F.lit(" chunk="), F.round("chunk_share", 6).cast("string"),
                F.lit(" delta="), F.round("delta", 6).cast("string"),
                F.lit(" rank="), F.col("rank").cast("string"),
            ).alias("observed_value"),
        )
