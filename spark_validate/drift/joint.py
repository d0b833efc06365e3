"""Joint (2-D) histogram drift — correlated shift the marginals can't see.

Univariate drift (`drift/univariate.py`, reference
`nannyml/drift/univariate/calculator.py`) watches each column alone. An
image corpus can drift in the RELATIONSHIP between columns while every
marginal stays put: e.g. widths and heights each uniform before and after,
but the analysis set suddenly square (w == h). The reference's answer is
the multivariate PCA reconstruction error (`nannyml/drift/multivariate/
data_reconstruction/calculator.py`), which detects such shifts but cannot
say *which pair* moved, and costs a model fit. This check is the cheap,
attributable middle: a JS/PSI distance between the reference and per-chunk
ANALYSIS distributions over a fixed 2-D ``width_bucket × width_bucket``
grid on a chosen column pair — the north rule's width_bucket-histogram
construction (see `image/phash.py::PhashHistogramDrift`) lifted to two
dimensions.

Execution shape (the 100 TB story): fit is one reference aggregation
(min/max of both axes) plus one pivoted-count aggregation over the
``(n_x+2)·(n_y+2)`` joint cells (cells 0 and n+1 per axis are
width_bucket's SQL-standard below/at-or-above overflow bins, so
out-of-range analysis mass is counted, never dropped). Calculate is ONE
``groupBy(chunk)`` of the same pivoted count expressions — pure codegen,
map-side combinable, zero joins beyond the shared ≤#chunks header attach —
and the distance is a single projection over the fitted probability
constants. Because everything is aggregate expressions the check joins the
fused shared-scan suite pass via ``fuse_contrib``.

Methods:
* ``jensen_shannon`` — base-2 JS distance (sqrt of the divergence); 0.1
  default alert.
* ``psi`` — eps-floored PSI; 0.2 default alert (the classic rule).

Both come from the divergence kernel in `drift/univariate.py`
(``bin_terms`` / ``divergences``), with no leftover lump.

Grid sizing: the default 8×8 (100 cells with overflow) keeps the fitted
state and the per-chunk aggregate row tiny; cells scale as the product, so
prefer a coarser grid over more bins per axis — joint resolution, not
marginal resolution, is the point of this check.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spark_validate.drift.univariate import bin_terms, divergences, sum_bins


class JointHistogramDrift:
    """Reference-fitted drift on the joint (col_x, col_y) distribution.

    Rows with a NULL in either axis carry no joint information and are
    excluded from both the fitted histogram and the chunk histograms (the
    missing-values check owns NULL-rate drift). A chunk with no complete
    pair yields NULL, not 0 drift. Degenerate reference ranges
    (``hi == lo``) widen to one real bucket, same convention as
    PhashHistogramDrift.
    """

    def __init__(
        self,
        col_x: str,
        col_y: str,
        n_bins_x: int = 8,
        n_bins_y: int = 8,
        method: str = "jensen_shannon",
        eps: float = 1e-4,
        chunker=None,
        upper_threshold: Optional[float] = None,
    ):
        from spark_validate.chunking import DefaultChunker

        if method not in ("jensen_shannon", "psi"):
            raise ValueError(f"unknown method {method!r}")
        self.col_x = col_x
        self.col_y = col_y
        self.n_bins_x = int(n_bins_x)
        self.n_bins_y = int(n_bins_y)
        self.method = method
        self.eps = float(eps)
        self.chunker = chunker or DefaultChunker()
        self.upper_threshold = (
            upper_threshold
            if upper_threshold is not None
            else (0.1 if method == "jensen_shannon" else 0.2)
        )
        self._state: Optional[dict] = None

    # ---- expressions --------------------------------------------------------

    def _complete(self) -> F.Column:
        return F.col(self.col_x).isNotNull() & F.col(self.col_y).isNotNull()

    def _buckets(self):
        st = self._state
        bx = F.width_bucket(
            F.col(self.col_x).cast("double"),
            F.lit(st["lo_x"]), F.lit(st["hi_x"]), F.lit(self.n_bins_x),
        )
        by = F.width_bucket(
            F.col(self.col_y).cast("double"),
            F.lit(st["lo_y"]), F.lit(st["hi_y"]), F.lit(self.n_bins_y),
        )
        return bx, by

    def _cells(self):
        return [
            (i, j)
            for i in range(self.n_bins_x + 2)
            for j in range(self.n_bins_y + 2)
        ]

    def _count_exprs(self, prefix: str):
        bx, by = self._buckets()
        ok = self._complete()
        exprs = [F.count(F.when(ok, F.lit(1))).alias(f"{prefix}__n")]
        for i, j in self._cells():
            exprs.append(
                F.count(F.when(ok & (bx == i) & (by == j), F.lit(1))).alias(
                    f"{prefix}__c{i}_{j}"
                )
            )
        return exprs

    def _project_cells(self, df: DataFrame, keep) -> DataFrame:
        """Project the flat joint-cell index and the completeness flag ONCE
        per row. ``_count_exprs`` inlines the two width_bucket subtrees into
        every one of the ~(n_x+2)·(n_y+2) cell aggregates — ~100 copies that
        Catalyst analyzes per plan (driver-side cost; measured ~4.8 s of a
        5.0 s joint_drift wall was driver time). The projected form keeps
        each aggregate a comparison against one int column. A NULL/NaN axis
        yields a NULL cell (counted in __n via __ok when complete, in no
        cell) — exactly the inline expressions' semantics. The fused-suite
        path (fuse_contrib) keeps the inline expressions: it contributes to
        a shared aggregate over a frame it does not own."""
        bx, by = self._buckets()
        cell = F.when(self._complete(), bx * F.lit(self.n_bins_y + 2) + by)
        return df.select(
            *keep, cell.cast("long").alias("__cell"), self._complete().alias("__ok")
        )

    def _count_exprs_cell(self, prefix: str):
        exprs = [F.count(F.when(F.col("__ok"), F.lit(1))).alias(f"{prefix}__n")]
        for k, (i, j) in enumerate(self._cells()):
            exprs.append(
                F.count(F.when(F.col("__cell") == F.lit(k), F.lit(1))).alias(
                    f"{prefix}__c{i}_{j}"
                )
            )
        return exprs

    def _value_col(self, prefix: str) -> F.Column:
        probs = self._state["probs"]
        n = F.col(f"{prefix}__n")
        sums = sum_bins(
            [
                bin_terms(
                    float(probs[k]), F.col(f"{prefix}__c{i}_{j}") / F.greatest(n, F.lit(1)),
                    self.eps, (self.method,),
                )
                for k, (i, j) in enumerate(self._cells())
            ]
        )
        # every complete row lands in a cell (overflow cells included): no lump
        value = divergences((self.method,), sums, None, self.eps)[self.method]
        return F.when(n > 0, value).otherwise(F.lit(None)).cast("double")

    # ---- fit / calculate ----------------------------------------------------

    def fit(self, reference: DataFrame) -> "JointHistogramDrift":
        ok = self._complete()
        row = reference.agg(
            F.min(F.when(ok, F.col(self.col_x).cast("double"))).alias("lo_x"),
            F.max(F.when(ok, F.col(self.col_x).cast("double"))).alias("hi_x"),
            F.min(F.when(ok, F.col(self.col_y).cast("double"))).alias("lo_y"),
            F.max(F.when(ok, F.col(self.col_y).cast("double"))).alias("hi_y"),
        ).first()
        if row["lo_x"] is None:
            raise ValueError(
                f"reference has no row with both {self.col_x} and {self.col_y} non-null"
            )
        st = {k: float(row[k]) for k in ("lo_x", "hi_x", "lo_y", "hi_y")}
        if st["hi_x"] <= st["lo_x"]:
            st["hi_x"] = st["lo_x"] + 1.0
        if st["hi_y"] <= st["lo_y"]:
            st["hi_y"] = st["lo_y"] + 1.0
        self._state = st
        cnt = self._project_cells(reference, []).agg(*self._count_exprs_cell("")).first().asDict()
        n = cnt["__n"]
        st["probs"] = [cnt[f"__c{i}_{j}"] / n for i, j in self._cells()]
        return self

    def calculate(self, df: DataFrame, period: str = "analysis") -> DataFrame:
        if self._state is None:
            raise RuntimeError("fit first")
        from spark_validate.chunking import CHUNK_KEY, ROW_INDEX, chunk_aggregate

        assigned = self.chunker.assign(df)
        # the projection keeps only what the per-chunk aggregate reads: the
        # key plus the chunk-header inputs (row index, timestamp)
        keep = [c for c in (CHUNK_KEY, ROW_INDEX, self.chunker.timestamp_column) if c in assigned.columns]
        wide = chunk_aggregate(
            self._project_cells(assigned, keep), self.chunker, self._count_exprs_cell("")
        )
        return self._finish(wide, "", period)

    def fuse_contrib(self, dtypes, prefix: str):
        """Suite-fusion hook — the whole check is aggregate expressions."""
        if self._state is None:
            raise RuntimeError("fit first")
        exprs = self._count_exprs(prefix)

        def fin(wide: DataFrame, period: str) -> DataFrame:
            return self._finish(wide, prefix, period)

        return exprs, fin

    def _finish(self, wide: DataFrame, prefix: str, period: str) -> DataFrame:
        from spark_validate.checks.constraints import _HDR_COLS, _attach_const_threshold
        from spark_validate.chunking import CHUNK_KEY

        long_df = wide.select(
            CHUNK_KEY,
            *_HDR_COLS,
            F.lit(f"{self.col_x}+{self.col_y}").alias("column_name"),
            F.lit(f"joint_{self.method}").alias("method"),
            self._value_col(prefix).alias("value"),
        )
        return _attach_const_threshold(long_df, period, None, self.upper_threshold)

    # ---- state --------------------------------------------------------------

    def get_state(self) -> dict:
        if self._state is None:
            raise RuntimeError("fit first")
        return {
            "col_x": self.col_x,
            "col_y": self.col_y,
            "n_bins_x": self.n_bins_x,
            "n_bins_y": self.n_bins_y,
            "method": self.method,
            "eps": self.eps,
            "lo_x": self._state["lo_x"],
            "hi_x": self._state["hi_x"],
            "lo_y": self._state["lo_y"],
            "hi_y": self._state["hi_y"],
            "probs": list(self._state["probs"]),
        }

    def set_state(self, state: dict) -> "JointHistogramDrift":
        self.col_x = state["col_x"]
        self.col_y = state["col_y"]
        self.n_bins_x = int(state["n_bins_x"])
        self.n_bins_y = int(state["n_bins_y"])
        self.method = state["method"]
        self.eps = float(state["eps"])
        probs = [float(p) for p in state["probs"]]
        if len(probs) != (self.n_bins_x + 2) * (self.n_bins_y + 2):
            raise ValueError("probs length does not match the grid")
        self._state = {
            "lo_x": float(state["lo_x"]),
            "hi_x": float(state["hi_x"]),
            "lo_y": float(state["lo_y"]),
            "hi_y": float(state["hi_y"]),
            "probs": probs,
        }
        return self
