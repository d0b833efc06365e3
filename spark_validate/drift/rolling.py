"""Rolling-reference drift — each chunk compared to the PREVIOUS chunk.

The fixed-reference calculators (`drift/univariate.py`, reference
`nannyml/drift/univariate/calculator.py`) answer "how far is production
from the training period". A slowly drifting feature eventually alerts
there and never stops; a sudden step between two adjacent production days
can hide under a fixed threshold if both days sit at similar distance from
the reference. The rolling variant answers the complementary operational
question — "did the distribution CHANGE just now" — by scoring each chunk
against its immediate predecessor (the rolling/window reference mode
monitoring stacks like Evidently expose; NannyML's docs discuss it as
re-fitting the reference window). A step change produces one sharp spike
at the step; steady drift produces a flat low series — the exact inverse
of the fixed-reference signature, which is why the two belong together.

Execution shape (the 100 TB story): the fitted grid (continuous: reference
min/max via SQL-standard ``width_bucket`` with below/above overflow cells;
categorical: Spark-side top-K categories + an ``__other__`` lump — the
bounded-collect convention from the univariate fit) makes the per-chunk
histogram ONE ``groupBy(chunk)`` of pivoted count expressions — pure
codegen, map-side combinable, fusable into the suite's shared scan. The
chunk-to-chunk comparison then runs on the ≤#chunks-row header-joined
aggregate with a ``lag`` window — driver-scale arithmetic, never a second
pass over the data. A streaming sibling is deliberately absent: comparing
window N to window N−1 needs cross-trigger state that belongs to the
batch path over the compacted table (or a foreachBatch), not a watermark
aggregate.

JS is the divergence kernel's (`drift/univariate.py::bin_terms` /
``divergences``): base-2, sqrt of the divergence. The first chunk has no predecessor → NULL value, never an
alert (`thresholds.alert_expr` NULL semantics).
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from spark_validate.chunking import CHUNK_INDEX, CHUNK_KEY
from spark_validate.drift.univariate import bin_terms, divergences, sum_bins


class RollingDriftCalculator:
    """Chunk-over-chunk Jensen-Shannon distance on one column.

    ``categorical=False`` (default): the grid is ``n_bins`` equal-width
    buckets over the reference min/max plus the two width_bucket overflow
    cells — out-of-range analysis mass is counted, never dropped.
    ``categorical=True``: the cells are the reference's top-``n_bins``
    categories by count (ties broken by value — the categorical-fit
    convention) plus an other-lump; NULLs are excluded from both numerator
    and base (the missing-values check owns NULL-rate drift).
    """

    def __init__(
        self,
        column: str,
        n_bins: int = 10,
        categorical: bool = False,
        chunker=None,
        upper_threshold: float = 0.1,
    ):
        from spark_validate.chunking import DefaultChunker

        self.column = column
        self.n_bins = int(n_bins)
        self.categorical = bool(categorical)
        self.chunker = chunker or DefaultChunker()
        self.upper_threshold = upper_threshold
        self._state: Optional[dict] = None

    # ---- fitted cells ---------------------------------------------------------

    def _num(self) -> F.Column:
        """Continuous value with the repo-wide nan_to_null convention: a NaN
        would otherwise win F.max in fit (Spark sorts NaN above everything),
        poisoning hi and zeroing every bucket predicate forever."""
        from spark_validate.calculators.base import nan_to_null

        return nan_to_null(F.col(self.column).cast("double"), "double")

    def fit(self, reference: DataFrame) -> "RollingDriftCalculator":
        c = F.col(self.column)
        if self.categorical:
            top = (
                reference.filter(c.isNotNull())
                .groupBy(self.column)
                .agg(F.count(F.lit(1)).alias("_cnt"))
                .orderBy(F.desc("_cnt"), F.asc(self.column))
                .limit(self.n_bins)  # Spark-side truncation BEFORE collect
                .collect()
            )
            if not top:
                raise ValueError(f"reference has no non-null {self.column}")
            self._state = {"categories": [str(r[self.column]) for r in top]}
        else:
            v = self._num()
            row = reference.agg(
                F.min(v).alias("lo"), F.max(v).alias("hi")
            ).first()
            if row["lo"] is None:
                raise ValueError(f"reference has no non-null {self.column}")
            lo, hi = float(row["lo"]), float(row["hi"])
            if hi <= lo:
                hi = lo + 1.0  # degenerate range → one real bucket
            self._state = {"lo": lo, "hi": hi}
        return self

    def _cell_preds(self) -> Sequence[tuple]:
        """[(suffix, predicate)] — bounded by n_bins + 2."""
        st = self._state
        c = F.col(self.column)
        if self.categorical:
            cats = st["categories"]
            cells = [
                (f"k{i}", c.cast("string") == F.lit(cat)) for i, cat in enumerate(cats)
            ]
            cells.append(
                ("other", c.isNotNull() & ~c.cast("string").isin([str(x) for x in cats]))
            )
            return cells
        v = self._num()
        b = F.width_bucket(
            v, F.lit(st["lo"]), F.lit(st["hi"]), F.lit(self.n_bins)
        )
        return [(f"b{i}", v.isNotNull() & (b == i)) for i in range(self.n_bins + 2)]

    def _count_exprs(self, prefix: str):
        c = F.col(self.column) if self.categorical else self._num()
        exprs = [F.count(F.when(c.isNotNull(), F.lit(1))).alias(f"{prefix}__n")]
        for suffix, pred in self._cell_preds():
            exprs.append(F.count(F.when(pred, F.lit(1))).alias(f"{prefix}__{suffix}"))
        return exprs

    # ---- chunk-over-chunk projection -------------------------------------------

    def _rolling_value(self, wide: DataFrame, prefix: str) -> DataFrame:
        """wide: one row per chunk incl. chunk_index. Adds ``value`` = JS
        distance vs the previous chunk (NULL for the first chunk / empty
        neighbours). The window runs over the ≤#chunks aggregate — a single
        task by design, like every chunk-header window in this repo."""
        w = Window.orderBy(CHUNK_INDEX)
        suffixes = [s for s, _ in self._cell_preds()]
        cur_n = F.col(f"{prefix}__n")
        prev_n = F.lag(f"{prefix}__n").over(w)
        out = wide.withColumn("__prev_n", prev_n)
        for s in suffixes:
            out = out.withColumn(f"__prev_{s}", F.lag(f"{prefix}__{s}").over(w))
        terms = []
        for s in suffixes:
            q = F.col(f"{prefix}__{s}") / F.greatest(cur_n, F.lit(1))
            p = F.col(f"__prev_{s}") / F.greatest(F.col("__prev_n"), F.lit(1))
            terms.append(bin_terms(p, q, None, ("jensen_shannon",)))
        # the grid covers every non-null value (overflow cells / other-lump)
        value = divergences(("jensen_shannon",), sum_bins(terms), None, None)["jensen_shannon"]
        ok = (cur_n > 0) & F.col("__prev_n").isNotNull() & (F.col("__prev_n") > 0)
        return out.withColumn(
            "value", F.when(ok, value).otherwise(F.lit(None)).cast("double")
        )

    # ---- calculate ------------------------------------------------------------

    def _finish(self, scored: DataFrame, period: str) -> DataFrame:
        from spark_validate.result import conform_result
        from spark_validate.thresholds import alert_expr

        out = (
            scored.select(
                CHUNK_KEY,
                CHUNK_INDEX,
                "start_index",
                "end_index",
                "start_ts",
                "end_ts",
                F.lit(self.column).alias("column_name"),
                F.lit("rolling_jensen_shannon").alias("method"),
                F.col("value"),
            )
            .withColumn("lower_threshold", F.lit(None).cast("double"))
            .withColumn("upper_threshold", F.lit(self.upper_threshold).cast("double"))
            .withColumn("alert", alert_expr())
            .withColumn("period", F.lit(period))
        )
        return conform_result(out)

    def calculate(self, df: DataFrame, period: str = "analysis") -> DataFrame:
        from spark_validate.fused import calculate_alone

        return calculate_alone(self, df, period)

    def fuse_contrib(self, dtypes, prefix: str):
        """Suite-fusion hook: the per-chunk histogram rides the shared scan;
        the lag projection runs on the fused ≤#chunks wide frame."""
        if self._state is None:
            raise RuntimeError("fit first")
        exprs = self._count_exprs(prefix)

        def fin(wide: DataFrame, period: str) -> DataFrame:
            return self._finish(self._rolling_value(wide, prefix), period)

        return exprs, fin

    # ---- state ------------------------------------------------------------------

    def get_state(self) -> dict:
        if self._state is None:
            raise RuntimeError("fit first")
        return {
            "column": self.column,
            "n_bins": self.n_bins,
            "categorical": self.categorical,
            **self._state,
        }

    def set_state(self, state: dict) -> "RollingDriftCalculator":
        self.column = state["column"]
        self.n_bins = int(state["n_bins"])
        self.categorical = bool(state["categorical"])
        if self.categorical:
            self._state = {"categories": [str(c) for c in state["categories"]]}
        else:
            self._state = {"lo": float(state["lo"]), "hi": float(state["hi"])}
        return self
