"""Embedding-distribution drift — univariate drift re-expressed for
``array<float>`` columns.

Beyond-reference operator for multimodal / retrieval pipelines: the north
rule's table carries opaque payloads whose *content* is monitored through
embeddings, and a silently drifting encoder (model swap, preprocessing bug,
upstream domain shift) corrupts every downstream similarity / dedup /
retrieval result. NannyML detects multivariate drift over tabular numerics
(`nannyml/drift/multivariate/data_reconstruction/calculator.py`); this is
the same chunked-drift contract applied to a vector column.

Methods (all per analysis chunk vs the fitted reference):

* ``centroid_cosine``  — cosine distance between the chunk's mean embedding
  and the reference mean embedding (1 − cosine similarity).
* ``mean_shift_linf``  — max over dimensions of the standardized mean shift
  ``|mean_chunk_i − mean_ref_i| / std_ref_i`` (dimensions with zero/NULL
  reference std are skipped).
* ``norm_js``          — Jensen–Shannon distance between the chunk's and the
  reference's L2-norm distributions over ``n_bins`` equal-width reference
  bins, with the same out-of-range leftover-mass convention as the
  continuous univariate methods (`spark_validate/drift/univariate.py`).

Scale story: the embedding dimension is bounded (64–4096), so every statistic
compiles to ``dim``-bounded plain column expressions — ``F.get`` element
access, products, CASE bucketing — inside whole-stage codegen. The element
values, L2 norm, and norm bucket are PRE-PROJECTED once per row before the
aggregation (``_proj_cols``): project expressions are method-split by
codegen, while inlining the dim-term norm into each aggregate update blows
the JVM 64 KB method limit and silently degrades to interpreted aggregation
(observed: "Code grows beyond 64 KB" in hashAgg_doAggregate). There is **no
posexplode** (which would shuffle ``n·dim`` rows), **no Python/pandas UDF**,
and **no HOF lambda in the hot path** (Catalyst interprets lambdas per
element; a 64-term codegen'd sum is measured faster — NOTES_ROUND3 #12).
``calculate`` is ONE ``groupBy(chunk)`` aggregation with map-side partial
aggregation; fitted state is O(dim + n_bins) literals broadcast inside the
plan. At 10^12 rows the cost is the scan plus one tiny shuffle of
``#chunks × (dim + n_bins)`` aggregate cells.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from typing import Dict, List, Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from spark_validate.chunking import CHUNK_INDEX, CHUNK_KEY, ROW_INDEX, Chunker, DefaultChunker, chunk_aggregate
from spark_validate.drift.univariate import bin_terms, divergences, sum_bins
from spark_validate.functions.local import local_frame
from spark_validate.result import conform_result
from spark_validate.thresholds import StandardDeviationThreshold, alert_expr, fit_thresholds

SUPPORTED_METHODS = ("centroid_cosine", "mean_shift_linf", "norm_js")


def balanced_sum(terms: Sequence[Column]) -> Column:
    """Sum a term list as a BALANCED binary tree (adjacent pairwise
    reduction, odd tail carried unpaired) instead of a left-nested chain.
    A left chain builds an expression tree ``len(terms)`` deep — Catalyst's
    recursive tree walks throw ``StackOverflowError`` at plan-build time
    somewhere past ~700 terms, which is well inside the supported embedding
    dim range. The balanced fold is depth ``log2(n)`` (12 at dim 4096).
    Float summation ORDER is part of the operator contract: the DuckDB
    oracle mirrors this exact association (`__spark_entry__._balanced_sum_sql`)
    so results stay bit-identical."""
    terms = list(terms)
    if not terms:
        raise ValueError("balanced_sum needs at least one term")
    while len(terms) > 1:
        terms = [
            terms[i] + terms[i + 1] if i + 1 < len(terms) else terms[i]
            for i in range(0, len(terms), 2)
        ]
    return terms[0]


def l2_norm_expr(emb: Column, dim: int) -> Column:
    """Codegen'd L2 norm of a fixed-``dim`` vector: balanced-tree Σ of
    ``dim`` squared ``F.get`` terms (missing trailing elements count 0),
    NULL for NULL rows."""
    def term(i: int) -> Column:
        c = F.coalesce(F.get(emb, i).cast("double"), F.lit(0.0))
        return c * c  # x*x (IEEE-exact), NOT pow(x,2) (libm — differs across engines)

    sq = balanced_sum([term(i) for i in range(dim)])
    return F.when(emb.isNull(), F.lit(None).cast("double")).otherwise(F.sqrt(sq))


@dataclass
class EmbeddingDriftCalculator:
    """Chunked drift detection over one embedding column.

    Thresholds follow the univariate-drift default: upper-only mean + 3σ over
    the reference per-chunk values (drift measures are one-sided)."""

    embedding_col: str = "embedding"
    methods: Sequence[str] = SUPPORTED_METHODS
    chunker: Chunker = field(default_factory=DefaultChunker)
    threshold: object = field(
        default_factory=lambda: StandardDeviationThreshold(std_lower_multiplier=None)
    )
    dim: Optional[int] = None  # None → probed from the reference at fit time
    n_bins: int = 10

    def __post_init__(self):
        unknown = set(self.methods) - set(SUPPORTED_METHODS)
        if unknown:
            raise ValueError(f"unsupported embedding drift methods: {sorted(unknown)}")
        self._fitted: Optional[Dict] = None

    # -- expressions -----------------------------------------------------------

    def _project(
        self, df: DataFrame, keep: List[str], lo: float, hi: float, elements: bool = True
    ) -> DataFrame:
        """Pre-aggregation projection: per-dim element values, the L2 norm,
        and the norm bucket — each computed ONCE per row, in TWO stacked
        selects. The aggregates below consume these plain columns; inlining
        the dim-term norm expression into every histogram aggregate instead
        generates a hash-aggregate update method past the JVM's 64 KB limit
        ("Code grows beyond 64 KB") and Spark silently falls back to
        INTERPRETED aggregation — observed in the oracle harness before this
        split (embedding_drift was the slowest query in the registry). The
        two-stage shape matters too: the bucket CASE references the norm in
        every branch, and a single select would inline the dim-term norm
        subtree per branch back past 64 KB. CollapseProject keeps the stages
        separate exactly because ``__norm`` is a non-cheap alias consumed
        more than once, so the norm is one compiled ~dim-term method and the
        bucket is a tiny CASE over a plain column — the whole stage stays in
        codegen.

        ``elements=False`` skips the per-dim ``__e{i}`` columns for consumers
        that only aggregate the norm histogram (the fit's global-probs pass):
        the physical plan would prune them anyway, but Catalyst still
        analyzes/optimizes the ~dim-wide projection — measured driver-side
        cost, not executor cost."""
        emb = F.col(self.embedding_col)
        el = [F.get(emb, i).cast("double").alias(f"__e{i}") for i in range(self.dim)] if elements else []
        el_names = [f"__e{i}" for i in range(self.dim)] if elements else []
        stage1 = df.select(
            *keep,
            *el,
            l2_norm_expr(emb, self.dim).alias("__norm"),
        )
        return stage1.select(
            *keep,
            *el_names,
            F.col("__norm"),
            self._bucket_from_norm(F.col("__norm"), lo, hi).alias("__bkt"),
        )

    def _mean_aggs(self) -> List[Column]:
        return [F.avg(F.col(f"__e{i}")).alias(f"__m{i}") for i in range(self.dim)]

    def _bucket_from_norm(self, norm: Column, lo: float, hi: float) -> Column:
        """Reference-range equal-width bucket of the L2 norm; −1 below, n_bins
        above, top edge closed — same convention as the continuous univariate
        histogram. Degenerate reference range (hi == lo): every exactly-equal
        value lands in the TOP bucket (n_bins − 1), consistent with the
        non-degenerate ``norm == hi`` rule."""
        n = self.n_bins
        if hi <= lo:
            return (
                F.when(norm.isNull(), F.lit(None).cast("int"))
                .when(norm < F.lit(lo), F.lit(-1))
                .when(norm > F.lit(lo), F.lit(n))
                .otherwise(F.lit(n - 1))
            )
        w = (hi - lo) / n
        return (
            F.when(norm.isNull(), F.lit(None).cast("int"))
            .when(norm < F.lit(lo), F.lit(-1))
            .when(norm > F.lit(hi), F.lit(n))
            .when(norm == F.lit(hi), F.lit(n - 1))
            .otherwise(F.least(F.floor((norm - F.lit(lo)) / F.lit(w)).cast("int"), F.lit(n - 1)))
        )

    def _hist_aggs(self) -> List[Column]:
        b = F.col("__bkt")
        aggs = [F.count(b).alias("__nnorm")]
        for k in range(self.n_bins):
            aggs.append(F.sum((b == F.lit(k)).cast("int")).alias(f"__h{k}"))
        return aggs

    # -- fit -------------------------------------------------------------------

    def fit(self, reference: DataFrame) -> "EmbeddingDriftCalculator":
        from spark_validate.functions.fitcache import cached_for_fit, chunker_columns

        cols = [self.embedding_col] + chunker_columns(self.chunker)
        with cached_for_fit(reference, columns=cols) as ref:
            return self._fit(ref)

    def _fit(self, reference: DataFrame) -> "EmbeddingDriftCalculator":
        emb = F.col(self.embedding_col)
        if self.dim is None:
            probe = reference.select(F.size(emb).alias("d")).filter(F.col("d") > 0).first()
            if probe is None:
                raise ValueError(f"cannot infer dim: no non-empty {self.embedding_col!r} rows")
            self.dim = int(probe["d"])
        # project elements + norm once, then aggregate plain columns — keeps
        # the hash-aggregate update methods under the JVM 64 KB codegen limit
        # (see _project)
        proj = reference.select(
            l2_norm_expr(emb, self.dim).alias("__norm"),
            *[F.get(emb, i).cast("double").alias(f"__e{i}") for i in range(self.dim)],
        )
        aggs = [
            F.count("__norm").alias("__n"),
            F.min("__norm").alias("__lo"),
            F.max("__norm").alias("__hi"),
        ]
        aggs += self._mean_aggs()
        for i in range(self.dim):
            aggs.append(F.stddev_samp(F.col(f"__e{i}")).alias(f"__s{i}"))
        row = proj.agg(*aggs).first().asDict()
        if not row["__n"]:
            raise ValueError("reference has no non-null embeddings")
        mu = [row[f"__m{i}"] for i in range(self.dim)]
        sigma = [row[f"__s{i}"] for i in range(self.dim)]
        lo, hi = float(row["__lo"]), float(row["__hi"])
        self._fitted = {
            "mu": [None if m is None else float(m) for m in mu],
            "sigma": [None if s is None else float(s) for s in sigma],
            "norm_lo": lo,
            "norm_hi": hi,
        }
        # global norm histogram over the FULL reference — not summed from the
        # per-chunk aggregate: a chunker with incomplete='drop' excludes the
        # final partial chunk's rows from chunk sums, which would make
        # norm_probs inconsistent with the mu/sigma/lo/hi fitted on every row
        # above. The extra aggregation re-reads the fit-time cached
        # projection (cached_for_fit), so no third scan of storage happens.
        hrow = self._project(reference, [], lo, hi, elements=False).agg(*self._hist_aggs()).first().asDict()
        wide_ref = self._chunk_wide(reference).persist()
        n_norm = hrow["__nnorm"]
        if not n_norm:
            raise ValueError("reference has no non-null embeddings")
        self._fitted["norm_probs"] = [
            float((hrow[f"__h{k}"] or 0) / n_norm) for k in range(self.n_bins)
        ]
        # thresholds from the reference's own per-chunk drift values
        ref_long = self._long_from_wide(wide_ref)
        self._fitted["thresholds"] = fit_thresholds(ref_long, ["column_name", "method"], self.threshold)
        self._reference_result = self._finalize(ref_long, period="reference")
        wide_ref.unpersist()
        return self

    # -- calculate ---------------------------------------------------------------

    def _metric_exprs(self) -> List[F.Column]:
        st = self._fitted
        mu, sigma = st["mu"], st["sigma"]
        pairs = []
        if "centroid_cosine" in self.methods:
            # reference-subspace convention: dims with NO reference signal
            # (all-NULL at fit time → mu[i] is None) are excluded from dot,
            # m2 AND r2 — the cosine is computed inside the subspace the
            # reference defines. A dim NULL only in an analysis chunk still
            # propagates NULL (no silent zero-fill). The DuckDB oracle
            # (__spark_entry__._embedding_drift_sql) mirrors this exactly.
            # balanced folds with 0.0 leaves for excluded dims: adding a 0.0
            # leaf is IEEE-identity, and keeping ALL dim positions in the
            # tree makes the association match the oracle's all-dims shape
            # bit-for-bit regardless of which dims are excluded
            zero = F.lit(0.0)
            dot_terms = [
                zero if mu[i] is None else F.col(f"__m{i}") * F.lit(mu[i])
                for i in range(self.dim)
            ]
            m2_terms = [
                zero if mu[i] is None else F.col(f"__m{i}") * F.col(f"__m{i}")
                for i in range(self.dim)
            ]
            n_used = sum(1 for i in range(self.dim) if mu[i] is not None)
            dot = balanced_sum(dot_terms)
            m2 = balanced_sum(m2_terms)
            r2 = 0.0
            for i in range(self.dim):
                if mu[i] is not None:
                    r2 += mu[i] * mu[i]
            if n_used == 0 or r2 <= 0.0:
                val = F.lit(None).cast("double")
            else:
                denom = F.sqrt(m2) * F.lit(math.sqrt(r2))
                val = F.when(denom > 0, F.lit(1.0) - dot / denom)
            pairs.append(("centroid_cosine", val))
        if "mean_shift_linf" in self.methods:
            terms = [
                F.abs(F.col(f"__m{i}") - F.lit(mu[i])) / F.lit(sigma[i])
                for i in range(self.dim)
                if mu[i] is not None and sigma[i] is not None and sigma[i] > 0
            ]
            val = (
                F.greatest(*terms) if len(terms) > 1 else (terms[0] if terms else F.lit(None))
            )
            pairs.append(("mean_shift_linf", val.cast("double")))
        if "norm_js" in self.methods:
            n = F.col("__nnorm").cast("double")
            qs = [F.col(f"__h{k}").cast("double") / n for k in range(self.n_bins)]
            sums = sum_bins(
                [bin_terms(p, q, None, ("jensen_shannon",)) for p, q in zip(st["norm_probs"], qs)]
            )
            # norms outside the reference range are the leftover lump
            leftover = F.lit(1.0) - sum(qs, F.lit(0.0))
            js = divergences(("jensen_shannon",), sums, leftover, None)["jensen_shannon"]
            pairs.append(("norm_js", F.when(n > 0, js).cast("double")))
        return pairs

    def _chunk_wide(self, df: DataFrame) -> DataFrame:
        """Per-chunk wide aggregate (dim means + norm-histogram counts +
        header fields + chunk index) — ONE scan, ONE shuffle: all metric
        inputs aggregate in the same groupBy; the chunk header fields ride
        along (chunking.chunk_aggregate)."""
        st = self._fitted
        assigned = self.chunker.assign(df)
        keep = [c for c in (CHUNK_KEY, ROW_INDEX, self.chunker.timestamp_column) if c in assigned.columns]
        proj = self._project(assigned, keep, st["norm_lo"], st["norm_hi"])
        return chunk_aggregate(proj, self.chunker, [*self._mean_aggs(), *self._hist_aggs()])

    def _long_from_wide(self, wide: DataFrame) -> DataFrame:
        """Melt the wide per-chunk aggregate into long metric rows (needs the
        full fitted state: the metric projections bake in mu/sigma/probs)."""
        pairs = [
            F.struct(
                F.lit(self.embedding_col).alias("column_name"),
                F.lit(m).alias("method"),
                v.cast("double").alias("value"),
            )
            for m, v in self._metric_exprs()
        ]
        hdr_cols = [CHUNK_INDEX, "start_index", "end_index", "start_ts", "end_ts"]
        return wide.select(CHUNK_KEY, *hdr_cols, F.explode(F.array(*pairs)).alias("kv")).select(
            CHUNK_KEY, *hdr_cols, "kv.column_name", "kv.method", "kv.value"
        )

    def _finalize(self, long_df: DataFrame, period: str) -> DataFrame:
        spark = long_df.sparkSession
        thr = self._fitted.get("thresholds") or {}
        rows = [(c, m, lo, up) for (c, m), (lo, up) in thr.items()]
        thr_df = local_frame(
            spark, rows, "column_name string, method string, lower_threshold double, upper_threshold double"
        )
        out = long_df.join(F.broadcast(thr_df), ["column_name", "method"], "left").withColumn(
            "alert", alert_expr()
        )
        return conform_result(out.withColumn("period", F.lit(period)))

    def calculate(self, df: DataFrame, period: str = "analysis") -> DataFrame:
        if self._fitted is None:
            raise RuntimeError("call fit(reference) before calculate()")
        return self._finalize(self._long_from_wide(self._chunk_wide(df)), period)

    @property
    def reference_result(self) -> DataFrame:
        if self._fitted is None:
            raise RuntimeError("not fitted")
        return self._reference_result

    # -- fitted-state (de)serialization (JSON store contract) -------------------

    def get_state(self) -> dict:
        if self._fitted is None:
            raise RuntimeError("not fitted")
        return {
            "dim": self.dim,
            "embedding_col": self.embedding_col,
            "mu": self._fitted["mu"],
            "sigma": self._fitted["sigma"],
            "norm_lo": self._fitted["norm_lo"],
            "norm_hi": self._fitted["norm_hi"],
            "norm_probs": self._fitted["norm_probs"],
            "thresholds": [
                {"column_name": c, "method": m, "lower": lo, "upper": up}
                for (c, m), (lo, up) in self._fitted["thresholds"].items()
            ],
        }

    def set_state(self, state: dict) -> "EmbeddingDriftCalculator":
        self.dim = int(state["dim"])
        # the state is self-contained: restore every knob the fitted
        # statistics depend on, so a config change between fit and restore
        # cannot silently mispair probs with a different binning
        self.embedding_col = state.get("embedding_col", self.embedding_col)
        self.n_bins = len(state["norm_probs"])
        self._fitted = {
            "mu": state["mu"],
            "sigma": state["sigma"],
            "norm_lo": state["norm_lo"],
            "norm_hi": state["norm_hi"],
            "norm_probs": state["norm_probs"],
            "thresholds": {
                (t["column_name"], t["method"]): (t["lower"], t["upper"])
                for t in state["thresholds"]
            },
        }
        self._reference_result = None
        return self
