"""Vocabulary / OOV drift — tokenizer-coverage drift over free text.

The `unseen_values` check (`checks/constraints.py::UnseenValuesCalculator`,
reference `nannyml/data_quality/unseen/calculator.py`) watches whole
categorical VALUES; a training-data pipeline also needs the same question
one level down, inside the text itself: what fraction of the analysis
period's TOKENS fall outside the vocabulary that dominated the reference
corpus? A rising out-of-vocabulary rate is the canonical early signal of a
domain shift (new language, new jargon, encoding corruption, spam) and maps
directly onto tokenizer coverage — the quantity an LLM data pipeline
actually budgets for. No reference analog (NannyML has no free-text
operators); the chunk/threshold/result conventions follow the univariate
drift calculator.

Scale shape (the 100 TB story):

* **fit** — one `explode → groupBy(token)` aggregation (map-side combine
  folds each partition's repeated tokens before the shuffle — natural-text
  token frequency is Zipfian, so the combine absorbs most of the volume);
  the top-``top_k`` vocabulary is ranked Spark-side with ``LIMIT`` before
  any collect (the bounded-driver rule from the categorical-drift fit).
  Total/covered token counts ride the same persisted counts frame, so fit
  is ONE pass over the corpus.
* **calculate** — tokens explode once per row, the ≤``top_k`` vocabulary
  joins back as a broadcast hash join (never a shuffle of the corpus by
  token), and the per-chunk OOV aggregation map-side combines. The
  explode uses ``explode_outer`` so token-free chunks still emit a row
  (NULL value, never a silent drop).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spark_validate.calculators.base import assign_chunks, join_headers
from spark_validate.checks.constraints import _attach_const_threshold
from spark_validate.chunking import CHUNK_KEY, Chunker, DefaultChunker
from spark_validate.functions.local import local_frame

# lowercase word tokens; the character class is identical in Java regex and
# RE2/DuckDB, the same dialect constraint as text/pii.py patterns
TOKEN_PATTERN = r"[a-z0-9']+"


class VocabDriftCheck:
    """Per-chunk out-of-vocabulary token rate vs a reference-fitted top-K
    vocabulary.

    ``value = oov_tokens / total_tokens`` per chunk (NULL for a chunk with
    no tokens). The fitted state also records ``coverage`` — the fraction
    of reference tokens the top-K vocabulary covers — so users can size
    ``top_k`` (an OOV alert is only meaningful against high reference
    coverage).
    """

    def __init__(
        self,
        text_col: str = "text",
        top_k: int = 10_000,
        token_pattern: str = TOKEN_PATTERN,
        chunker: Optional[Chunker] = None,
        upper_threshold: Optional[float] = None,
        id_col: str = "doc_id",
    ):
        self.text_col = text_col
        self.top_k = int(top_k)
        self.token_pattern = token_pattern
        self.chunker = chunker or DefaultChunker()
        self.upper_threshold = upper_threshold
        self.id_col = id_col
        self._vocab: Optional[list] = None
        self._coverage: Optional[float] = None
        self._fitted_threshold: Optional[float] = None

    # ---- expressions ---------------------------------------------------------

    def _tokens(self) -> F.Column:
        return F.regexp_extract_all(
            F.lower(F.col(self.text_col)), F.lit(self.token_pattern), F.lit(0)
        )

    def _vocab_df(self, spark) -> DataFrame:
        return local_frame(
            spark,
            [(t,) for t in self._vocab], "token string"
        ).withColumn("_in_vocab", F.lit(1))

    # ---- fit / calculate -----------------------------------------------------

    def fit(self, reference: DataFrame) -> "VocabDriftCheck":
        tok = reference.select(F.explode(self._tokens()).alias("token"))
        counts = tok.groupBy("token").agg(F.count(F.lit(1)).alias("cnt")).persist()
        try:
            top = (
                counts.orderBy(F.desc("cnt"), F.asc("token"))
                .limit(self.top_k)
                .collect()
            )
            totals = counts.agg(F.sum("cnt").alias("total")).first()
        finally:
            counts.unpersist()
        if not top:
            raise ValueError(f"reference has no tokens in {self.text_col!r}")
        self._vocab = [r["token"] for r in top]
        covered = sum(r["cnt"] for r in top)
        self._coverage = covered / totals["total"]
        # default threshold: reference OOV rate (1 - coverage) + slack; a
        # constant the user overrides for strict gates
        self._fitted_threshold = (
            self.upper_threshold
            if self.upper_threshold is not None
            else min(1.0, 3.0 * (1.0 - self._coverage) + 0.01)
        )
        return self

    def calculate(self, df: DataFrame, period: str = "analysis") -> DataFrame:
        if self._vocab is None:
            raise RuntimeError("fit first")
        assigned, headers = assign_chunks(df, self.chunker)
        tok = assigned.select(
            CHUNK_KEY, F.explode_outer(self._tokens()).alias("token")
        )
        marked = tok.join(
            F.broadcast(self._vocab_df(df.sparkSession)), "token", "left"
        )
        agg = marked.groupBy(CHUNK_KEY).agg(
            F.count("token").alias("__n_tokens"),
            F.count(
                F.when(F.col("token").isNotNull() & F.col("_in_vocab").isNull(), F.lit(1))
            ).alias("__n_oov"),
        )
        long_df = agg.select(
            CHUNK_KEY,
            F.lit(self.text_col).alias("column_name"),
            F.lit("oov_rate").alias("method"),
            F.when(
                F.col("__n_tokens") > 0, F.col("__n_oov") / F.col("__n_tokens")
            ).cast("double").alias("value"),
        )
        return _attach_const_threshold(
            join_headers(long_df, headers), period, None, self._fitted_threshold
        )

    def violations(self, df: DataFrame, row_id: Optional[str] = None) -> DataFrame:
        """Docs whose own OOV rate crosses the fitted threshold."""
        if self._vocab is None:
            raise RuntimeError("fit first")
        rid = row_id or self.id_col
        assigned = self.chunker.assign(df)
        tok = assigned.select(
            CHUNK_KEY, F.col(rid).alias("__rid"), F.explode(self._tokens()).alias("token")
        )
        marked = tok.join(F.broadcast(self._vocab_df(df.sparkSession)), "token", "left")
        per_doc = marked.groupBy(CHUNK_KEY, "__rid").agg(
            (F.count(F.when(F.col("_in_vocab").isNull(), F.lit(1))) / F.count(F.lit(1)))
            .cast("double")
            .alias("__rate")
        )
        bad = per_doc.filter(F.col("__rate") > self._fitted_threshold)
        return bad.select(
            F.lit("vocab_drift").alias("check"),
            F.lit(self.text_col).alias("column_name"),
            F.col(CHUNK_KEY),
            F.col("__rid").cast("string").alias("row_id"),
            F.lit("oov_rate_above_threshold").alias("violation_kind"),
            F.col("__rate").cast("string").alias("observed_value"),
        )

    # ---- state ---------------------------------------------------------------

    def get_state(self) -> dict:
        if self._vocab is None:
            raise RuntimeError("fit first")
        return {
            "text_col": self.text_col,
            "top_k": self.top_k,
            "token_pattern": self.token_pattern,
            "id_col": self.id_col,
            "vocab": list(self._vocab),
            "coverage": self._coverage,
            "threshold": self._fitted_threshold,
        }

    def set_state(self, state: dict) -> "VocabDriftCheck":
        self.text_col = state["text_col"]
        self.top_k = int(state["top_k"])
        self.token_pattern = state["token_pattern"]
        self.id_col = state["id_col"]
        self._vocab = list(state["vocab"])
        self._coverage = state["coverage"]
        self._fitted_threshold = state["threshold"]
        return self
