"""N-gram language-model quality scoring — the CCNet-style perplexity filter
(Wenzek et al., "CCNet: Extracting High Quality Monolingual Datasets from
Web Crawl Data", LREC 2020): fit a bigram LM with Laplace (add-1) smoothing
on the reference corpus, score each analysis document by per-token
cross-entropy (bits) and perplexity; high perplexity = unusual text = low
quality. CCNet uses a 5-gram KenLM; the bigram order here keeps the model
exactly replicable in the DuckDB oracle while preserving the pipeline shape
(fit-on-reference → broadcast model → narrow scoring scan).

No reference analog (NannyML has no text ops); the fit/score/state contract
follows the drift-calculator conventions so the runner's load-or-fit store
applies.

Scale design (10^12 docs):

* FIT is two map-side-combined gram-count aggregations over the reference,
  followed by a Spark-side top-K truncation (window rank by count desc, key
  asc) BEFORE the driver collect — the same bounded-collect device as the
  categorical drift fit; an id-string column misconfigured as text cannot
  OOM the driver. Fit on a hash-sample of the reference when even the
  top-K pass is too hot (the model converges long before 10^12 tokens).
* SCORE is one narrow gram-explode joined to the BROADCAST model (≤ top-K
  rows) plus a per-doc aggregation whose shuffle moves one partial row per
  (doc, partition) — the corpus text itself is never shuffled.
* Truncated (dropped) grams score as unseen — count 0 under add-1 — so
  truncation degrades smoothly; with the default caps nothing is dropped
  below ~50k distinct tokens. Kept bigrams are additionally restricted to
  kept-vocab heads so every smoothed probability stays < 1 (a kept bigram
  with a truncated head would take c1 = 0 while keeping its own count).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_validate.functions.local import local_frame


def _tok_array(text_col: str):
    # shared tokenizer contract with text/quality.py::repetition_stats
    return F.filter(
        F.split(F.lower(F.trim(F.coalesce(F.col(text_col), F.lit("")))), r"\s+"),
        lambda x: x != "",
    )


def _doc_bigrams(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, w1, w2, gram) rows; gram = 'w1 w2' (space-joined is unambiguous —
    tokens were split on whitespace). Docs with < 2 tokens emit nothing.

    Formulation note: adjacent pairs come from ``arrays_zip`` of two slices
    over a PROJECTED token column. The earlier ``transform(sequence(...),
    λ struct(element_at...))`` chain inlined the tokenizer subtree five
    times and cost ~3 s of Catalyst/codegen per action on this plan
    (measured: 6.3→0.5 s per count-collect) for identical output rows."""
    d = df.select(
        F.col(id_col).alias("__id"), _tok_array(text_col).alias("_t")
    ).filter(F.size("_t") >= 2)
    z = F.arrays_zip(
        F.slice("_t", 1, F.size("_t") - 1), F.expr("slice(_t, 2, size(_t) - 1)")
    )
    return (
        d.select("__id", F.explode(z).alias("p"))
        .select("__id", F.col("p.0").alias("w1"), F.col("p.1").alias("w2"))
        .withColumn("gram", F.concat_ws(" ", "w1", "w2"))
    )


class NgramLMQuality:
    """Bigram LM with add-1 smoothing and unigram backoff for unknown heads:

    * w1 in vocab: ``p(w2|w1) = (c(w1 w2) + 1) / (c(w1) + V)``
    * w1 OOV (backoff, stupid-backoff flavor — Brants et al. EMNLP 2007):
      ``p(w2) = (c(w2) + 1) / (N_tokens + V)``

    with ``V = |vocab| + 1`` (the +1 is the OOV bucket); unseen/OOV counts
    are 0. The backoff keeps the score monotone: pure OOV gibberish floors
    at ``1/(N_tokens+V)`` — strictly below every known-head transition's
    ``1/(c1+V)`` — where a pure add-1 bigram would give unknown heads
    ``1/V`` and rank gibberish ABOVE rare-but-real text. Per document:
    ``cross_entropy = mean(-log2 p)`` over its bigram transitions and
    ``perplexity = 2^cross_entropy``; docs with < 2 tokens get NULLs."""

    def __init__(
        self,
        text_col: str = "text",
        id_col: str = "doc_id",
        max_vocab: int = 50_000,
        max_bigrams: int = 200_000,
    ):
        self.text_col = text_col
        self.id_col = id_col
        self.max_vocab = max_vocab
        self.max_bigrams = max_bigrams
        self._uni: Optional[dict] = None  # w -> count
        self._bi: Optional[dict] = None  # "w1 w2" -> count
        self._v: Optional[int] = None
        self._n_tokens: Optional[int] = None  # untruncated reference token total

    def _topk(self, counts: DataFrame, key: str, k: int) -> dict:
        # orderBy + limit compiles to TakeOrderedAndProject — per-partition
        # top-K merged at the driver. (A global row_number window would sort
        # ALL distinct grams in ONE partition: a 10^9-bigram reference corpus
        # would funnel through a single task.)
        ranked = counts.orderBy(F.col("cnt").desc(), F.col(key).asc()).limit(k)
        return {r[key]: r["cnt"] for r in ranked.select(key, "cnt").collect()}

    def fit(self, reference: DataFrame) -> "NgramLMQuality":
        toks = _tok_array(self.text_col)
        uni = (
            reference.select(F.explode(toks).alias("w"))
            .groupBy("w")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        uni = uni.persist()
        total = uni.agg(F.sum("cnt")).first()[0]
        self._n_tokens = int(total) if total is not None else 0
        bi = (
            _doc_bigrams(reference, self.text_col, self.id_col)
            .groupBy("gram")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        self._uni = self._topk(uni, "w", self.max_vocab)
        # drop bigrams whose w1 fell out of the kept vocab: such a gram would
        # score with c1=0 while keeping its own count, and (c12+1)/(0+V) can
        # exceed 1 (negative bits) once c12 >= V — junk stuffed with one hot
        # truncated-head bigram would score as top quality. With w1 kept,
        # c1 >= c12 always (a token occurs at least as often as any bigram it
        # heads), so p < 1 is structural.
        self._bi = {
            g: c for g, c in self._topk(bi, "gram", self.max_bigrams).items()
            if g.split(" ", 1)[0] in self._uni
        }
        self._v = len(self._uni) + 1
        uni.unpersist()
        return self

    def _model_frames(self, spark: SparkSession):
        uni_rows = [(w, int(c)) for w, c in self._uni.items()]
        uni = local_frame(spark, uni_rows, "w1 string, c1 long")
        # one vocab frame serves both join sides — shipping the identical
        # 50k-row list as a second broadcast doubled the per-query transfer
        uni2 = uni.select(F.col("w1").alias("w2"), F.col("c1").alias("c2"))
        bi = local_frame(spark, [(g, int(c)) for g, c in self._bi.items()], "gram string, c12 long")
        return F.broadcast(uni), F.broadcast(uni2), F.broadcast(bi)

    def score(self, df: DataFrame) -> DataFrame:
        """Per-doc (id, n_bigrams, cross_entropy, perplexity). Keeps a row
        for every input doc; < 2 tokens ⇒ n_bigrams 0, NULL entropy."""
        if self._uni is None:
            raise RuntimeError("fit first")
        spark = df.sparkSession
        uni, uni2, bi = self._model_frames(spark)
        grams = _doc_bigrams(df, self.text_col, self.id_col)
        # known head: add-1 bigram; OOV head: add-1 unigram backoff on w2
        # (denominator N_tokens+V ≥ any c1+V, so gibberish floors strictly
        # below every known-head transition)
        p = F.when(
            F.col("c1").isNotNull(),
            (F.coalesce(F.col("c12"), F.lit(0)) + 1) / (F.col("c1") + F.lit(self._v)),
        ).otherwise(
            (F.coalesce(F.col("c2"), F.lit(0)) + 1) / F.lit(float(self._n_tokens + self._v))
        )
        scored = (
            grams.join(uni, "w1", "left")
            .join(uni2, "w2", "left")
            .join(bi, "gram", "left")
            .select("__id", (-F.log2(p)).alias("bits"))
        )
        per_doc = scored.groupBy("__id").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.avg("bits").alias("cross_entropy"),
        )
        # docs with < 2 tokens come from a NARROW filter + union, not a
        # corpus-wide distinct + join (at 10^12 docs that distinct is a full
        # id shuffle for rows the gram aggregation already covers)
        short = df.filter(F.size(_tok_array(self.text_col)) < 2).select(
            F.col(self.id_col).alias("__id"),
            F.lit(0).cast("bigint").alias("n_bigrams"),
            F.lit(None).cast("double").alias("cross_entropy"),
        )
        return per_doc.unionByName(short).select(
            F.col("__id").alias(self.id_col),
            "n_bigrams",
            "cross_entropy",
            F.pow(F.lit(2.0), F.col("cross_entropy")).alias("perplexity"),
        )

    def score_texts(self, texts) -> list:
        """Driver/worker-side scorer over an iterable of raw texts — the SAME
        model and formula as :meth:`score`, evaluated with dict lookups
        instead of joins (used by the stateless streaming check, where a
        per-doc aggregation would need watermark state the row-local doc
        already makes unnecessary). Tokenizer parity with the Spark path:
        ASCII ``\\s+`` split (Java's ``\\s`` is ASCII-only; Python's
        ``re.ASCII`` \\s is the same six chars) of ``lower(text)`` with
        empties dropped — NO Python ``str.strip()``, whose Unicode whitespace
        set would strip NBSP/U+2028-edged text the Java path keeps glued to
        its first token. Returns one ``(n_bigrams, cross_entropy)`` per
        text; < 2 tokens ⇒ ``(0, None)``."""
        import math
        import re

        if self._uni is None:
            raise RuntimeError("fit first")
        uni, bi, v, denom = self._uni, self._bi, self._v, float(self._n_tokens + self._v)
        out = []
        for text in texts:
            toks = [t for t in re.split(r"\s+", (text or "").lower(), flags=re.ASCII) if t]
            if len(toks) < 2:
                out.append((0, None))
                continue
            bits = 0.0
            n = len(toks) - 1
            for i in range(n):
                w1, w2 = toks[i], toks[i + 1]
                c1 = uni.get(w1)
                if c1 is not None:
                    p = (bi.get(w1 + " " + w2, 0) + 1) / (c1 + v)
                else:
                    p = (uni.get(w2, 0) + 1) / denom
                bits -= math.log2(p)
            out.append((n, bits / n))
        return out

    def get_state(self) -> dict:
        if self._uni is None:
            raise RuntimeError("fit first")
        return {
            "unigrams": self._uni,
            "bigrams": self._bi,
            "v": self._v,
            "n_tokens": self._n_tokens,
            "max_vocab": self.max_vocab,
            "max_bigrams": self.max_bigrams,
        }

    def set_state(self, state: dict) -> "NgramLMQuality":
        self._uni = dict(state["unigrams"])
        self._bi = dict(state["bigrams"])
        self._v = int(state["v"])
        self._n_tokens = int(state["n_tokens"])
        self.max_vocab = int(state.get("max_vocab", self.max_vocab))
        self.max_bigrams = int(state.get("max_bigrams", self.max_bigrams))
        return self


class LMQualityCheck:
    """Runner-compatible check: per-chunk mean cross-entropy and mean
    perplexity of the chunk's scorable docs, thresholded at
    reference-mean ± multiplier·reference-std of PER-DOC cross-entropy
    (the StandardDeviationThreshold convention, reference
    `nannyml/thresholds.py:205-239`); violation rows name docs whose
    perplexity exceeds the fitted doc-level upper bound."""

    def __init__(
        self,
        text_col: str = "text",
        id_col: str = "doc_id",
        chunker=None,
        std_multiplier: float = 3.0,
        max_vocab: int = 50_000,
        max_bigrams: int = 200_000,
    ):
        from spark_validate.chunking import DefaultChunker

        self.lm = NgramLMQuality(text_col, id_col, max_vocab, max_bigrams)
        self.text_col = text_col
        self.id_col = id_col
        self.chunker = chunker or DefaultChunker()
        self.std_multiplier = std_multiplier
        self._fitted = False
        self._mu = self._sigma = None

    def fit(self, reference: DataFrame) -> "LMQualityCheck":
        self.lm.fit(reference)
        row = (
            self.lm.score(reference)
            .agg(F.avg("cross_entropy").alias("mu"), F.stddev("cross_entropy").alias("sigma"))
            .first()
        )
        # a degenerate reference (<2 scorable docs) has no stddev: leave the
        # bounds NULL — results carry no thresholds and never alert (the
        # alert expr is NULL-safe), instead of a silently hair-trigger
        # (mu, mu) band
        self._mu = float(row["mu"]) if row["mu"] is not None else None
        self._sigma = float(row["sigma"]) if row["sigma"] is not None else None
        self._fitted = True
        return self

    def _bounds(self):
        if self._mu is None or self._sigma is None:
            return None, None
        d = self.std_multiplier * self._sigma
        return self._mu - d, self._mu + d

    def calculate(self, df: DataFrame, period: str = "analysis") -> DataFrame:
        from spark_validate.calculators.base import assign_chunks, join_headers
        from spark_validate.checks.constraints import _attach_const_threshold
        from spark_validate.chunking import CHUNK_KEY

        if not self._fitted:
            raise RuntimeError("fit first")
        assigned, headers = assign_chunks(df, self.chunker)
        scores = self.lm.score(df).withColumnRenamed(self.id_col, "__sid")
        joined = assigned.join(scores, assigned[self.id_col] == scores["__sid"], "left")
        wide = joined.groupBy(CHUNK_KEY).agg(
            F.avg("cross_entropy").alias("h"), F.avg("perplexity").alias("p")
        )
        lo, hi = self._bounds()
        pairs = [
            F.struct(
                F.lit(self.text_col).alias("column_name"),
                F.lit("mean_cross_entropy").alias("method"),
                F.col("h").cast("double").alias("value"),
            ),
            F.struct(
                F.lit(self.text_col).alias("column_name"),
                F.lit("mean_perplexity").alias("method"),
                F.col("p").cast("double").alias("value"),
            ),
        ]
        long_df = wide.select(CHUNK_KEY, F.explode(F.array(*pairs)).alias("kv")).select(
            CHUNK_KEY, "kv.column_name", "kv.method", "kv.value"
        )
        out = _attach_const_threshold(join_headers(long_df, headers), period, lo, hi)
        from spark_validate.calculators.base import strip_informational

        # only the entropy rows carry the fitted bounds; perplexity rows are
        # informational (its scale is 2^H — the entropy bounds do not apply)
        return strip_informational(out, "mean_cross_entropy")

    def get_state(self) -> dict:
        if not self._fitted:
            raise RuntimeError("fit first")
        return {"lm": self.lm.get_state(), "mu": self._mu, "sigma": self._sigma}

    def set_state(self, state: dict) -> "LMQualityCheck":
        self.lm.set_state(state["lm"])
        self._mu = float(state["mu"]) if state["mu"] is not None else None
        self._sigma = float(state["sigma"]) if state["sigma"] is not None else None
        self._fitted = True
        return self

    def violations(self, df: DataFrame, row_id: Optional[str] = None) -> DataFrame:
        from spark_validate.chunking import CHUNK_KEY

        if not self._fitted:
            raise RuntimeError("fit first")
        rid = row_id or self.id_col
        _, hi = self._bounds()
        assigned = self.chunker.assign(df)
        # join on id_col (the scoring key); rid is only the REPORTED column,
        # like every sibling check
        scores = self.lm.score(df).withColumnRenamed(self.id_col, "__sid")
        bad = assigned.join(scores, assigned[self.id_col] == scores["__sid"], "inner").filter(
            F.lit(hi is not None) & (F.col("cross_entropy") > F.lit(hi))
        )
        return bad.select(
            F.lit("lm_quality").alias("check"),
            F.lit(self.text_col).alias("column_name"),
            F.col(CHUNK_KEY),
            F.col(rid).cast("string").alias("row_id"),
            F.lit("high_perplexity").alias("violation_kind"),
            F.round(F.col("perplexity"), 3).cast("string").alias("observed_value"),
        )
