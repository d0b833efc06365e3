"""Declarative corpus-curation pipeline — compose this package's filter /
transform / dedup / decontamination ops into one run with first-fail
attribution and a per-stage attrition report.

Public pipelines (C4, CCNet, Gopher §A, RefinedWeb §4, Dolma) are exactly
this shape: an ordered list of quality gates, scrubbers, dedup passes and
benchmark-decontamination filters, each reported as "docs in → docs out".
The reference has no pipeline runner (NannyML monitors; it doesn't curate),
so this is north-rule extension surface built on the already-verified ops.

Execution model (the 100 TB shape):

* Every ROW-LOCAL stage (quality bounds, language gate, PII, URL blocklist,
  deterministic sampling) contributes a codegen boolean column — they all
  evaluate inside ONE projection over a single corpus scan, whatever their
  count. Transform stages (PII redaction) rewrite the text column in the
  same projection.
* Each CORPUS-SHAPED stage (exact dedup, near dedup, decontamination,
  LM scoring) runs its own aggregation/join over the SURVIVORS of every
  earlier stage — sequential semantics: if the canonical copy of a
  duplicate group was already dropped by a quality gate, the next copy is
  kept. Catalyst pushes the accumulated row-local filters into each such
  stage's scan (predicate pushdown), so the expensive stages only read
  rows that are still alive.
* Attribution is FIRST-FAIL: each doc gets a ``dropped_by`` label naming
  the earliest stage (in config order) that rejects it — computed as one
  ``coalesce`` over the stage flags, so the report needs ONE aggregation,
  not one count-action per stage.

No stage collects to the driver; joins against dropped-id sets are
broadcast when small and shuffled hash joins past that (AQE decides).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import List, Optional, Sequence, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spark_validate.functions.local import local_frame


@dataclass
class CurationResult:
    """Outcome of :func:`curate`.

    * ``curated`` — surviving docs, original schema (plus any transform,
      e.g. redacted text).
    * ``annotated`` — every input doc with ``dropped_by`` (NULL = survived)
      — the curation analog of the violations table.
    * ``stage_names`` — attribution labels in pipeline order.
    """

    curated: DataFrame
    annotated: DataFrame
    stage_names: List[str]
    _persisted: Optional[list] = None

    def unpersist(self) -> None:
        """Release frames cached by ``curate(..., persist=True)``."""
        for f in self._persisted or ():
            f.unpersist(blocking=False)

    def report(self) -> DataFrame:
        """(stage, docs_dropped, docs_remaining) in pipeline order — ONE
        aggregation over ``annotated`` (≤ #stages+1 result rows collected)."""
        spark = self.annotated.sparkSession
        rows = self.annotated.groupBy("dropped_by").agg(F.count(F.lit(1)).alias("n")).collect()
        counts = {r["dropped_by"]: r["n"] for r in rows}
        total = sum(counts.values())
        out = [("input", 0, total)]
        remaining = total
        for nm in self.stage_names:
            d = counts.get(nm, 0)
            remaining -= d
            out.append((nm, d, remaining))
        return local_frame(spark, out, "stage string, docs_dropped long, docs_remaining long")


def run_curation(spark, config: dict) -> dict:
    """Config-driven curation job — the curation sibling of
    ``runner.run_suite`` (same config file style; the runner CLI dispatches
    here when the config carries a ``curation`` stage list).

    Config keys: ``input`` (path or ``table:`` ref), ``output_dir``,
    ``text_column`` / ``id_column``, ``curation`` (stage list — stage
    ``benchmark`` / ``reference`` values are read as tables), optional
    ``write_annotated`` (default False: the annotated frame is a full
    corpus copy — at 10^12 docs you keep the curated output + the report,
    not a second corpus).

    Writes ``curated/`` (+ ``annotated/``) and ``report/`` parquet under
    ``output_dir``; returns the report as ``{stage: (dropped, remaining)}``.

    Training-ready output: an optional ``split`` key (weights mapping, e.g.
    ``{train: 0.9, val: 0.05, test: 0.05}``) stamps a deterministic split
    column onto the curated corpus, and an optional ``packing`` key
    (``{context_len, n_buckets?, token_column?, greedy?, split?}``) writes
    a ``packing/`` sink of pack assignments over the curated docs (by
    default the ``train`` split when splitting is on) — curate → split →
    pack is the whole corpus-to-training-shards path in one config.
    """
    import copy
    import os

    from spark_validate.io.readers import read_source, write_results

    df = read_source(spark, config["input"])
    stages = copy.deepcopy(list(config["curation"]))
    for spec in stages:
        for key in ("benchmark", "reference"):
            if key in spec and isinstance(spec[key], (str, dict)):
                spec[key] = read_source(spark, spec[key])
    res = curate(
        df,
        stages,
        text_col=config.get("text_column", "text"),
        id_col=config.get("id_column", "doc_id"),
        persist=bool(config.get("persist", True)),
    )
    out_dir = config["output_dir"]
    id_col = config.get("id_column", "doc_id")
    curated = res.curated
    if config.get("split"):
        from spark_validate.text.sampling import with_split

        curated = with_split(
            curated, config["split"], key_col=id_col,
            salt=config.get("split_salt", "split42"),
        )
    # overwrite, not append: re-running a curation job into the same
    # output_dir must replace the curated corpus, not duplicate it (the
    # suite runner's append + lineage-resume semantics don't apply here)
    write_results(curated, os.path.join(out_dir, "curated"), mode="overwrite")
    if config.get("packing"):
        from spark_validate.text.packing import pack_sequences, pack_sequences_greedy

        pk = dict(config["packing"])
        src = curated
        if config.get("split"):
            src = src.filter(F.col("split") == pk.get("split", "train"))
        token_col = pk.get("token_column", "token_count")
        if token_col not in src.columns:
            # whitespace token convention shared with the quality stages
            t = F.coalesce(F.col(config.get("text_column", "text")), F.lit(""))
            n_space = F.length(t) - F.length(F.regexp_replace(t, r" ", ""))
            src = src.withColumn(token_col, (n_space + 1).cast("long"))
        fn = pack_sequences_greedy if pk.get("greedy") else pack_sequences
        packed = fn(
            src, token_col=token_col, id_col=id_col,
            context_len=int(pk.get("context_len", 2048)),
            n_buckets=int(pk.get("n_buckets", 64)),
            salt=pk.get("salt", "pack42"),
        )
        write_results(packed, os.path.join(out_dir, "packing"), mode="overwrite")
    if config.get("write_annotated"):
        write_results(res.annotated, os.path.join(out_dir, "annotated"), mode="overwrite")
    report = res.report()
    write_results(report, os.path.join(out_dir, "report"), mode="overwrite")
    if config.get("plots"):
        from spark_validate.plots.distributions import plot_curation_funnel
        from spark_validate.plots.metrics import save_plot

        save_plot(
            plot_curation_funnel(report, title=config.get("run_id", "curation")),
            os.path.join(out_dir, "plots", "curation_funnel.svg"),
        )
    res.unpersist()
    return {
        r["stage"]: {"docs_dropped": r["docs_dropped"], "docs_remaining": r["docs_remaining"]}
        for r in report.collect()
    }


def _quality_flag(text_col: str, spec: dict) -> F.Column:
    """Row-local quality bounds; token convention matches quality.py
    (tokens = spaces + 1 on the raw text)."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    n_chars = F.length(t)
    n_space = n_chars - F.length(F.regexp_replace(t, r" ", ""))
    n_words = n_space + 1
    conds = []
    if "min_chars" in spec:
        conds.append(n_chars < int(spec["min_chars"]))
    if "max_chars" in spec:
        conds.append(n_chars > int(spec["max_chars"]))
    if "min_words" in spec:
        conds.append(n_words < int(spec["min_words"]))
    if "max_words" in spec:
        conds.append(n_words > int(spec["max_words"]))
    if "max_digit_ratio" in spec:
        n_digit = n_chars - F.length(F.regexp_replace(t, r"[0-9]", ""))
        conds.append(
            (n_digit.cast("double") / F.greatest(n_chars, F.lit(1)).cast("double"))
            > float(spec["max_digit_ratio"])
        )
    if not conds:
        raise ValueError("quality stage needs at least one bound (min_chars/max_chars/min_words/max_words/max_digit_ratio)")
    flag = conds[0]
    for c in conds[1:]:
        flag = flag | c
    return flag


def curate(
    df: DataFrame,
    stages: Sequence[dict],
    text_col: str = "text",
    id_col: str = "doc_id",
    persist: bool = False,
) -> CurationResult:
    """Run the staged curation pipeline over ``df``.

    Each stage is a dict with a ``stage`` key and stage-specific params
    (optional ``name`` overrides the attribution label):

    * ``quality`` — min_chars / max_chars / min_words / max_words /
      max_digit_ratio (row-local).
    * ``gopher_quality`` — the named Gopher rule battery
      (`quality.py::_gopher_exprs`); any `gopher_thresholds` knob as a
      param (row-local; drop when ANY rule fails, NULL = fail).
    * ``gopher_repetition`` — the Gopher repetition-removal battery
      (`repetition.py`; dup line/paragraph + top/dup n-gram character
      fractions vs the published Table A1 caps); any
      `repetition_thresholds` knob as a param (row-local; drop when ANY
      fraction is over-cap or incomputable).
    * ``lang`` — ``allowed: [en, ...]`` via the stopword language-ID
      heuristic (row-local).
    * ``pii`` — ``action: redact`` (default; rewrites the text column,
      drops nothing) or ``action: drop``; optional ``kinds`` (row-local).
    * ``url_blocklist`` — ``domains: [...]`` apex-or-subdomain match
      (row-local).
    * ``sample`` — ``rate`` (+ optional ``salt``) deterministic Bernoulli
      keep (row-local).
    * ``exact_dedup`` — keep the min-id copy of each md5(text) group
      among surviving docs.
    * ``near_dedup`` — MinHash/LSH clustering over survivors; keep the
      canonical (min-id) member per cluster. Params: threshold, n_hashes,
      shingle_k, n_bands, max_bucket.
    * ``alignment`` — cross-modal CLIP-score gate (image+caption tables):
      drop rows whose cosine between ``vector_a`` and ``vector_b``
      embedding columns falls below ``min_score`` (default 0.28, the
      LAION cut) or is incomputable (row-local).
    * ``phash_dedup`` — image-axis: Hamming near-dup clusters over a
      ``phash`` column (params: phash_column, max_hamming, n_blocks,
      max_bucket); canonical min-id keep. Lets one pipeline curate an
      image+caption table end-to-end (caption gates + image dedup).
    * ``embedding_dedup`` — embedding-axis: cosine near-dup clusters over a
      vector column (params: vector_column, threshold, n_bands,
      rows_per_band, max_bucket); canonical min-id keep.
    * ``canonical_captions`` — cross-modal transform (image+caption
      tables): rewrite each row's caption to its ``group_column`` (default
      ``phash``) group's elected majority caption, so a later dedup
      keeper carries the majority caption; election votes come from
      SURVIVORS only. Params: group_column, caption_column.
    * ``line_dedup`` — corpus-frequency line removal (CCNet/RefinedWeb):
      rewrite each survivor's text with lines occurring in ≥ ``min_docs``
      surviving documents deleted (params: delimiter, min_docs,
      min_line_chars); line frequencies count SURVIVORS only. Optional
      ``min_remaining`` additionally DROPS docs left with fewer eligible
      lines (the attrition slot); without it the stage is transform-only.
    * ``decontaminate`` — ``benchmark`` (DataFrame) + n / threshold:
      drop survivors whose distinct word-n-gram overlap vs the benchmark
      crosses the threshold.
    * ``lm_quality`` — ``reference`` (DataFrame) + ``max_bits`` (+
      max_vocab / max_bigrams): fit the bigram LM on the reference, drop
      survivors whose cross-entropy exceeds ``max_bits``.
    """
    work = df
    flags: List[Tuple[str, str]] = []  # (label, flag column)
    used = set()
    persisted: List[DataFrame] = []
    corpus_shaped = (
        "exact_dedup", "near_dedup", "phash_dedup", "embedding_dedup",
        "decontaminate", "lm_quality", "canonical_captions", "line_dedup",
    )

    def survivors() -> DataFrame:
        out = work
        for _, fc in flags:
            out = out.filter(~F.coalesce(F.col(fc), F.lit(False)))
        return out

    def join_flag(bad_ids: DataFrame, fc: str) -> DataFrame:
        """Mark work rows whose id appears in ``bad_ids`` (one column)."""
        b = bad_ids.toDF("_sv_bad").distinct()
        return work.join(
            b, work[id_col] == F.col("_sv_bad"), "left"
        ).withColumn(fc, F.col("_sv_bad").isNotNull()).drop("_sv_bad")

    def shield(df: DataFrame, produced=(), prefixes=()):
        """Rename pre-existing USER columns a helper is about to overwrite
        (a crawl table shipping its own ``hosts``/``lang_pred`` column must
        come out of the pipeline with its data intact, not the helper's
        scratch values). Returns (renamed frame, clash list for unshield)."""
        clash = [
            c for c in df.columns
            if c in produced or any(c.startswith(p) for p in prefixes)
        ]
        for c in clash:
            df = df.withColumnRenamed(c, f"__sv_orig_{c}")
        return df, clash

    def unshield(df: DataFrame, clash) -> DataFrame:
        for c in clash:
            df = df.withColumnRenamed(f"__sv_orig_{c}", c)
        return df

    for i, spec in enumerate(stages):
        kind = spec["stage"]
        name = spec.get("name", kind)
        if name in used:
            name = f"{name}_{i}"
        fc = f"__sv_drop_{i}"
        if persist and kind in corpus_shaped:
            # without this, every corpus-shaped stage lazily re-derives the
            # whole upstream pipeline (the scan count grows with each such
            # stage — the measured sf0.01 5-stage plan re-reads the corpus
            # 13×); persisting here makes each corpus stage and the final
            # projection read the cached upstream frame instead
            work = work.persist()
            persisted.append(work)

        if kind == "quality":
            work = work.withColumn(fc, _quality_flag(text_col, spec))
        elif kind == "gopher_quality":
            # the named Gopher rule battery (quality.py::_gopher_exprs) as a
            # drop gate: a doc is dropped when ANY rule fails (NULL = fail)
            from spark_validate.text.quality import gopher_compliance_rules

            overrides = {
                k: v for k, v in spec.items() if k not in ("stage", "name")
            }
            keep = F.lit(True)
            for sql in gopher_compliance_rules(text_col, **overrides).values():
                keep = keep & F.coalesce(F.expr(sql), F.lit(False))
            work = work.withColumn(fc, ~keep)
        elif kind == "gopher_repetition":
            # published char-fraction caps as a drop gate; rep_pass is the
            # NULL-guarded conjunction, so incomputable docs are dropped
            from spark_validate.text.repetition import with_repetition_stats

            overrides = {
                k: v for k, v in spec.items() if k not in ("stage", "name")
            }
            work, clash = shield(work, prefixes=("rep_",))
            before = set(work.columns)
            tagged = with_repetition_stats(work, text_col, **overrides)
            work = unshield(
                tagged.withColumn(fc, ~F.col("rep_pass")).drop(
                    *(set(tagged.columns) - before - {fc})
                ),
                clash,
            )
        elif kind == "alignment":
            from spark_validate.image.alignment import cosine_sql

            score = F.expr(
                cosine_sql(
                    spec.get("vector_a", "image_embedding"),
                    spec.get("vector_b", "caption_embedding"),
                )
            )
            keep = score >= F.lit(float(spec.get("min_score", 0.28)))
            work = work.withColumn(fc, ~F.coalesce(keep, F.lit(False)))
        elif kind == "lang":
            from spark_validate.text.quality import with_language_id

            allowed = [str(x) for x in spec["allowed"]]
            work, clash = shield(work, produced=("lang_pred", "lang_pred_score"))
            before = set(work.columns)
            tagged = with_language_id(work, text_col)
            work = unshield(
                tagged.withColumn(fc, ~F.col("lang_pred").isin(allowed)).drop(
                    *(set(tagged.columns) - before - {fc})
                ),
                clash,
            )
        elif kind == "pii":
            from spark_validate.text.pii import PII_PATTERNS

            pats = dict(spec.get("patterns") or PII_PATTERNS)
            kinds = list(spec.get("kinds") or pats)
            t = F.coalesce(F.col(text_col), F.lit(""))
            if spec.get("action", "redact") == "drop":
                has = F.lit(False)
                for k in kinds:
                    has = has | (F.size(F.regexp_extract_all(t, F.lit(pats[k]), F.lit(1))) > 0)
                work = work.withColumn(fc, has)
            else:
                from spark_validate.text.pii import redact_pii

                work = redact_pii(work, text_col, kinds=kinds, patterns=pats)
                continue  # transform only — no flag, no attribution slot
        elif kind == "url_blocklist":
            from spark_validate.text.urls import with_blocklist_flags

            work, clash = shield(work, produced=("hosts", "urls", "n_urls", "is_blocked"))
            before = set(work.columns)
            flagged = with_blocklist_flags(work, spec["domains"], text_col)
            work = unshield(
                flagged.withColumn(fc, F.coalesce(F.col("is_blocked"), F.lit(False))).drop(
                    *(set(flagged.columns) - before - {fc})
                ),
                clash,
            )
        elif kind == "sample":
            from spark_validate.text.sampling import hash_bucket, rate_to_hex

            b = hash_bucket(F.col(id_col), spec.get("salt", "s42"))
            work = work.withColumn(fc, ~(b < F.lit(rate_to_hex(float(spec["rate"])))))
        elif kind == "exact_dedup":
            sv = survivors()
            mins = (
                sv.groupBy(F.md5(F.col(text_col)).alias("_sv_fp"))
                .agg(F.min(id_col).alias("_sv_keep"))
            )
            work = (
                work.join(mins, F.md5(work[text_col]) == F.col("_sv_fp"), "left")
                .withColumn(
                    fc, F.col("_sv_keep").isNotNull() & (F.col(id_col) != F.col("_sv_keep"))
                )
                .drop("_sv_fp", "_sv_keep")
            )
        elif kind == "near_dedup":
            from spark_validate.text.dedup import near_duplicate_clusters

            sv = survivors()
            clusters = near_duplicate_clusters(
                sv,
                text_col=text_col,
                id_col=id_col,
                threshold=spec.get("threshold", 0.8),
                n_hashes=spec.get("n_hashes", 32),
                shingle_k=spec.get("shingle_k", 6),
                n_bands=spec.get("n_bands", 16),
                max_bucket=spec.get("max_bucket", 200),
            )
            # cluster frame names its id column "doc_id" regardless of id_col
            work = join_flag(clusters.filter(~F.col("keep")).select("doc_id"), fc)
        elif kind == "phash_dedup":
            # image-axis dedup: Hamming near-dup clusters over the phash
            # column (text_col plays no part); canonical min-id keep
            from spark_validate.image.phash import phash_clusters

            sv = survivors()
            clusters = phash_clusters(
                sv,
                max_hamming=spec.get("max_hamming", 4),
                phash_col=spec.get("phash_column", "phash"),
                id_col=id_col,
                n_blocks=spec.get("n_blocks"),
                max_bucket=spec.get("max_bucket", 10_000),
            )
            # cluster frame names its member column "image_id"
            work = join_flag(clusters.filter(~F.col("keep")).select("image_id"), fc)
        elif kind == "embedding_dedup":
            # embedding-axis dedup: cosine near-dup clusters over a vector
            # column; canonical min-id keep (third member of the trilogy)
            from spark_validate.sim.ann import embedding_clusters

            sv = survivors()
            clusters = embedding_clusters(
                sv,
                threshold=spec.get("threshold", 0.95),
                vec_col=spec.get("vector_column", "embedding"),
                id_col=id_col,
                n_bands=spec.get("n_bands"),
                rows_per_band=spec.get("rows_per_band"),
                max_bucket=spec.get("max_bucket", 200),
            )
            # cluster frame names its member column "vec_id"
            work = join_flag(clusters.filter(~F.col("keep")).select("vec_id"), fc)
        elif kind == "canonical_captions":
            # cross-modal transform: every row's caption becomes its image
            # group's ELECTED caption (majority non-null, lexicographic
            # tie-break — image/consistency.py::elect_canonical_captions),
            # so a later dedup stage's keeper carries the majority caption
            # instead of whichever caption the min-id copy happened to have.
            # The election is computed over SURVIVORS (dropped rows don't
            # vote — sequential semantics like every corpus-shaped stage)
            # but rewrites the full working frame so attribution columns
            # survive untouched. Transform only: no flag, no attrition slot.
            from spark_validate.image.consistency import elect_canonical_captions

            gcol = spec.get("group_column", "phash")
            cap = spec.get("caption_column", text_col)
            elected = elect_canonical_captions(survivors(), gcol, cap).select(
                gcol, "canonical_caption"
            )
            before_cols = work.columns
            work = (
                work.join(elected, gcol, "left")
                .withColumn(cap, F.coalesce(F.col("canonical_caption"), F.col(cap)))
                .select(*before_cols)
            )
            continue
        elif kind == "line_dedup":
            # corpus-frequency line removal over SURVIVORS: frequencies come
            # from surviving docs only (a dropped spam cluster's boilerplate
            # must not delete a line from the one kept copy's unique text),
            # but like canonical_captions the REWRITE applies to the full
            # working frame so attribution columns survive untouched.
            from spark_validate.text.linededup import dedup_lines, line_frequencies

            delim = spec.get("delimiter", "\n")
            min_chars = spec.get("min_line_chars", 1)
            freq = line_frequencies(
                survivors(), text_col, id_col, delim, min_chars
            )
            work, clash = shield(work, produced=("lines_total", "lines_removed", "lines_kept"))
            before_cols = work.columns
            rewritten = dedup_lines(
                work,
                text_col,
                id_col,
                delimiter=delim,
                min_docs=spec.get("min_docs", 2),
                min_line_chars=min_chars,
                frequencies=freq,
            )
            min_remaining = spec.get("min_remaining")
            if min_remaining is None:
                work = unshield(rewritten.select(*before_cols), clash)
                continue  # transform only: no flag, no attrition slot
            bad = rewritten.filter(
                F.col("lines_kept") < F.lit(int(min_remaining))
            ).select(F.col(id_col))
            work = unshield(rewritten.select(*before_cols), clash)
            work = join_flag(bad, fc)
        elif kind == "decontaminate":
            from spark_validate.text.decontaminate import ngram_overlap

            sv = survivors()
            ov = ngram_overlap(
                sv,
                spec["benchmark"],
                text_col=text_col,
                id_col=id_col,
                n=spec.get("n", 5),
                threshold=spec.get("threshold", 0.5),
                broadcast_benchmark=spec.get("broadcast_benchmark", True),
            )
            work = join_flag(ov.filter(F.col("contaminated")).select("id"), fc)
        elif kind == "lm_quality":
            from spark_validate.text.lm import NgramLMQuality

            lm = NgramLMQuality(
                text_col=text_col,
                id_col=id_col,
                max_vocab=spec.get("max_vocab", 50_000),
                max_bigrams=spec.get("max_bigrams", 200_000),
            ).fit(spec["reference"])
            sv = survivors()
            bad = lm.score(sv).filter(
                F.col("cross_entropy") > F.lit(float(spec["max_bits"]))
            )
            work = join_flag(bad.select(id_col), fc)
        else:
            raise ValueError(f"unknown curation stage {kind!r}")
        flags.append((name, fc))
        used.add(name)

    if flags:
        dropped_by = F.coalesce(
            *[F.when(F.coalesce(F.col(fc), F.lit(False)), F.lit(nm)) for nm, fc in flags]
        )
    else:
        dropped_by = F.lit(None).cast("string")
    annotated = work.withColumn("dropped_by", dropped_by).drop(*[fc for _, fc in flags])
    curated = annotated.filter(F.col("dropped_by").isNull()).drop("dropped_by")
    return CurationResult(
        curated=curated,
        annotated=annotated,
        stage_names=[n for n, _ in flags],
        _persisted=persisted or None,
    )
