"""Sequence packing for LLM training-data pipelines.

A tokenized corpus is consumed in fixed-length context windows; packing
decides which documents (and which token slices of them) land in which
window. Two standard disciplines, both deterministic and bucket-parallel:

* :func:`pack_sequences` — **concat-and-chunk** (GPT-2/LLaMA pretraining):
  documents are laid end-to-end in a deterministic order and cut every
  ``context_len`` tokens; a document may straddle a cut and contribute
  slices to consecutive packs. Fill is 100% except each bucket's final
  pack. Pure DataFrame expression: one hash-bucket repartition, one
  bucket-partitioned running-sum window (incremental frame — no
  quadratic window buffering), one bounded ``sequence()`` explode for
  straddlers. No UDF, no driver state.

* :func:`pack_sequences_greedy` — **greedy non-splitting** (SFT-style:
  examples must stay whole): a document joins the current pack if it
  fits, else opens a new one. This is a sequential recurrence, so it runs
  as a per-bucket Arrow state machine (``applyInPandas``) — each bucket
  is an independent greedy stream. A document longer than ``context_len``
  gets a pack of its own (reported oversized, never split).

Scale contract: both operators key every shuffle/group by a hash bucket
of the document id. ``n_buckets`` is the parallelism AND the memory
bound — size it so one bucket (corpus_tokens / n_buckets) fits an
executor's sort spill budget (window path) or a single Arrow group
(greedy path). Assignments are pure functions of (salt, id, token
counts): growing the corpus re-packs only the buckets whose membership
changed, and a recompute after executor loss reproduces identical packs.

No reference analog (NannyML has no corpus ops); the determinism story
follows text/sampling.py's md5 recipe so oracles replicate bit-exactly.
"""

from __future__ import annotations

from typing import Optional

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from spark_validate.session import shuffle_partitions


def _bucket_expr(id_col: str, n_buckets: int, salt: str) -> F.Column:
    """Uniform bucket in [0, n_buckets) — the sampling module's md5 recipe
    (not xxhash64) so any engine with md5 replicates it; 8 hex chars = 32
    uniform bits."""
    from spark_validate.text.sampling import hash_bucket

    hex8 = hash_bucket(F.col(id_col), salt)
    return F.pmod(F.conv(hex8, 16, 10).cast("long"), F.lit(n_buckets))


def pack_sequences(
    df: DataFrame,
    token_col: str = "token_count",
    id_col: str = "doc_id",
    context_len: int = 2048,
    n_buckets: int = 64,
    salt: str = "pack42",
) -> DataFrame:
    """Concat-and-chunk packing: one output row per (document, pack) slice.

    Returns ``(id_col, bucket, pack_index, slice_start, slice_len)`` where
    ``slice_start`` is the slice's offset INSIDE the pack and ``slice_len``
    its token count; a non-straddling document has exactly one row with
    ``slice_len`` = its token count. Documents with a non-positive token
    count are excluded (nothing to pack).

    All arithmetic is integer → bit-identical across engines and runs.
    """
    if context_len <= 0:
        raise ValueError("context_len must be positive")
    tok = F.col(token_col).cast("long")
    base = (
        df.filter(tok > 0)
        .select(
            F.col(id_col),
            tok.alias("_tok"),
            _bucket_expr(id_col, n_buckets, salt).alias("bucket"),
        )
    )
    # explicit ROWS frame: the default RANGE frame sums ORDER-BY peers
    # together, so duplicate ids would get overlapping spans and break
    # token conservation silently
    w = (
        Window.partitionBy("bucket")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    end = F.sum("_tok").over(w)
    start = end - F.col("_tok")
    ctx = int(context_len)
    spans = base.select(id_col, "bucket", "_tok", start.alias("_s"), end.alias("_e"))
    # integer DIV, not double floor-division: cumulative offsets exceed 2^53
    # long before a 100 TB corpus does, where double division goes inexact
    laid = spans.select(
        id_col, "bucket", "_s", "_e",
        F.explode(
            F.sequence(F.expr(f"_s DIV {ctx}"), F.expr(f"(_e - 1) DIV {ctx}"))
        ).alias("pack_index"),
    )
    p0 = F.col("pack_index") * F.lit(ctx)
    lo = F.greatest(F.col("_s"), p0)
    hi = F.least(F.col("_e"), p0 + F.lit(ctx))
    return laid.select(
        id_col,
        "bucket",
        F.col("pack_index").cast("long").alias("pack_index"),
        (lo - p0).cast("long").alias("slice_start"),
        (hi - lo).cast("long").alias("slice_len"),
    )


def pack_sequences_greedy(
    df: DataFrame,
    token_col: str = "token_count",
    id_col: str = "doc_id",
    context_len: int = 2048,
    n_buckets: int = 64,
    salt: str = "pack42",
) -> DataFrame:
    """Greedy non-splitting packing: one output row per document —
    ``(id_col, bucket, pack_index, oversized)``. Documents never split;
    within a bucket (ordered by ``id_col``) each doc joins the open pack
    iff it fits in the remaining budget, else starts pack+1. An oversized
    doc (token count > context_len) occupies its own pack and is flagged.

    Sequential by construction, so it runs per bucket in one Arrow group;
    the bucket hash is the only shuffle.
    """
    if context_len <= 0:
        raise ValueError("context_len must be positive")
    tok = F.col(token_col).cast("long")
    base = (
        df.filter(tok > 0)
        .select(
            F.col(id_col).alias("_id"),
            tok.alias("_tok"),
            _bucket_expr(id_col, n_buckets, salt).alias("bucket"),
        )
    )
    ctx = int(context_len)

    def per_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("_id").reset_index(drop=True)
        packs, used, idx = [], ctx + 1, -1  # sentinel: first doc always opens pack 0
        for t in pdf["_tok"]:
            t = int(t)
            if used + t <= ctx:
                used += t
            else:
                idx += 1
                used = t
            packs.append(idx)
        out = pdf[["_id", "bucket", "_tok"]].copy()
        out["pack_index"] = packs
        return out

    n_shuf = shuffle_partitions(df.sparkSession)
    packed = (
        base.repartition(min(n_buckets, n_shuf), "bucket")
        .groupBy("bucket")
        .applyInPandas(per_bucket, f"_id {dict(base.dtypes)['_id']}, bucket long, _tok long, pack_index long")
    )
    return packed.select(
        F.col("_id").alias(id_col),
        "bucket",
        "pack_index",
        (F.col("_tok") > ctx).alias("oversized"),
    )


def packing_stats(
    packed: DataFrame, context_len: int, by: str = "bucket"
) -> DataFrame:
    """Fill-efficiency report per bucket over :func:`pack_sequences` output:
    ``n_packs``, ``n_tokens`` and ``fill_ratio`` = tokens / (packs·ctx).
    Concat-and-chunk fills every pack except the bucket's last, so
    fill_ratio → 1 as buckets grow; a low ratio means over-bucketing
    (too many part-empty tails) — the packing-health metric."""
    return (
        packed.groupBy(by)
        .agg(
            (F.max("pack_index") + 1).alias("n_packs"),
            F.sum("slice_len").alias("n_tokens"),
        )
        .select(
            by,
            "n_packs",
            "n_tokens",
            (F.col("n_tokens") / (F.col("n_packs") * F.lit(int(context_len)))).alias("fill_ratio"),
        )
    )
