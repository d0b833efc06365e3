"""Perceptual-hash near-duplicate detection — banded Hamming join.

The north-rule image table carries ``phash:int64`` (a 64-bit perceptual
hash). Two images are near-duplicates when the Hamming distance between
their phashes is small (≤4 is the common operating point). At 10^12 rows an
all-pairs comparison is impossible; the banded join is EXACT, not
probabilistic:

    split the 64 bits into ``n_bands`` disjoint bands; h bit flips can
    touch at most h bands, so if h ≤ n_bands − 1 at least one band is
    untouched and the pair collides in that band's bucket (pigeonhole).

With n_bands = max_hamming + 1 recall is therefore 1.0 by construction —
unlike the cosine/MinHash LSH sweeps there is no miss probability — and the
``bit_count(xor) ≤ max_hamming`` verify removes the false positives. Same
bucket-cap guard as the other sweeps: a band value shared by more than
``max_bucket`` images is a degenerate cluster (e.g. the all-black phash)
reported separately rather than exploded quadratically.

No reference analog (NannyML has no image ops); topology mirrors
``text/dedup.py::lsh_candidate_pairs``.
"""

from __future__ import annotations

from typing import Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _band_exprs(phash_col: str, n_bands: int, bits: int):
    """Disjoint bit ranges covering ``bits`` (remainder spread left-to-right)."""
    base, rem = divmod(bits, n_bands)
    exprs, off = [], 0
    for j in range(n_bands):
        width = base + (1 if j < rem else 0)
        mask = (1 << width) - 1
        exprs.append(
            F.shiftrightunsigned(F.col(phash_col), off).bitwiseAND(F.lit(mask)).alias(f"_b{j}")
        )
        off += width
    return exprs


def phash_near_duplicates(
    df: DataFrame,
    max_hamming: int = 4,
    phash_col: str = "phash",
    id_col: str = "image_id",
    n_bands: Optional[int] = None,
    n_blocks: Optional[int] = None,
    bits: int = 64,
    max_bucket: int = 10_000,
    dedup_hash: bool = False,
) -> DataFrame:
    """(id_a, id_b, hamming) pairs with Hamming(phash_a, phash_b) ≤ max_hamming.

    Thin wrapper over the shared exact Hamming join
    (`spark_validate/functions/hamming.py::hamming_near_duplicates` — Manku
    multi-block construction, recall exactly 1, bucket cap; see its
    docstring for the candidate-load math, n_blocks sizing, and the
    ``dedup_hash`` phash-value-node mode the clusters path uses).
    """
    from spark_validate.functions.hamming import hamming_near_duplicates

    return hamming_near_duplicates(
        df,
        max_hamming=max_hamming,
        hash_col=phash_col,
        id_col=id_col,
        n_bands=n_bands,
        n_blocks=n_blocks,
        bits=bits,
        max_bucket=max_bucket,
        dedup_hash=dedup_hash,
    )


class PhashDedupCheck:
    """Runner-compatible check: per-chunk rate of images involved in at
    least one ≤max_hamming near-duplicate pair, plus pair-level violation
    rows. Pair discovery is global (near-dups cross chunk boundaries); the
    chunk metric attributes each involved image to ITS chunk. Alerts on a
    constant upper threshold (default: any involvement alerts, the same
    zero-tolerance default as the range check)."""

    def __init__(
        self,
        phash_col: str = "phash",
        id_col: str = "image_id",
        max_hamming: int = 4,
        chunker=None,
        upper_threshold: float = 0.0,
        max_bucket: int = 10_000,
        n_blocks=None,
    ):
        from spark_validate.chunking import DefaultChunker

        self.phash_col = phash_col
        self.id_col = id_col
        self.max_hamming = max_hamming
        self.chunker = chunker or DefaultChunker()
        self.upper_threshold = upper_threshold
        self.max_bucket = max_bucket
        self.n_blocks = n_blocks  # Manku table count; None = minimal (h+1)

    def _pairs(self, df: DataFrame) -> DataFrame:
        return phash_near_duplicates(
            df,
            max_hamming=self.max_hamming,
            phash_col=self.phash_col,
            id_col=self.id_col,
            max_bucket=self.max_bucket,
            n_blocks=self.n_blocks,
        )

    def calculate(self, df: DataFrame, period: str = "analysis") -> DataFrame:
        from spark_validate.calculators.base import assign_chunks, join_headers
        from spark_validate.checks.constraints import _attach_const_threshold
        from spark_validate.chunking import CHUNK_KEY

        assigned, headers = assign_chunks(df, self.chunker)
        pairs = self._pairs(df)
        involved = (
            pairs.select(F.col("id_a").alias("_id"))
            .unionByName(pairs.select(F.col("id_b").alias("_id")))
            .distinct()
        )
        per_chunk = (
            assigned.join(involved, assigned[self.id_col] == involved["_id"], "left")
            .groupBy(CHUNK_KEY)
            .agg(
                F.count(F.lit(1)).alias("__rows"),
                F.count("_id").cast("double").alias("__dups"),
            )
            .select(
                CHUNK_KEY,
                F.lit(self.phash_col).alias("column_name"),
                F.lit("near_dup_rate").alias("method"),
                (F.col("__dups") / F.col("__rows")).cast("double").alias("value"),
            )
        )
        return _attach_const_threshold(join_headers(per_chunk, headers), period, None, self.upper_threshold)

    def violations(self, df: DataFrame, row_id: Optional[str] = None) -> DataFrame:
        from spark_validate.chunking import CHUNK_KEY

        assigned = self.chunker.assign(df).select(
            F.col(self.id_col).alias("id_a"), F.col(CHUNK_KEY).alias("chunk_key")
        )
        return self._pairs(df).join(assigned, "id_a").select(
            F.lit("phash_dedup").alias("check"),
            F.lit(self.phash_col).alias("column_name"),
            "chunk_key",
            F.col("id_a").cast("string").alias("row_id"),
            F.lit("near_duplicate").alias("violation_kind"),
            F.concat(F.col("id_b").cast("string"), F.lit("@h="), F.col("hamming").cast("string")).alias(
                "observed_value"
            ),
        )


def phash_degenerate_bands(
    df: DataFrame,
    phash_col: str = "phash",
    n_bands: int = 5,
    bits: int = 64,
    max_bucket: int = 10_000,
) -> DataFrame:
    """The clusters the near-dup cap excluded: (band, band_value, n_images)
    above ``max_bucket`` — reported instead of exploded. Delegates to the
    shared keyed topology (one shuffle; cannot drift from the join's actual
    buckets)."""
    from spark_validate.functions.hamming import hamming_degenerate_buckets

    return hamming_degenerate_buckets(
        df,
        max_hamming=n_bands - 1,
        hash_col=phash_col,
        n_blocks=n_bands,
        bits=bits,
        max_bucket=max_bucket,
    ).select("band", "band_value", F.col("n_rows").alias("n_images"))


def phash_clusters(
    df: DataFrame,
    max_hamming: int = 4,
    phash_col: str = "phash",
    id_col: str = "image_id",
    n_bands: Optional[int] = None,
    n_blocks: Optional[int] = None,
    bits: int = 64,
    max_bucket: int = 10_000,
) -> DataFrame:
    """Image dedup CLUSTERS: the Hamming pair graph collapsed to connected
    components, one row per image — ``(image_id, cluster_id, cluster_size,
    keep)`` with ``cluster_id`` = min image id in the component and ``keep``
    marking the canonical representative. The image-axis twin of
    ``text/dedup.py::near_duplicate_clusters``; the component step is the
    shared ``functions/graph.py::connected_components`` (hash-min + pointer
    jumping, O(log n) rounds).

    Graph nodes are the PHASH VALUES, not image ids: exact-equal phashes
    collapse inside the banded shuffle itself (``dedup_hash`` collect_set —
    map-side partial dedup, zero extra stages), so a boilerplate image
    copied 10^8 times is one node and the bucket cap counts distinct
    phashes. Members map to their phash with a narrow projection — no
    representative groupBy, no join-back — and ``label_clusters``
    relabels each component to its minimum image id, so the output is
    identical to the min-id-representative construction."""
    from spark_validate.functions.graph import label_clusters

    nn = df.filter(F.col(phash_col).isNotNull())  # NULL phash = singleton
    pairs = phash_near_duplicates(
        nn,
        max_hamming=max_hamming,
        phash_col=phash_col,
        id_col=id_col,
        n_bands=n_bands,
        n_blocks=n_blocks,
        bits=bits,
        max_bucket=max_bucket,
        dedup_hash=True,  # id_a/id_b are phash values
    )
    members = nn.select(F.col(id_col).alias("image_id"), F.col(phash_col).alias("_node"))
    clustered = label_clusters(
        members, pairs, member_col="image_id", node_col="_node", content_nodes=True
    )
    singletons = df.filter(F.col(phash_col).isNull()).select(
        F.col(id_col).alias("image_id"),
        F.col(id_col).alias("cluster_id"),
        F.lit(1).cast("long").alias("cluster_size"),
        F.lit(True).alias("keep"),
    )
    return clustered.unionByName(singletons)


def phash_contamination(
    df: DataFrame,
    benchmark: DataFrame,
    max_hamming: int = 4,
    phash_col: str = "phash",
    id_col: str = "image_id",
    benchmark_phash_col: Optional[str] = None,
    benchmark_id_col: Optional[str] = None,
    n_blocks: Optional[int] = None,
    bits: int = 64,
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """(image_id, bench_id, hamming) for corpus images perceptually matching
    an eval-benchmark manifest — eval-set leakage detection for images, the
    visual analog of text n-gram decontamination (text/decontaminate.py).
    A training corpus containing near-copies of benchmark images inflates
    every evaluation run on them; at 10^12 images this must be a broadcast
    narrow map over the corpus scan, never a corpus-side shuffle — see
    functions/hamming.py::hamming_matches for the construction."""
    from spark_validate.functions.hamming import hamming_matches

    return hamming_matches(
        df,
        benchmark,
        max_hamming=max_hamming,
        hash_col=phash_col,
        id_col=id_col,
        manifest_hash_col=benchmark_phash_col,
        manifest_id_col=benchmark_id_col,
        n_blocks=n_blocks,
        bits=bits,
        broadcast_manifest=broadcast_benchmark,
    ).select(F.col("id").alias(id_col), F.col("match_id").alias("bench_id"), "hamming")


class PhashDecontaminationCheck:
    """Runner-compatible check: per-chunk rate of corpus images within
    ``max_hamming`` of some benchmark image, plus violation rows naming the
    matched benchmark id and distance. ConstantThreshold(upper=0) default —
    any leakage alerts (same contract as the text DecontaminationCheck)."""

    def __init__(
        self,
        benchmark: DataFrame,
        phash_col: str = "phash",
        id_col: str = "image_id",
        max_hamming: int = 4,
        n_blocks: Optional[int] = None,
        chunker=None,
        upper_threshold: float = 0.0,
        broadcast_benchmark: bool = True,
    ):
        from spark_validate.chunking import DefaultChunker

        self.benchmark = benchmark
        self.phash_col = phash_col
        self.id_col = id_col
        self.max_hamming = max_hamming
        self.n_blocks = n_blocks
        self.chunker = chunker or DefaultChunker()
        self.upper_threshold = upper_threshold
        self.broadcast_benchmark = broadcast_benchmark

    def _matches(self, df: DataFrame) -> DataFrame:
        return phash_contamination(
            df,
            self.benchmark,
            max_hamming=self.max_hamming,
            phash_col=self.phash_col,
            id_col=self.id_col,
            n_blocks=self.n_blocks,
            broadcast_benchmark=self.broadcast_benchmark,
        )

    def calculate(self, df: DataFrame, period: str = "analysis") -> DataFrame:
        from spark_validate.checks.contamination import contamination_rate

        # one match row per contaminated image (an image near several
        # benchmark rows still counts once in the rate)
        bad = self._matches(df).select(F.col(self.id_col).alias("_id")).distinct()
        return contamination_rate(
            df, self.chunker, bad, self.id_col, self.phash_col,
            "image_contamination_rate", self.upper_threshold, period,
        )

    def violations(self, df: DataFrame, row_id: Optional[str] = None) -> DataFrame:
        from spark_validate.chunking import CHUNK_KEY

        rid = row_id or self.id_col
        assigned = self.chunker.assign(df)
        m = self._matches(df)
        return (
            assigned.join(m, self.id_col)
            .select(
                F.lit("phash_decontamination").alias("check"),
                F.lit(self.phash_col).alias("column_name"),
                F.col(CHUNK_KEY),
                F.col(rid).cast("string").alias("row_id"),
                F.lit("benchmark_near_match").alias("violation_kind"),
                F.concat_ws(
                    "@h=", F.col("bench_id").cast("string"), F.col("hamming").cast("string")
                ).alias("observed_value"),
            )
        )


class PhashHistogramDrift:
    """PSI drift on a phash-derived histogram, binned with Spark SQL
    ``width_bucket`` (the north rule names this construction verbatim:
    "PSI on phash-derived histograms computed with Spark SQL width_bucket
    binning"; reference drift semantics: `nannyml/drift/univariate/
    methods.py:195-198` chunk-vs-reference distribution comparison).

    The raw 64-bit perceptual hash is not itself binnable in IEEE doubles
    (53-bit mantissa — bucket edges over the full int64 range are not
    representable, so two engines can disagree at boundaries). The derived
    value is ``pmod(phash, fold)`` with ``fold`` ≤ 2^20: a small exact-double
    domain where every width_bucket comparison is bit-reproducible across
    engines, while distribution shifts in the underlying image corpus still
    move the folded histogram (a perceptual hash's low bits carry the
    fine-detail DCT signs — near-identical corpora fold to near-identical
    histograms).

    Execution shape (the 100 TB story): fit is ONE reference aggregation
    (min/max + ``n_bins + 2`` pivoted bucket counts — buckets 0 and
    n_bins+1 are width_bucket's below-range/at-or-above-range overflow
    bins, which the reference's own min/max rows land in by SQL-standard
    semantics). Calculate is ONE ``groupBy(chunk)`` of the same pivoted
    counts — pure codegen aggregate, map-side combinable, no joins beyond
    the standard ≤#chunks header attach every check shares — and
    PSI is a single projection over the fitted probability constants:
    Σ_b (q'−p')·ln(q'/p') with both sides floored at ``eps`` (the
    divergence kernel, `drift/univariate.py::bin_terms`). Because the
    whole thing is aggregate expressions it joins the fused shared-scan
    suite pass via ``fuse_contrib``.

    Alerts on the classic PSI rule: value > 0.2 (configurable).
    """

    def __init__(
        self,
        column: str = "phash",
        n_bins: int = 64,
        fold: int = 4096,
        eps: float = 1e-4,
        chunker=None,
        upper_threshold: Optional[float] = 0.2,
    ):
        from spark_validate.chunking import DefaultChunker

        if fold > (1 << 20):
            raise ValueError("fold must be <= 2^20 so bucket math is exact in doubles")
        self.column = column
        self.n_bins = int(n_bins)
        self.fold = int(fold)
        self.eps = float(eps)
        self.chunker = chunker or DefaultChunker()
        self.upper_threshold = upper_threshold
        self._state: Optional[dict] = None

    # ---- expressions --------------------------------------------------------

    def _derived(self) -> F.Column:
        return F.pmod(F.col(self.column), F.lit(self.fold)).cast("double")

    def _bucket(self) -> F.Column:
        st = self._state
        return F.width_bucket(
            self._derived(), F.lit(st["lo"]), F.lit(st["hi"]), F.lit(self.n_bins)
        )

    def _count_exprs(self, prefix: str):
        b = self._bucket()
        exprs = [
            F.count(F.when(F.col(self.column).isNotNull(), F.lit(1))).alias(f"{prefix}__n")
        ]
        for i in range(self.n_bins + 2):
            exprs.append(F.count(F.when(b == i, F.lit(1))).alias(f"{prefix}__b{i}"))
        return exprs

    def _psi_col(self, prefix: str) -> F.Column:
        from spark_validate.drift.univariate import bin_terms, divergences, sum_bins

        n = F.col(f"{prefix}__n")
        sums = sum_bins(
            [
                bin_terms(float(p), F.col(f"{prefix}__b{i}") / F.greatest(n, F.lit(1)), self.eps, ("psi",))
                for i, p in enumerate(self._state["probs"])
            ]
        )
        # the overflow buckets hold all out-of-range mass: no leftover lump
        total = divergences(("psi",), sums, None, self.eps)["psi"]
        # empty chunk (no non-null hashes) has no histogram: NULL, not 0 drift
        return F.when(n > 0, total).otherwise(F.lit(None)).cast("double")

    # ---- fit / calculate ----------------------------------------------------

    def fit(self, reference: DataFrame) -> "PhashHistogramDrift":
        row = reference.agg(
            F.min(self._derived()).alias("lo"),
            F.max(self._derived()).alias("hi"),
        ).first()
        if row["lo"] is None:
            raise ValueError(f"reference has no non-null {self.column}")
        lo, hi = float(row["lo"]), float(row["hi"])
        if hi <= lo:
            hi = lo + 1.0  # degenerate single-value reference: one real bucket
        self._state = {"lo": lo, "hi": hi}
        cnt_row = reference.agg(*self._count_exprs("")).first().asDict()
        n = cnt_row["__n"]
        self._state["probs"] = [cnt_row[f"__b{i}"] / n for i in range(self.n_bins + 2)]
        return self

    def calculate(self, df: DataFrame, period: str = "analysis") -> DataFrame:
        from spark_validate.fused import calculate_alone

        return calculate_alone(self, df, period)

    def fuse_contrib(self, dtypes, prefix: str):
        """Suite-fusion hook — the whole check is aggregate expressions."""
        if self._state is None:
            raise RuntimeError("fit first")
        from spark_validate.checks.constraints import _HDR_COLS, _attach_const_threshold
        from spark_validate.chunking import CHUNK_KEY

        exprs = self._count_exprs(prefix)

        def fin(wide: DataFrame, period: str) -> DataFrame:
            long_df = wide.select(
                CHUNK_KEY,
                *_HDR_COLS,
                F.lit(self.column).alias("column_name"),
                F.lit("psi_width_bucket").alias("method"),
                self._psi_col(prefix).alias("value"),
            )
            return _attach_const_threshold(long_df, period, None, self.upper_threshold)

        return exprs, fin

    # ---- state --------------------------------------------------------------

    def get_state(self) -> dict:
        if self._state is None:
            raise RuntimeError("fit first")
        return {
            "n_bins": self.n_bins,
            "fold": self.fold,
            "eps": self.eps,
            "lo": self._state["lo"],
            "hi": self._state["hi"],
            "probs": list(self._state["probs"]),
        }

    def set_state(self, state: dict) -> "PhashHistogramDrift":
        self.n_bins = int(state["n_bins"])
        self.fold = int(state["fold"])
        self.eps = float(state["eps"])
        probs = [float(p) for p in state["probs"]]
        if len(probs) != self.n_bins + 2:
            raise ValueError("probs length does not match n_bins")
        self._state = {"lo": float(state["lo"]), "hi": float(state["hi"]), "probs": probs}
        return self
