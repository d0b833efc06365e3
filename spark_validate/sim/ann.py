"""Approximate nearest-neighbor search over embedding columns.

* ``brute_force_topk`` — exact cosine top-k: dot products via
  ``F.zip_with`` + ``F.aggregate`` (JVM-side array math, no Python in the
  scan), global top-k via a single ``orderBy(...).limit(k)`` (Spark runs this
  as per-partition TakeOrdered + driver merge — no full sort).
* ``lsh_bucket_topk`` — the scale path: random-hyperplane signatures (seeded,
  deterministic) bucket the corpus; the query only scans its own bucket
  (optionally multi-probe neighbors at Hamming distance 1).
* ``embedding_near_duplicates`` — same-bucket pairs with cosine ≥ threshold:
  the embedding-cosine near-dup detector for training corpora.
"""

from __future__ import annotations

import math
from typing import List, Optional, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spark_validate.functions.local import local_frame


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine_expr(vec_col: str, query: Sequence[float]):
    q = [float(x) for x in query]
    qn = float(np.linalg.norm(q)) or 1.0
    qlit = F.array(*[F.lit(x) for x in q])
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    return _dot(v, qlit) / (F.greatest(_norm(v), F.lit(1e-12)) * F.lit(qn))


def brute_force_topk(
    df: DataFrame,
    query: Sequence[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k. orderBy+limit compiles to TakeOrderedAndProject:
    each partition keeps k rows, the driver merges — no global shuffle."""
    sim = cosine_expr(vec_col, query)
    return (
        df.select(F.col(id_col).alias("id"), sim.alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("id"))
        .limit(k)
    )


def _pair_cosine_arrow(va_col: str, vb_col: str):
    """Batched exact cosine for candidate-pair verify: one numpy einsum per
    Arrow batch. The zip_with/aggregate expression chain costs ~8× more on
    the same pairs (measured 17.6 s vs 2.1 s on 800k 64-dim pairs) — HOF
    lambdas evaluate per element; the matmul is one vectorized pass. Values
    agree with the expression path to the last ulp's reordering (callers
    round(6) for cross-engine compares, the repo-wide cosine convention)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def pcos(a: pd.Series, b: pd.Series) -> pd.Series:
        if len(a) == 0:  # np.stack rejects empty batches
            return pd.Series([], dtype="float64")
        av, bv = a.to_numpy(), b.to_numpy()
        # dirty-corpus guard: a batch mixing vector lengths would make
        # np.stack raise and kill the job; pairs with NULL or length-
        # mismatched vectors score NaN instead (→ dropped by the ≥threshold
        # filter — the same convention the zip_with expression path had)
        la = np.array([len(x) if x is not None else -1 for x in av])
        lb = np.array([len(x) if x is not None else -2 for x in bv])
        out = np.full(len(av), np.nan)
        for length in np.unique(la[(la == lb) & (la > 0)]):
            m = (la == length) & (lb == length)
            # NULL elements inside a vector become NaN → NaN cosine → dropped,
            # matching the expression path's NULL semantics
            A = np.stack(av[m]).astype(np.float64)
            B = np.stack(bv[m]).astype(np.float64)
            num = np.einsum("ij,ij->i", A, B)
            den = np.maximum(np.linalg.norm(A, axis=1), 1e-12) * np.maximum(
                np.linalg.norm(B, axis=1), 1e-12
            )
            out[m] = num / den
        return pd.Series(out)

    return pcos(F.col(va_col), F.col(vb_col))


def _hyperplanes(dim: int, n_planes: int, seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim))


def signature_expr(vec_col: str, planes: np.ndarray):
    """Random-hyperplane LSH signature as an int (bit i = sign(v·plane_i))."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    bits = []
    for i in range(planes.shape[0]):
        plane = F.array(*[F.lit(float(x)) for x in planes[i]])
        bits.append(F.when(_dot(v, plane) >= 0, F.lit(1 << i)).otherwise(F.lit(0)))
    sig = bits[0]
    for b in bits[1:]:
        sig = sig + b
    return sig.cast("int")


def lsh_bucket_topk(
    df: DataFrame,
    query: Sequence[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 8,
    seed: int = 42,
    multiprobe: bool = True,
) -> DataFrame:
    """ANN top-k: scan only the query's LSH bucket (plus Hamming-1 neighbor
    buckets when ``multiprobe``), exact cosine within. Recall is tunable via
    n_planes/multiprobe; the scan is a partition-pruned filter, not a full
    pass, once the bucket column is materialized/partitioned on."""
    dim = len(query)
    planes = _hyperplanes(dim, n_planes, seed)
    q = np.asarray(query, dtype=np.float64)
    q_sig = int(sum((1 << i) for i in range(n_planes) if float(planes[i] @ q) >= 0))
    probe = [q_sig] + ([q_sig ^ (1 << i) for i in range(n_planes)] if multiprobe else [])
    bucketed = df.withColumn("_sig", signature_expr(vec_col, planes))
    cand = bucketed.filter(F.col("_sig").isin(probe))
    sim = cosine_expr(vec_col, query)
    return (
        cand.select(F.col(id_col).alias("id"), sim.alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("id"))
        .limit(k)
    )


def _band_signatures_arrow(vec_col: str, planes: np.ndarray, n_bands: int, rows_per_band: int):
    """array<int> of per-band hyperplane signatures, one vectorized numpy
    matmul per Arrow batch (planes ship inside the serialized UDF — a few KB)."""
    from pyspark.sql.functions import pandas_udf

    if rows_per_band > 62:
        raise ValueError(f"rows_per_band {rows_per_band} exceeds int64 packing (max 62)")
    P = planes.astype(np.float64)
    weights = (1 << np.arange(rows_per_band, dtype=np.int64))  # int64: r>31 at 10^10+ corpora

    @pandas_udf("array<long>")
    def sigs(v: pd.Series) -> pd.Series:
        X = np.stack(v.to_numpy()).astype(np.float64)
        bits = (X @ P.T) >= 0  # (n, n_bands*rows_per_band)
        packed = bits.reshape(len(X), n_bands, rows_per_band) @ weights  # (n, n_bands)
        return pd.Series(list(packed.astype(np.int64)))

    return sigs(F.col(vec_col))


def lsh_plan(n: int, threshold: float, target_recall: float = 0.95) -> tuple:
    """(n_bands, rows_per_band) for a corpus of ``n`` vectors: r ≈ log2(n)+1
    keeps worst-case (isotropic) random collisions O(n); b is the smallest
    band count reaching ``target_recall`` at cosine ``threshold``
    (per-plane agreement p = 1 − arccos(t)/π, recall = 1 − (1 − p^r)^b)."""
    import math

    p = 1.0 - math.acos(max(min(threshold, 1.0), -1.0)) / math.pi
    r_max = min(max(8, int(math.ceil(math.log2(max(n, 2)))) + 1), 62)
    # prefer the largest r (fewest random collisions); where the recall
    # target would need >64 bands, back r off — candidate load then grows
    # above O(n) but the target holds (and real corpora cluster, so the
    # worst-case isotropic load estimate is pessimistic)
    for r in range(r_max, 7, -1):
        miss = 1.0 - p**r
        if miss <= 0:
            return 1, r
        b = max(1, int(math.ceil(math.log(1.0 - target_recall) / math.log(miss))))
        if b <= 64:
            return b, r
    return 64, 8


def embedding_near_duplicates(
    df: DataFrame,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_bands: Optional[int] = None,
    rows_per_band: Optional[int] = None,
    seed: int = 42,
    dim: Optional[int] = None,
    max_bucket: int = 200,
    n_planes: Optional[int] = None,  # legacy alias: single band of n_planes
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine, banded hyperplane LSH.

    Same topology as the text MinHash LSH (``text/dedup.py``): each vector
    gets ``n_bands`` independent band signatures (``rows_per_band`` hyperplane
    sign bits each); candidates form ONLY inside a (band, signature) bucket;
    buckets above ``max_bucket`` are dropped as degenerate (a dense cluster at
    corpus scale would otherwise go quadratic — true near-dups still collide
    in other bands, and a >max_bucket cluster is itself the finding, not its
    O(n²) pair list). The pair explosion carries ids only; vectors are joined
    back just for the exact-cosine verify of the (bounded) candidate set.

    Recall at cosine t: p = 1 - arccos(t)/π per plane; 1-(1-p^r)^b overall —
    4×8 bands give ~0.75 at t=0.9, ~0.97 at t=0.98; raise n_bands for higher
    recall, rows_per_band for selectivity.

    SIZE rows_per_band TO THE CORPUS: a band has 2^r buckets, so the mean
    bucket holds n/2^r vectors — keep that well under ``max_bucket`` or the
    cap silently drops nearly every bucket and recall collapses (measured
    0.17 at n=100k with r=8 → 395 vectors/bucket vs cap 200). When
    ``n_bands``/``rows_per_band`` are omitted, ``lsh_plan(count, threshold)``
    sizes them automatically (one count job — skip it by passing both).
    """
    if n_planes is not None:
        n_bands, rows_per_band = 1, n_planes
    # null embeddings (failed upstream embedding jobs) cannot be near-dups;
    # drop them BEFORE the dim probe / auto-sizing count / Arrow pass (a NULL
    # first row would TypeError on len(), and null rows would skew lsh_plan)
    df = df.filter(F.col(vec_col).isNotNull())
    if n_bands is None or rows_per_band is None:
        auto_b, auto_r = lsh_plan(df.count(), threshold)
        n_bands = auto_b if n_bands is None else n_bands
        rows_per_band = auto_r if rows_per_band is None else rows_per_band
    if dim is None:
        first = df.select(vec_col).first()
        if first is None:  # all embeddings null → no pairs (schema-preserving)
            return df.select(
                F.col(id_col).alias("id_a"),
                F.col(id_col).alias("id_b"),
                F.lit(0.0).alias("cosine"),
            ).limit(0)
        dim = len(first[0])
    keyed = df.select(F.col(id_col).alias("_nid"), F.col(vec_col).alias("_vec"))
    return _banded_cosine_pairs(
        keyed, threshold, n_bands, rows_per_band, seed, dim, max_bucket,
        dedup_nodes=False,
    )


def _banded_cosine_pairs(
    keyed: DataFrame,
    threshold: float,
    n_bands: int,
    rows_per_band: int,
    seed: int,
    dim: int,
    max_bucket: int,
    dedup_nodes: bool,
) -> DataFrame:
    """Shared banded-LSH core of the pair and cluster operators: ``keyed``
    is ``(_nid, _vec)``; returns ``(id_a, id_b, cosine)`` with cosine ≥
    threshold.

    All band signatures come from ONE Arrow pass — sign bits of X @ planesᵀ
    packed per band (a per-plane zip_with/aggregate expression tree is the
    minhash-round-1 codegen blowup; the batched matmul is ~10× faster at
    64 planes × 64 dims). ``dedup_nodes=True`` is the clusters convention:
    ``_nid`` values are CONTENT keys that may repeat — buckets
    ``collect_set`` (map-side partial dedup, the cap counts distinct
    nodes), and the exact-cosine verify fetches ONE member vector per
    candidate node via a semi-join restricted to the bounded candidate set
    (AQE broadcasts it) — the vector column never enters a shuffle. With
    unique ids the same construction degenerates to the plain verify
    (collect_set ≡ collect_list; the per-node dedup is a no-op)."""
    planes = _hyperplanes(dim, n_bands * rows_per_band, seed)
    exploded = keyed.select(
        "_nid",
        F.posexplode(_band_signatures_arrow("_vec", planes, n_bands, rows_per_band)),
    ).select("_nid", F.col("pos").alias("band"), F.col("col").alias("sig"))
    collect = F.collect_set if dedup_nodes else F.collect_list
    buckets = (
        exploded.groupBy("band", "sig")
        .agg(F.sort_array(collect("_nid")).alias("ids"))
        .filter((F.size("ids") > 1) & (F.size("ids") <= max_bucket))
    )
    from spark_validate.functions.pairs import explode_bucket_pairs

    cand = (
        explode_bucket_pairs(buckets, "ids")
        .select(F.col("p.a").alias("id_a"), F.col("p.b").alias("id_b"))
        .distinct()
    )
    if dedup_nodes:
        cand_nodes = (
            cand.select(F.col("id_a").alias("_nid"))
            .unionByName(cand.select(F.col("id_b").alias("_nid")))
            .distinct()
        )
        vecs = (
            keyed.join(cand_nodes, "_nid", "leftsemi")
            .dropDuplicates(["_nid"])
            .select("_nid", "_vec")
        )
    else:
        vecs = keyed
    j = (
        cand.join(vecs.select(F.col("_nid").alias("id_a"), F.col("_vec").alias("va")), "id_a")
        .join(vecs.select(F.col("_nid").alias("id_b"), F.col("_vec").alias("vb")), "id_b")
    )
    return (
        j.withColumn("cosine", _pair_cosine_arrow("va", "vb"))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def prepare_benchmark(
    benchmark: DataFrame,
    bench_id_col: str = "vec_id",
    bench_vec_col: str = "embedding",
    max_benchmark: int = 100_000,
):
    """Collect + L2-normalize + broadcast the benchmark matrix ONCE.

    Returns ``(bench_id_dtype, broadcast)`` for reuse across several
    :func:`embedding_decontaminate` passes over the same benchmark (a suite
    run scores reference, analysis AND violations — re-collecting a ~100 MB
    matrix three times per run is pure waste). ``broadcast`` is None for an
    empty benchmark."""
    bench_rows = (
        benchmark.select(F.col(bench_id_col), F.col(bench_vec_col))
        .filter(F.col(bench_vec_col).isNotNull())
        .limit(max_benchmark + 1)
        .collect()
    )
    if len(bench_rows) > max_benchmark:
        raise ValueError(
            f"benchmark exceeds max_benchmark={max_benchmark} rows — an eval set this "
            "large should be pre-reduced (dedup/centroids) or checked via the banded "
            "LSH path (embedding_near_duplicates over the union)"
        )
    bench_id_dtype = dict(benchmark.dtypes)[bench_id_col]
    if not bench_rows:
        return bench_id_dtype, None
    bench_ids = [r[0] for r in bench_rows]
    B = np.asarray([r[1] for r in bench_rows], dtype=np.float64)
    B /= np.maximum(np.linalg.norm(B, axis=1, keepdims=True), 1e-12)
    bc = benchmark.sparkSession.sparkContext.broadcast((bench_ids, B))
    return bench_id_dtype, bc


def embedding_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bench_vec_col: Optional[str] = None,
    bench_id_col: Optional[str] = None,
    max_benchmark: int = 100_000,
    batch_top1_only: bool = False,
    prepared=None,
) -> DataFrame:
    """Eval-set leakage by embedding cosine — the semantic sibling of the
    text n-gram decontamination (`text/decontaminate.py`) and the image
    phash decontamination (`image/phash.py`): flag corpus rows whose
    embedding is ≥ ``threshold`` cosine-similar to ANY benchmark vector.

    Same asymmetric topology as the other two: the benchmark (eval sets are
    small and bounded — enforced by ``max_benchmark``) is collected,
    L2-normalized, and BROADCAST as one dense matrix; the 10^12-row corpus
    is scanned ONCE by an Arrow ``mapInPandas`` pass computing the exact
    ``X @ Bᵀ`` similarity block per batch. Zero corpus-side shuffle, zero
    candidate-generation misses (this is exact, not LSH — affordable
    because the benchmark side is tiny: 64-dim × 100k benchmark = 25 MB
    broadcast, and each Arrow batch does one BLAS matmul).

    Emits one row per leaked (corpus row × benchmark row) pair:
    ``(id_col, bench_id, cosine)``; with ``batch_top1_only`` only the best
    benchmark match per corpus row (argmax) is emitted.
    """
    bid = bench_id_col or id_col
    if prepared is None:
        prepared = prepare_benchmark(
            benchmark, bench_id_col=bid, bench_vec_col=bench_vec_col or vec_col,
            max_benchmark=max_benchmark,
        )
    bench_id_dtype, bc = prepared
    corpus = corpus.filter(F.col(vec_col).isNotNull())
    id_dtype = dict(corpus.dtypes)[id_col]
    out_schema = f"{id_col} {id_dtype}, bench_id {bench_id_dtype}, cosine double"
    if bc is None:  # empty benchmark
        return local_frame(corpus.sparkSession, [], out_schema)

    thr = float(threshold)
    top1 = bool(batch_top1_only)

    def score(batches):
        ids_b, mat_b = bc.value
        ids_arr = np.asarray(ids_b, dtype=object)
        for pdf in batches:
            if pdf.empty:
                continue
            X = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
            S = X @ mat_b.T  # (batch, n_bench)
            if top1:
                j = S.argmax(axis=1)
                best = S[np.arange(len(S)), j]
                keep = best >= thr
                if not keep.any():
                    continue
                yield pd.DataFrame(
                    {
                        id_col: pdf[id_col].to_numpy()[keep],
                        "bench_id": ids_arr[j[keep]],
                        "cosine": best[keep],
                    }
                )
            else:
                ci, bj = np.nonzero(S >= thr)
                if len(ci) == 0:
                    continue
                yield pd.DataFrame(
                    {
                        id_col: pdf[id_col].to_numpy()[ci],
                        "bench_id": ids_arr[bj],
                        "cosine": S[ci, bj],
                    }
                )

    return corpus.select(id_col, vec_col).mapInPandas(score, out_schema)


class EmbeddingLeakageCheck:
    """Runner-compatible check: per-chunk rate of corpus rows whose embedding
    is ≥ ``threshold`` cosine-similar to some benchmark vector, plus
    violation rows naming the matched benchmark id and cosine.
    ConstantThreshold(upper=0) default — any leakage alerts (same contract
    as the text DecontaminationCheck and PhashDecontaminationCheck; this is
    the embedding member of that triple). Fit is a no-op (the benchmark is
    configuration); the match pass is :func:`embedding_decontaminate` —
    broadcast benchmark matmul, zero corpus shuffle."""

    def __init__(
        self,
        benchmark: DataFrame,
        threshold: float = 0.95,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
        bench_id_col: Optional[str] = None,
        bench_vec_col: Optional[str] = None,
        chunker=None,
        upper_threshold: float = 0.0,
        max_benchmark: int = 100_000,
    ):
        from spark_validate.chunking import DefaultChunker

        self.benchmark = benchmark
        self.threshold = threshold
        self.vec_col = vec_col
        self.id_col = id_col
        self.bench_id_col = bench_id_col
        self.bench_vec_col = bench_vec_col
        self.chunker = chunker or DefaultChunker()
        self.upper_threshold = upper_threshold
        self.max_benchmark = max_benchmark

    def fit(self, reference: DataFrame) -> "EmbeddingLeakageCheck":
        return self

    def _matches(self, df: DataFrame) -> DataFrame:
        # collect/normalize/broadcast the benchmark matrix once per check
        # instance; a suite run calls _matches up to three times
        # (calculate(reference), calculate(analysis), violations)
        if not hasattr(self, "_prepared"):
            self._prepared = prepare_benchmark(
                self.benchmark,
                bench_id_col=self.bench_id_col or self.id_col,
                bench_vec_col=self.bench_vec_col or self.vec_col,
                max_benchmark=self.max_benchmark,
            )
        return embedding_decontaminate(
            df,
            self.benchmark,
            threshold=self.threshold,
            vec_col=self.vec_col,
            id_col=self.id_col,
            bench_id_col=self.bench_id_col,
            bench_vec_col=self.bench_vec_col,
            max_benchmark=self.max_benchmark,
            prepared=self._prepared,
        )

    def calculate(self, df: DataFrame, period: str = "analysis") -> DataFrame:
        from spark_validate.checks.contamination import contamination_rate

        # a row near several benchmark vectors still counts once in the rate
        bad = self._matches(df).select(F.col(self.id_col).alias("_id")).distinct()
        return contamination_rate(
            df, self.chunker, bad, self.id_col, self.vec_col,
            "embedding_leakage_rate", self.upper_threshold, period,
        )

    def violations(self, df: DataFrame, row_id: Optional[str] = None) -> DataFrame:
        from spark_validate.chunking import CHUNK_KEY

        rid = row_id or self.id_col
        assigned = self.chunker.assign(df)
        m = self._matches(df)
        return assigned.join(m, self.id_col).select(
            F.lit("embedding_leakage").alias("check"),
            F.lit(self.vec_col).alias("column_name"),
            F.col(CHUNK_KEY),
            F.col(rid).cast("string").alias("row_id"),
            F.lit("benchmark_cosine_match").alias("violation_kind"),
            F.concat_ws(
                "@cos=", F.col("bench_id").cast("string"), F.round("cosine", 4).cast("string")
            ).alias("observed_value"),
        )


# ---------------------------------------------------------------------------
# IVF (inverted-file) index — the k-means scale path alongside hyperplane LSH


class IVFIndex:
    """IVF-flat ANN: a k-means coarse quantizer fit on a seeded driver sample
    partitions the corpus into ``n_lists`` inverted lists; a query scans only
    its ``n_probe`` nearest lists with exact cosine.

    Spark shape: the quantizer (n_lists × dim centroids, a few KB) is the
    only fitted state — broadcast into a JVM argmin expression that assigns
    every vector a ``_list`` id. At scale the corpus is written partitioned
    by ``_list``, so a probe is a partition-pruned scan (same storage story
    as the LSH `_sig` column); here the pruning is a filter.

    Deterministic: seeded sample, seeded k-means++-style init, fixed
    iteration count.

    Sizing rule (applied when the caller does not override): inverted-list
    count scales with the corpus — ``n_lists ≈ √n`` (clamped to [1, 4096]),
    ``n_probe = ceil(n_lists / 8)`` so a probe always scans ~1/8 of the
    corpus regardless of n. A FIXED list count is a scale trap: 64 lists
    over 10M vectors puts ~158k vectors in every list and probe recall@10
    collapses (measured 0.80 at 1M → 0.30 at 10M with k=64); √n keeps
    per-list occupancy ≈ √n so both the probe fan-out and the scan-per-list
    grow sub-linearly.
    """

    def __init__(
        self,
        n_lists: Optional[int] = None,
        n_probe: Optional[int] = None,
        sample: int = 100_000,
        seed: int = 42,
    ):
        self.n_lists = n_lists
        self.n_probe = n_probe
        self.sample = sample
        self.seed = seed
        self.centroids: Optional[np.ndarray] = None

    @staticmethod
    def auto_size(n: int) -> tuple:
        """(n_lists, n_probe) for an ``n``-vector corpus: ``n_lists =
        round(√n)`` clamped to [1, 4096] and ≤ n; ``n_probe = ceil(n_lists/8)``
        (the probed fraction that measured recall@10 ≈ 0.8 on the 1M tier)."""
        n_lists = max(1, min(int(round(math.sqrt(max(n, 1)))), 4096, max(n, 1)))
        n_probe = max(1, -(-n_lists // 8))
        return n_lists, n_probe

    # -- fit: driver-side k-means on a normalized sample -----------------------

    def fit(self, df: DataFrame, vec_col: str = "embedding") -> "IVFIndex":
        df = df.filter(F.col(vec_col).isNotNull())  # failed-embedding rows
        n = df.count()
        if n == 0:
            raise ValueError("IVFIndex.fit: no non-null embeddings to fit on")
        if self.n_lists is None:
            self.n_lists, auto_probe = self.auto_size(n)
            if self.n_probe is None:
                self.n_probe = auto_probe
        elif self.n_probe is None:
            self.n_probe = max(1, -(-int(self.n_lists) // 8))
        frac = min(1.0, self.sample / max(n, 1))
        pdf = df.select(vec_col).sample(fraction=frac, seed=self.seed).toPandas()
        if len(pdf) == 0:  # tiny corpus + sampling variance
            pdf = df.select(vec_col).limit(self.sample).toPandas()
        X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        rng = np.random.default_rng(self.seed)
        k = min(self.n_lists, len(X))
        # k-means++ init with a RUNNING nearest-centroid distance (O(k·n·d);
        # recomputing against every centroid per step is O(k²·n·d) — measured
        # 37 s for k=64 on a 100k sample, vs <1 s with the running min)
        cent = [X[rng.integers(len(X))]]
        d2 = ((X - cent[0]) ** 2).sum(axis=1)
        for _ in range(1, k):
            p = d2 / max(d2.sum(), 1e-12)
            c = X[rng.choice(len(X), p=p)]
            cent.append(c)
            d2 = np.minimum(d2, ((X - c) ** 2).sum(axis=1))
        C = np.stack(cent)
        blk = max(1, 8_388_608 // max(k, 1))  # ≤64 MB of scores per argmax block
        for _ in range(15):  # Lloyd iterations, spherical update
            assign = np.empty(len(X), dtype=np.int64)
            for s in range(0, len(X), blk):  # cosine on normalized data
                assign[s : s + blk] = np.argmax(X[s : s + blk] @ C.T, axis=1)
            if k > 256:
                # auto-sized k (√n) makes the per-cluster boolean-mask loop
                # O(k·n); accumulate sums/counts in one pass instead
                sums = np.zeros((k, X.shape[1]))
                np.add.at(sums, assign, X)
                cnts = np.bincount(assign, minlength=k)
                nz = cnts > 0
                means = sums[nz] / cnts[nz][:, None]
                C[nz] = means / np.maximum(
                    np.linalg.norm(means, axis=1, keepdims=True), 1e-12
                )
            else:
                for j in range(k):
                    m = X[assign == j]
                    if len(m):
                        c = m.mean(axis=0)
                        C[j] = c / max(np.linalg.norm(c), 1e-12)
        self.centroids = C
        return self

    # -- assignment: JVM argmax over centroid dot products ---------------------

    def _list_expr(self, vec_col: str):
        v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
        vn = F.greatest(_norm(v), F.lit(1e-12))
        sims = F.array(
            *[
                _dot(v, F.array(*[F.lit(float(x)) for x in c])) / vn
                for c in self.centroids
            ]
        )
        # argmax via array_position(max) — 1-based → 0-based list id
        return (F.array_position(sims, F.array_max(sims)) - 1).cast("int")

    def _assign_arrow(self, vec_col: str):
        """Arrow-batched argmax assignment: one numpy matmul per batch.
        Centroids are unit-norm, so argmax of the dot product IS argmax of
        cosine (the per-row 1/|v| factor is rank-preserving)."""
        from pyspark.sql.functions import pandas_udf

        C = self.centroids

        @pandas_udf("int")
        def assign(v: pd.Series) -> pd.Series:
            vals = v.to_numpy()
            mask = np.array([x is not None for x in vals])
            out = np.full(len(vals), -1, dtype=np.int32)  # -1 = no list (null)
            if mask.any():
                X = np.stack(vals[mask]).astype(np.float64)
                out[mask] = np.argmax(X @ C.T, axis=1).astype(np.int32)
            return pd.Series(out)

        return assign(F.col(vec_col))

    def with_list_ids(self, df: DataFrame, vec_col: str = "embedding", impl: str = "auto") -> DataFrame:
        """Assign each vector its inverted-list id (write-partitionable).

        ``impl``: 'expr' = pure-JVM argmax expression (no Python workers —
        right for few lists); 'arrow' = batched numpy matmul (the n_lists ×
        dim literal expression tree stops being codegen-friendly around
        k≈16); 'auto' picks by n_lists.
        """
        if self.centroids is None:
            raise RuntimeError("fit first")
        use_expr = impl == "expr" or (impl == "auto" and len(self.centroids) <= 16)
        lid = self._list_expr(vec_col) if use_expr else self._assign_arrow(vec_col)
        return df.withColumn("_list", lid)

    def topk(
        self,
        df: DataFrame,
        query: Sequence[float],
        k: int = 10,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
    ) -> DataFrame:
        """Exact cosine top-k within the query's ``n_probe`` nearest lists."""
        if self.centroids is None:
            raise RuntimeError("fit first")
        q = np.asarray(query, dtype=np.float64)
        qn = q / max(np.linalg.norm(q), 1e-12)
        probe = np.argsort(-(self.centroids @ qn))[: self.n_probe].tolist()
        cand = self.with_list_ids(df, vec_col).filter(F.col("_list").isin([int(x) for x in probe]))
        sim = cosine_expr(vec_col, query)
        return (
            cand.select(F.col(id_col).alias("id"), sim.alias("cosine"))
            .orderBy(F.desc("cosine"), F.asc("id"))
            .limit(k)
        )


def write_ivf_partitioned(
    index: "IVFIndex",
    df: DataFrame,
    path: str,
    vec_col: str = "embedding",
    mode: str = "overwrite",
    table_name: Optional[str] = None,
) -> None:
    """Materialize the corpus partitioned by inverted list — the storage
    layout that makes a probe a partition-PRUNED scan (only ``n_probe``
    directories are read; Iceberg/Hive partition pruning at scale).

    ``table_name`` additionally registers the layout as an external catalog
    table (files stay at ``path``): catalog reads prune at the FILE INDEX —
    a ``_list IN (…)`` probe lists only the probed directories, exactly what
    Iceberg metadata pruning does at scale. A bare path read still prunes at
    the scan, but its InMemoryFileIndex lists every file up front."""
    w = index.with_list_ids(df, vec_col).write.mode(mode).partitionBy("_list")
    if table_name is not None:
        w.option("path", path).format("parquet").saveAsTable(table_name)
    else:
        w.parquet(path)


def ivf_probe_topk(
    index: "IVFIndex",
    spark,
    path: str,
    query: Sequence[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Top-k over an IVF-partitioned corpus: the `_list IN (probe…)` filter
    is a partition filter on the parquet layout, so only the probed lists'
    files are scanned. ``path`` may be a directory or a ``table:<name>``
    catalog form (written with ``write_ivf_partitioned(table_name=…)``) —
    the catalog form prunes at the file index itself."""
    if index.centroids is None:
        raise RuntimeError("fit first")
    q = np.asarray(query, dtype=np.float64)
    qn = q / max(np.linalg.norm(q), 1e-12)
    probe = [int(x) for x in np.argsort(-(index.centroids @ qn))[: index.n_probe]]
    from spark_validate.io.readers import read_table

    cand = read_table(spark, path).filter(F.col("_list").isin(probe))
    sim = cosine_expr(vec_col, query)
    return (
        cand.select(F.col(id_col).alias("id"), sim.alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("id"))
        .limit(k)
    )


def embedding_clusters(
    df: DataFrame,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_bands: Optional[int] = None,
    rows_per_band: Optional[int] = None,
    seed: int = 42,
    max_bucket: int = 200,
) -> DataFrame:
    """Embedding dedup CLUSTERS: the cosine near-dup pair graph collapsed to
    connected components — ``(vec_id, cluster_id, cluster_size, keep)``,
    ``cluster_id`` = min id in the component, ``keep`` = the canonical
    representative. The embedding-axis member of the cluster trilogy
    (``text/dedup.py::near_duplicate_clusters``,
    ``image/phash.py::phash_clusters``) — all three share
    ``functions/graph.py::connected_components``.

    Graph nodes are 128-bit vector FINGERPRINTS (two independent xxhash64
    seeds; collision odds ~n²/2^129 ≈ 1e-21 at 10^9 rows), not vec ids:
    byte-identical embeddings (re-ingested copies) collapse inside the
    banded shuffle itself — buckets ``collect_set`` fingerprints, so the
    map-side partials dedup and a 10^8-copy boilerplate vector is one node
    under the bucket cap, with ZERO extra stages and the vector column
    never entering any shuffle (signatures are a narrow Arrow projection;
    the exact-cosine verify joins the bounded candidate set back to the
    corpus, which AQE broadcasts). ``label_clusters`` relabels components
    to the minimum member id, so the output contract is unchanged."""
    from spark_validate.functions.graph import label_clusters

    nn = df.filter(F.col(vec_col).isNotNull())  # NULL embedding = singleton
    node = F.concat_ws(
        ":",
        F.xxhash64(F.col(vec_col), F.lit(1)),
        F.xxhash64(F.col(vec_col), F.lit(2)),
    ).alias("_node")
    keyed = nn.select(F.col(id_col), F.col(vec_col), node)
    if n_bands is None or rows_per_band is None:
        # plan from the member count (an upper bound on node count — extra
        # selectivity errs toward fewer false candidates, never less recall
        # for the planned n)
        auto_b, auto_r = lsh_plan(nn.count(), threshold)
        n_bands = auto_b if n_bands is None else n_bands
        rows_per_band = auto_r if rows_per_band is None else rows_per_band
    first = nn.select(vec_col).first()
    if first is None:  # all embeddings null → every row is a singleton
        return df.select(
            F.col(id_col).alias("vec_id"),
            F.col(id_col).alias("cluster_id"),
            F.lit(1).cast("long").alias("cluster_size"),
            F.lit(True).alias("keep"),
        )
    # shared banded core, clusters convention: fingerprint nodes dedup
    # inside the bucket aggregate, verify fetches one vector per node (all
    # members of a fingerprint are byte-identical — any pick is exact)
    pairs = _banded_cosine_pairs(
        keyed.select(F.col("_node").alias("_nid"), F.col(vec_col).alias("_vec")),
        threshold, n_bands, rows_per_band, seed, len(first[0]), max_bucket,
        dedup_nodes=True,
    ).select("id_a", "id_b")
    members = keyed.select(F.col(id_col).alias("vec_id"), "_node")
    clustered = label_clusters(
        members, pairs, member_col="vec_id", node_col="_node", content_nodes=True
    )
    singletons = df.filter(F.col(vec_col).isNull()).select(
        F.col(id_col).alias("vec_id"),
        F.col(id_col).alias("cluster_id"),
        F.lit(1).cast("long").alias("cluster_size"),
        F.lit(True).alias("keep"),
    )
    return clustered.unionByName(singletons)
