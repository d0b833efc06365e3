"""Image-payload checks — Arrow-vectorized ``mapInPandas`` over binary columns.

Per BASELINE.json ``input_hint``: decode + pixel-stat constraints run ONLY in
vectorized pandas/Arrow UDFs (never per-row Python), with explicit
``repartitionByRange(image_id)`` before the decode pass and AQE skew handling
for oversized ``bytes``. Per-row equivalence vs a reference copy is
decoded-pixel allclose at PSNR ≥ 40 dB (lossy) + exact caption equality.

Real image codecs (PIL/libjpeg) are NOT in this container. ``_decode``
dispatches: if PIL is importable it decodes real images; otherwise it decodes
the deterministic fake 'SVI0' codec from ``synth.py`` (4-byte magic + w + h +
sha-seeded pixel bytes). The Spark-side plumbing — schema, partitioning, UDF
signature, Arrow batch shape — is identical either way, which is the part
that has to be right at 10^12 rows.
"""

from __future__ import annotations

import math
from typing import Iterator, Optional, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spark_validate.session import shuffle_partitions

try:  # real codec path (absent in this container)
    from PIL import Image  # noqa: F401

    _HAS_PIL = True
except ImportError:
    _HAS_PIL = False


# Fake-codec shape: pixels per image (16K ≈ a 128×128 tile) and compute
# rounds. Real decoders (Huffman + IDCT) are COMPUTE-dense — tens of ops per
# output byte over cache-resident blocks — so the stub does K vectorized
# mixing rounds over a small in-cache buffer rather than streaming megabytes
# of PRNG output (which would benchmark DRAM bandwidth, not decode compute).
MAX_FAKE_PIXELS = 16_384
DECODE_ROUNDS = 40


# --- mixing-round kernel ------------------------------------------------------
# The K rounds are ELEMENTWISE (each uint32 word mixes independently), so the
# per-element recurrence can run rounds-in-register in compiled code instead
# of K×4 whole-array numpy passes (which are numpy-dispatch/memory bound:
# measured ~260 µs/16 KB image vs ~13 µs compiled — bit-identical output).
# Compiled once per process from embedded C via the system compiler; any
# failure (no compiler, sandboxed /tmp) falls back to the numpy loop.
_MIX_C_SRC = """
#include <stdint.h>
void sv_mix_rounds(uint32_t *b, int64_t n, int rounds) {
    const int64_t BLK = 2048;               /* 8 KB: L1-resident */
    for (int64_t s = 0; s < n; s += BLK) {
        int64_t e = s + BLK < n ? s + BLK : n;
        for (int r = 0; r < rounds; r++) {
            for (int64_t i = s; i < e; i++) {
                uint32_t x = b[i] * 2654435761u + 0x9E3779B9u;
                b[i] = x ^ (x >> 13);
            }
        }
    }
}
"""
_MIX_KERNEL = None  # None = not tried yet; False = unavailable


def _mix_kernel():
    """Compile-once ctypes handle for the mixing kernel (or False)."""
    global _MIX_KERNEL
    if _MIX_KERNEL is not None:
        return _MIX_KERNEL
    try:  # pragma: no cover - exercised indirectly (fallback path is tested)
        import ctypes
        import hashlib
        import os
        import subprocess
        import tempfile

        tag = hashlib.sha256(_MIX_C_SRC.encode()).hexdigest()[:16]
        so = os.path.join(tempfile.gettempdir(), f"sv_mix_{tag}.so")
        if not os.path.exists(so):
            src = so + f".{os.getpid()}.c"
            tmp = so + f".{os.getpid()}.tmp"
            with open(src, "w") as f:
                f.write(_MIX_C_SRC)
            subprocess.run(
                ["cc", "-O3", "-march=native", "-shared", "-fPIC", "-o", tmp, src],
                check=True, capture_output=True, timeout=60,
            )
            os.rename(tmp, so)  # atomic: concurrent workers race safely
            os.unlink(src)
        lib = ctypes.CDLL(so)
        lib.sv_mix_rounds.argtypes = [
            ctypes.POINTER(ctypes.c_uint32), ctypes.c_int64, ctypes.c_int,
        ]
        lib.sv_mix_rounds.restype = None
        _MIX_KERNEL = lib
    except Exception:
        _MIX_KERNEL = False
    return _MIX_KERNEL


def _mix_rounds_inplace(arr: np.ndarray) -> None:
    """Apply the DECODE_ROUNDS mixing recurrence in place (uint32, 1-D,
    C-contiguous). Elementwise → identical results for any batching."""
    lib = _mix_kernel()
    if lib:
        import ctypes

        lib.sv_mix_rounds(
            arr.ctypes.data_as(ctypes.POINTER(ctypes.c_uint32)),
            arr.size,
            DECODE_ROUNDS,
        )
        return
    c1, c2, sh = np.uint32(2654435761), np.uint32(0x9E3779B9), np.uint32(13)
    tmp = np.empty(min(arr.size, 32768), dtype=np.uint32)
    for s in range(0, arr.size, 32768):  # L2-resident slices
        v = arr[s : s + 32768]
        t = tmp[: v.size]
        for _ in range(DECODE_ROUNDS):
            np.multiply(v, c1, out=v)
            np.add(v, c2, out=v)
            np.right_shift(v, sh, out=t)
            np.bitwise_xor(v, t, out=v)


# one-time check that PCG64.random_raw(k).view(uint32) reproduces
# Generator.integers(0, 2**32, 2k, uint32) on this platform/numpy (it does on
# little-endian CPython builds; if not, the slower Generator path is used)
_RAW_VIEW_OK = bool(
    np.array_equal(
        np.random.Generator(np.random.PCG64(0xC0FFEE)).integers(0, 2**32, 8, dtype=np.uint32),
        np.random.PCG64(0xC0FFEE).random_raw(4).view(np.uint32),
    )
)


def _svi0_block(seed: int, n_words: int) -> np.ndarray:
    """The seeded pre-mix word block — identical to
    ``Generator(PCG64(seed)).integers(0, 2**32, n_words, uint32)``."""
    if _RAW_VIEW_OK and n_words % 2 == 0:
        # same stream via raw 64-bit draws (skips Generator construction)
        return np.random.PCG64(seed).random_raw(n_words // 2).view(np.uint32)
    rng = np.random.Generator(np.random.PCG64(seed))
    return rng.integers(0, 2**32, n_words, dtype=np.uint32)


def _decode_batch(bufs) -> list:
    """Decode many payloads — bit-identical to ``[_decode(b) for b in bufs]``
    but batched: per-image work is only header parse + CRC + seeded block
    fill; the K mixing rounds run over a concatenated buffer in one kernel
    call per ~64-image group (guide §4.2: hand whole batches to native code).
    """
    import zlib

    out: list = [None] * len(bufs)
    pend_idx: list = []   # indices awaiting the mix pass
    pend_blk: list = []   # their pre-mix word blocks
    pend_npx: list = []
    pend_words = 0

    def _flush():
        nonlocal pend_idx, pend_blk, pend_npx, pend_words
        if not pend_idx:
            return
        cat = pend_blk[0] if len(pend_blk) == 1 else np.concatenate(pend_blk)
        _mix_rounds_inplace(cat)
        off = 0
        for i, blk, n_px in zip(pend_idx, pend_blk, pend_npx):
            nw = blk.size
            out[i] = cat[off : off + nw].view(np.uint8)[:n_px]
            off += nw
        pend_idx, pend_blk, pend_npx, pend_words = [], [], [], 0

    for i, buf in enumerate(bufs):
        if buf is None or len(buf) < 12:
            continue
        b = bytes(buf)
        if b[:4] != b"SVI0":
            if _HAS_PIL:  # pragma: no cover - PIL absent in this container
                out[i] = _decode(b)
            continue
        if len(b) == 12:  # empty body
            continue
        w = int.from_bytes(b[4:8], "big")
        h = int.from_bytes(b[8:12], "big")
        n_px = min(max(w * h, 1), MAX_FAKE_PIXELS)
        crc = zlib.crc32(b)
        seed = (crc * 0x9E3779B97F4A7C15 ^ ((len(b) - 12) << 32)) & 0xFFFFFFFFFFFFFFFF
        blk = _svi0_block(seed, (n_px + 3) // 4)
        pend_idx.append(i)
        pend_blk.append(blk)
        pend_npx.append(n_px)
        pend_words += blk.size
        if pend_words >= 262_144:  # ~1 MB per mix call: cache-friendly
            _flush()
    _flush()
    return out


def _decode(buf: Optional[bytes]) -> Optional[np.ndarray]:
    """Decode a payload to a uint8 pixel array.

    Fake 'SVI0' codec: 4B magic + 4B w + 4B h header; pixels derive
    deterministically from the BODY CONTENT (CRC seed → PCG64 fill → K
    mixing rounds) — duplicate payloads decode identically, any body byte
    flip changes every pixel (PSNR collapses), and the per-image CPU cost is
    representative of a real codec. Real codecs via PIL when present.
    """
    if buf is None or len(buf) < 12:
        return None
    if bytes(buf[:4]) == b"SVI0":
        b = bytes(buf)
        w = int.from_bytes(b[4:8], "big")
        h = int.from_bytes(b[8:12], "big")
        n_px = min(max(w * h, 1), MAX_FAKE_PIXELS)
        body = np.frombuffer(b, dtype=np.uint8, offset=12)
        if len(body) == 0:
            return None
        # seed from a full-content CRC (C-speed) — ANY body byte flip reseeds
        import zlib

        crc = zlib.crc32(b)
        seed = (crc * 0x9E3779B97F4A7C15 ^ (len(body) << 32)) & 0xFFFFFFFFFFFFFFFF
        block = _svi0_block(seed, (n_px + 3) // 4)
        _mix_rounds_inplace(block)
        return block.view(np.uint8)[:n_px]
    if _HAS_PIL:  # pragma: no cover - not available in this container
        import io

        from PIL import Image

        try:
            return np.asarray(Image.open(io.BytesIO(bytes(buf)))).ravel()
        except Exception:  # corrupt real image: a finding, not a crash
            return None
    # Unknown magic without a real codec → decode failure (decode_ok=False).
    # A VALIDATOR must classify corrupt payloads, not die on the first
    # bit-rotten blob of 10^12 (one NotImplementedError in a task kills the
    # whole job). A PIL-less run over real images reports decode rate 0 —
    # loud and immediately diagnosable; transforms (whose OUTPUT needs the
    # codec) keep their explicit NotImplementedError gate.
    return None


def _pixel_stats_batch(px: list) -> tuple:
    """(decode_ok, n_px, mean, std) lists for a batch of decoded arrays —
    bit-identical to the per-image ``float(p.mean())`` / ``float(p.std())``
    (same-length rows are stacked and reduced along axis=1, which runs the
    identical pairwise-summation inner loop per row)."""
    n = len(px)
    ok = [p is not None for p in px]
    n_px = [len(p) if p is not None else 0 for p in px]
    means = [float("nan")] * n
    stds = [float("nan")] * n
    groups: dict = {}
    for i, p in enumerate(px):
        if p is not None and len(p):
            groups.setdefault(len(p), []).append(i)
    for _L, idxs in groups.items():
        # bounded slices: a full 10k-row Arrow batch stacked at once would
        # materialize ~GB float64 temporaries per worker (guide §5)
        step = max(1, 131_072 // max(_L, 1))  # cache-resident float64 temps (measured best)
        for s in range(0, len(idxs), step):
            sl = idxs[s : s + step]
            m = np.stack([px[i] for i in sl])
            mu = m.mean(axis=1)
            sd = m.std(axis=1)
            for j, i in enumerate(sl):
                means[i] = float(mu[j])
                stds[i] = float(sd[j])
    return ok, n_px, means, stds


def _psnr(a: np.ndarray, b: np.ndarray) -> float:
    if a is None or b is None:
        return float("nan")
    n = min(len(a), len(b))
    if n == 0:
        return float("nan")
    mse = float(np.mean((a[:n].astype(np.float64) - b[:n].astype(np.float64)) ** 2))
    if mse == 0 and len(a) == len(b):
        return float("inf")
    if mse == 0:
        return 0.0  # equal prefix but different length → not equivalent
    return 10.0 * math.log10(255.0**2 / mse)


def _psnr_batch(pa: list, pb: list) -> list:
    """``[_psnr(a, b) for a, b in zip(pa, pb)]``, with equal-length pairs
    vectorized. The MSE of uint8 pixels is an exact integer divided by n
    (every squared diff ≤ 255² and the sum < 2⁵³ are exactly representable),
    so the integer path below equals the float64 mean bit-for-bit; the final
    log10 stays scalar ``math.log10`` — the exact call the per-pair path makes.
    """
    out = [float("nan")] * len(pa)
    groups: dict = {}
    for i, (a, b) in enumerate(zip(pa, pb)):
        if a is None or b is None:
            continue
        if len(a) == len(b) and len(a):
            groups.setdefault(len(a), []).append(i)
        else:
            out[i] = _psnr(a, b)
    for _L, idxs in groups.items():
        # bounded slices (see _pixel_stats_batch): cap the int32 temporaries
        step = max(1, 131_072 // max(_L, 1))
        for s in range(0, len(idxs), step):
            sl = idxs[s : s + step]
            ma = np.stack([pa[i] for i in sl]).astype(np.int16)
            mb = np.stack([pb[i] for i in sl]).astype(np.int16)
            d = np.subtract(ma, mb)  # diffs fit int16; squares go to int32
            sq = np.multiply(d, d, dtype=np.int32).sum(axis=1, dtype=np.int64)
            for j, i in enumerate(sl):
                if sq[j] == 0:
                    out[i] = float("inf")  # equal length by grouping
                else:
                    mse = float(sq[j]) / _L
                    out[i] = 10.0 * math.log10(255.0**2 / mse)
    return out


def decode_pixel_stats(
    df: DataFrame, partitions: Optional[int] = None, carry: Sequence[str] = ()
) -> DataFrame:
    """Per-image decoded pixel statistics.

    ``repartitionByRange(image_id)`` spreads oversized payloads across tasks
    (north rule); everything else is an Arrow-batched iterator — no per-row
    Python calls cross the JVM boundary. ``carry`` names extra input columns
    to pass through unchanged (a chunk key, an event timestamp) so
    downstream chunked/windowed consumers keep their identity columns
    without re-joining the raw table.
    """
    n_parts = partitions or shuffle_partitions(df.sparkSession)
    # repartitionByRange samples the input to pick bounds — impossible on a
    # stream; hash repartition spreads oversized payloads just as well there
    # (range order only matters for the batch suite's storage locality)
    spread = (
        df.repartition(n_parts, "image_id")
        if df.isStreaming
        else df.repartitionByRange(n_parts, "image_id")
    )
    carry = [c for c in carry if c not in ("image_id", "bytes", "w", "h")]
    src = spread.select("image_id", "bytes", "w", "h", *carry)

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            px = _decode_batch(list(pdf["bytes"]))
            ok, n_px, means, stds = _pixel_stats_batch(px)
            out = pd.DataFrame(
                {
                    "image_id": pdf["image_id"],
                    "decode_ok": ok,
                    "n_px_bytes": n_px,
                    "px_mean": means,
                    "px_std": stds,
                }
            )
            for c in carry:
                out[c] = pdf[c].values
            yield out

    dtypes = dict(df.dtypes)
    schema = "image_id string, decode_ok boolean, n_px_bytes long, px_mean double, px_std double"
    for c in carry:
        schema += f", {c} {dtypes[c]}"
    return src.mapInPandas(op, schema)


def payload_checks(
    analysis: DataFrame,
    reference: DataFrame,
    psnr_db_min: float = 40.0,
    partitions: Optional[int] = None,
) -> DataFrame:
    """Fused payload pass: pixel stats AND PSNR-vs-reference equivalence in
    ONE Arrow stage.

    Running :func:`decode_pixel_stats` and :func:`psnr_check` separately
    decodes every analysis payload twice (3 decodes per image incl. the
    reference side); this fusion decodes each side exactly once — a 33%
    decode-CPU cut on the dominant suite stage. LEFT join: images missing
    from the reference still get pixel stats, with NULL psnr/passes (they are
    the referential check's finding, not an equivalence failure).

    The join's own hash exchange already clusters and spreads rows by
    ``image_id``; an extra ``repartitionByRange`` here would be a THIRD full
    shuffle of the payload bytes plus a range-sampling pass (guide §2.4 —
    remove shuffles outright; §8 — move heavy bytes once). AQE skew-join
    splitting covers oversized-payload skew inside the join itself.

    Join strategy (guide §3.1): the reference side is hinted SHUFFLE_HASH —
    sort-merge would SORT both sides' payload-byte rows by the string key
    (measured 37.8 s cold / 12.5 s warm vs 10.7 / 8.5 s at 1M×1 KB rows,
    identical results). The hash build holds one post-shuffle reference
    partition (bounded by ref_bytes / shuffle-partitions, AQE-coalesced);
    image_id is unique per side, so there is no hot-key build risk.
    """
    a = analysis.select(
        "image_id", F.col("bytes").alias("bytes_a"), F.col("caption").alias("caption_a")
    )
    r = reference.select(
        "image_id", F.col("bytes").alias("bytes_r"), F.col("caption").alias("caption_r")
    )
    joined = a.join(r.hint("shuffle_hash"), "image_id", "left")

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pa = _decode_batch(list(pdf["bytes_a"]))
            bytes_r = list(pdf["bytes_r"])
            has_ref = [br is not None for br in bytes_r]
            pr = _decode_batch(bytes_r)
            ok, n_px, means, stds = _pixel_stats_batch(pa)
            all_psnr = _psnr_batch(pa, pr)
            psnrs, cap_eq, passes = [], [], []
            for i, (ca, cr) in enumerate(zip(pdf["caption_a"], pdf["caption_r"])):
                if not has_ref[i]:
                    psnrs.append(None)
                    cap_eq.append(None)
                    passes.append(None)
                else:
                    p = all_psnr[i]
                    psnrs.append(p)
                    cap_eq.append(bool(ca == cr))
                    passes.append(bool(p >= psnr_db_min and ca == cr))
            yield pd.DataFrame(
                {
                    "image_id": pdf["image_id"],
                    "decode_ok": ok,
                    "n_px_bytes": n_px,
                    "px_mean": means,
                    "px_std": stds,
                    "psnr_db": psnrs,
                    "caption_equal": cap_eq,
                    "passes": passes,
                }
            )

    schema = (
        "image_id string, decode_ok boolean, n_px_bytes long, px_mean double, "
        "px_std double, psnr_db double, caption_equal boolean, passes boolean"
    )
    return joined.mapInPandas(op, schema)


def psnr_check(
    analysis: DataFrame,
    reference: DataFrame,
    psnr_db_min: float = 40.0,
    partitions: Optional[int] = None,
) -> DataFrame:
    """Per-row equivalence vs the reference copy: decoded-pixel PSNR ≥
    ``psnr_db_min`` plus EXACT caption equality (input_hint invariant).

    Join on image_id (sort-merge/AQE for big sides), then one Arrow pass
    decoding both payloads. Returns one row per joined image with
    ``psnr_db``, ``caption_equal``, ``passes``. The join's hash exchange
    already spreads rows by ``image_id`` — no extra byte shuffle (guide §2.4).
    """
    a = analysis.select(
        "image_id", F.col("bytes").alias("bytes_a"), F.col("caption").alias("caption_a")
    )
    r = reference.select(
        "image_id", F.col("bytes").alias("bytes_r"), F.col("caption").alias("caption_r")
    )
    joined = a.join(r.hint("shuffle_hash"), "image_id", "inner")

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            psnrs = _psnr_batch(_decode_batch(list(pdf["bytes_a"])), _decode_batch(list(pdf["bytes_r"])))
            cap_eq = [ca == cr for ca, cr in zip(pdf["caption_a"], pdf["caption_r"])]
            out = pd.DataFrame(
                {"image_id": pdf["image_id"], "psnr_db": psnrs, "caption_equal": cap_eq}
            )
            out["passes"] = (out["psnr_db"] >= psnr_db_min) & out["caption_equal"]
            yield out

    schema = "image_id string, psnr_db double, caption_equal boolean, passes boolean"
    return joined.mapInPandas(op, schema)


class PayloadDriftCheck:
    """Distribution drift over DECODED payload statistics — the payload
    sibling of the metadata drift checks. Header drift (w/h/fmt) can stay
    flat while the pixels change under it (a re-encode at lower quality, a
    watermark roll-out, a camera/sensor shift upstream): per-chunk drift of
    ``px_mean`` / ``px_std`` sees it.

    Composition, not a new engine: the chunker runs on the RAW table (its
    columns exist there), the Arrow decode CARRIES ``chunk_key`` through
    ``decode_pixel_stats(carry=...)``, and the unchanged
    ``UnivariateDriftCalculator`` consumes the stats frame under a
    :class:`~spark_validate.chunking.PreassignedChunker`. Decode-failed
    rows carry NaN stats → NaN→NULL semantics exclude them from every
    histogram (decode failures are the payload CONSTRAINT check's job).

    Scale: one decode pass per calculate (the stats frame is persisted
    during fit, where the inner calculator makes two passes — bin fitting +
    reference thresholds); at production scale the fitted state comes from
    the store (load-or-fit) so the recurring job pays exactly one decode of
    the analysis table. Streaming: the same decode runs statelessly per
    micro-batch and the fitted calculator compiles through the standard
    windowed drift path (carry the event-time column).
    """

    def __init__(
        self,
        stat_cols: Sequence[str] = ("px_mean", "px_std"),
        continuous_methods: Sequence[str] = ("jensen_shannon",),
        chunker=None,
        n_bins_doane: Optional[int] = None,
        threshold=None,
    ):
        from spark_validate.chunking import DefaultChunker

        self.stat_cols = list(stat_cols)
        self.chunker = chunker or DefaultChunker()
        self.continuous_methods = tuple(continuous_methods)
        self.n_bins_doane = n_bins_doane
        self.threshold = threshold
        self._inner = None

    def _stats(self, df: DataFrame) -> DataFrame:
        from spark_validate.chunking import CHUNK_KEY, ROW_INDEX

        assigned = self.chunker.assign(df)
        # carry the row index / timestamp too, so downstream headers keep
        # chronological chunk_index ordering and start/end metadata instead
        # of falling back to lexical key order
        carry = [CHUNK_KEY]
        if ROW_INDEX in assigned.columns:
            carry.append(ROW_INDEX)
        ts = getattr(self.chunker, "timestamp_column", None)
        if ts and ts in assigned.columns:
            carry.append(ts)
        return decode_pixel_stats(assigned, carry=carry)

    def _make_inner(self):
        from spark_validate.chunking import PreassignedChunker
        from spark_validate.drift.univariate import UnivariateDriftCalculator

        return UnivariateDriftCalculator(
            self.stat_cols,
            continuous_methods=self.continuous_methods,
            chunker=PreassignedChunker(
                timestamp_column=getattr(self.chunker, "timestamp_column", None)
            ),
            n_bins_doane=self.n_bins_doane,
            threshold=self.threshold,
            computation="estimated",  # raw-value exact path would hold decoded stats on the driver
        )

    def fit(self, reference: DataFrame) -> "PayloadDriftCheck":
        stats = self._stats(reference).persist()
        try:
            self._inner = self._make_inner()
            self._inner.fit(stats)
        finally:
            stats.unpersist(blocking=False)
        return self

    def calculate(self, df: DataFrame, period: str = "analysis") -> DataFrame:
        if self._inner is None:
            raise RuntimeError("fit first (or set_state)")
        return self._inner.calculate(self._stats(df), period=period)

    def release_cache(self) -> None:
        if self._inner is not None:
            self._inner.release_cache()

    def get_state(self) -> dict:
        if self._inner is None:
            raise RuntimeError("fit first")
        return {"version": 1, "inner": self._inner.get_state()}

    def set_state(self, state: dict) -> None:
        self._inner = self._make_inner()
        self._inner.set_state(state["inner"])
