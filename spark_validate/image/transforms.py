"""Multimodal payload transforms — decode→resize, feature extraction, and
video frame sampling, all Arrow-vectorized ``mapInPandas``.

These are the training-data-pipeline operators the north rule's image table
feeds (beyond validation): prepare pixels at a target size, extract compact
per-image feature vectors (for the ANN/dedup operators in ``sim/``), and
sample frames out of opaque video payloads.

Codec reality in this container: PIL/ffmpeg are absent, so the *decode* steps
dispatch exactly like ``payload._decode`` — the deterministic fake 'SVI0'
image codec (and an analogous 'SVV0' video container defined here). The
Spark-side plumbing — schemas, ``repartitionByRange`` ahead of the Arrow
pass, iterator batch shapes, row-exploding frame output — is real and tested;
swapping in a real codec changes only the innermost numpy call.

Video container 'SVV0' (fake, deterministic): magic ``SVV0`` + 4B n_frames +
4B frame_len, then n_frames bodies of frame_len bytes; each frame decodes as
an SVI0-style body (content-seeded pixels). Real video decode (PIL/av) raises
``NotImplementedError`` with a clear message when the magic is unknown.
"""

from __future__ import annotations

from typing import Iterator, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spark_validate.image.payload import _HAS_PIL, _decode
from spark_validate.session import shuffle_partitions

VIDEO_MAGIC = b"SVV0"
AUDIO_MAGIC = b"SVA0"


def _parts(df: DataFrame, partitions: Optional[int]) -> int:
    return partitions or shuffle_partitions(df.sparkSession)


def _resize_nearest(px: np.ndarray, src_w: int, src_h: int, out_w: int, out_h: int) -> np.ndarray:
    """Nearest-neighbor resample of a flattened grayscale buffer.

    The fake codec caps decoded pixels, so the buffer is treated as the
    top-left ``(h', w')`` window that actually decoded — the index math is the
    real resize kernel either way."""
    n = len(px)
    w = max(min(src_w, n), 1)
    h = max(min(src_h, max(n // w, 1)), 1)
    img = px[: w * h].reshape(h, w)
    yi = np.minimum((np.arange(out_h) * h) // out_h, h - 1)
    xi = np.minimum((np.arange(out_w) * w) // out_w, w - 1)
    return img[yi][:, xi]


def resize_images(
    df: DataFrame,
    out_w: int,
    out_h: int,
    partitions: Optional[int] = None,
) -> DataFrame:
    """Decode → nearest-neighbor resize → raw pixel payload.

    Returns (image_id, out_w, out_h, pixels binary) — the decode-and-resize
    step of a training-data prep pipeline. One ``repartitionByRange`` for
    payload spread, one Arrow pass; with PIL present the inner kernel is
    ``Image.resize``, otherwise the numpy nearest-neighbor kernel runs on the
    fake-codec pixels.
    """
    src = df.repartitionByRange(_parts(df, partitions), "image_id").select(
        "image_id", "bytes", "w", "h"
    )

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, pxs = [], []
            for image_id, buf, w, h in zip(pdf["image_id"], pdf["bytes"], pdf["w"], pdf["h"]):
                px = _decode(buf)
                if px is None:
                    continue
                if _HAS_PIL and not bytes(buf[:4]) == b"SVI0":  # pragma: no cover
                    import io

                    from PIL import Image

                    img = Image.open(io.BytesIO(bytes(buf))).convert("L").resize((out_w, out_h))
                    resized = np.asarray(img, dtype=np.uint8)
                else:
                    resized = _resize_nearest(px, int(w), int(h), out_w, out_h)
                ids.append(image_id)
                pxs.append(resized.astype(np.uint8).tobytes())
            yield pd.DataFrame(
                {
                    "image_id": ids,
                    "out_w": np.full(len(ids), out_w, dtype=np.int32),
                    "out_h": np.full(len(ids), out_h, dtype=np.int32),
                    "pixels": pxs,
                }
            )

    return src.mapInPandas(op, "image_id string, out_w int, out_h int, pixels binary")


def extract_image_features(
    df: DataFrame,
    n_bins: int = 16,
    partitions: Optional[int] = None,
) -> DataFrame:
    """Compact per-image feature vector: [mean, std, p25, p50, p75] +
    ``n_bins`` normalized intensity histogram → ``array<float>``.

    Feeds the embedding operators (``sim/ann.py`` near-dup / top-k) — the
    image-side producer of the ``embeddings``-style table.
    """
    src = df.repartitionByRange(_parts(df, partitions), "image_id").select("image_id", "bytes")
    edges = np.linspace(0, 256, n_bins + 1)

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, feats = [], []
            for image_id, buf in zip(pdf["image_id"], pdf["bytes"]):
                px = _decode(buf)
                if px is None or len(px) == 0:
                    continue
                f = px.astype(np.float64)
                hist, _ = np.histogram(px, bins=edges)
                vec = np.concatenate(
                    (
                        [f.mean(), f.std()],
                        np.percentile(f, [25, 50, 75]),
                        hist / len(px),
                    )
                )
                ids.append(image_id)
                feats.append(vec.astype(np.float32).tolist())
            yield pd.DataFrame({"image_id": ids, "features": feats})

    return src.mapInPandas(op, "image_id string, features array<float>")


# ---------------------------------------------------------------------------
# audio: opaque binary; decode → waveform statistics


def synth_audio_payload(audio_id: str, n_samples: int = 4096, sample_rate: int = 16000) -> bytes:
    """Deterministic fake audio: SVA0 header + content-derived int16 PCM."""
    import hashlib

    head = AUDIO_MAGIC + int(sample_rate).to_bytes(4, "big") + int(n_samples).to_bytes(4, "big")
    seed = int.from_bytes(hashlib.sha256(audio_id.encode()).digest()[:8], "big")
    rng = np.random.Generator(np.random.PCG64(seed))
    pcm = (rng.standard_normal(n_samples) * 8000).astype("<i2")
    return head + pcm.tobytes()


def decode_audio_stats(
    df: DataFrame,
    audio_col: str = "bytes",
    id_col: str = "audio_id",
    partitions: Optional[int] = None,
) -> DataFrame:
    """Per-clip waveform statistics (duration, RMS, peak, clipping rate) from
    opaque audio payloads — the audio analog of ``decode_pixel_stats``.

    SVA0 (fake, deterministic) decodes to int16 PCM; any other container
    raises ``NotImplementedError`` (soundfile/ffmpeg absent here). Plumbing —
    range repartition, Arrow iterator, schema — is the scale-relevant part.
    """
    src = df.repartitionByRange(_parts(df, partitions), id_col).select(
        F.col(id_col).alias("audio_id"), F.col(audio_col).alias("_a")
    )

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, srs, durs, rms, peak, clip = [], [], [], [], [], []
            for aid, buf in zip(pdf["audio_id"], pdf["_a"]):
                if buf is None or len(buf) < 12:
                    continue
                b = bytes(buf)
                if b[:4] != AUDIO_MAGIC:
                    raise NotImplementedError(
                        "real audio decoding requires soundfile/ffmpeg, which is not "
                        "installed; only the deterministic SVA0 container is supported here"
                    )
                sr = int.from_bytes(b[4:8], "big")
                n = int.from_bytes(b[8:12], "big")
                pcm = np.frombuffer(b, dtype="<i2", offset=12, count=min(n, (len(b) - 12) // 2))
                x = pcm.astype(np.float64) / 32768.0
                ids.append(aid)
                srs.append(sr)
                durs.append(len(x) / sr if sr else float("nan"))
                rms.append(float(np.sqrt(np.mean(x * x))) if len(x) else float("nan"))
                peak.append(float(np.abs(x).max()) if len(x) else float("nan"))
                # int16 -32768 has no positive counterpart: np.abs wraps it
                # back to -32768 and negative-rail clipping would go uncounted
                # — measure on the float samples instead
                clip.append(float((np.abs(x) >= 32767.0 / 32768.0).mean()) if len(pcm) else float("nan"))
            yield pd.DataFrame(
                {
                    "audio_id": ids,
                    "sample_rate": np.array(srs, dtype=np.int32),
                    "duration_s": durs,
                    "rms": rms,
                    "peak": peak,
                    "clipping_rate": clip,
                }
            )

    return src.mapInPandas(
        op,
        "audio_id string, sample_rate int, duration_s double, rms double, peak double, clipping_rate double",
    )


# ---------------------------------------------------------------------------
# video: opaque binary + typed metadata; frame sampling explodes rows


def synth_video_payload(video_id: str, n_frames: int, frame_len: int = 256) -> bytes:
    """Deterministic fake video: SVV0 header + content-derived frame bodies."""
    import hashlib

    head = VIDEO_MAGIC + int(n_frames).to_bytes(4, "big") + int(frame_len).to_bytes(4, "big")
    frames = [
        hashlib.sha256(f"{video_id}:{i}".encode()).digest() * ((frame_len // 32) + 1)
        for i in range(n_frames)
    ]
    return head + b"".join(fr[:frame_len] for fr in frames)


def sample_video_frames(
    df: DataFrame,
    stride: int = 10,
    video_col: str = "bytes",
    id_col: str = "video_id",
    partitions: Optional[int] = None,
) -> DataFrame:
    """Sample every ``stride``-th frame from opaque video payloads.

    Output has MORE rows than the input (one per sampled frame) — the Arrow
    iterator yields exploded batches: (video_id, frame_idx, n_frames,
    frame_bytes as an SVI0-decodable payload). Unknown containers raise
    ``NotImplementedError`` (real demuxers are not in this container); the
    partition/iterator/explode plumbing is the part that must be right at
    scale and is fully exercised by the fake container.
    """
    if stride <= 0:
        raise ValueError("stride must be positive")
    src = df.repartitionByRange(_parts(df, partitions), id_col).select(
        F.col(id_col).alias("video_id"), F.col(video_col).alias("_v")
    )

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            vids, idxs, totals, frames = [], [], [], []
            for vid, buf in zip(pdf["video_id"], pdf["_v"]):
                if buf is None or len(buf) < 12:
                    continue
                b = bytes(buf)
                if b[:4] != VIDEO_MAGIC:
                    raise NotImplementedError(
                        "real video demuxing requires ffmpeg/av, which is not installed; "
                        "only the deterministic SVV0 container is supported here"
                    )
                n_frames = int.from_bytes(b[4:8], "big")
                frame_len = int.from_bytes(b[8:12], "big")
                for i in range(0, n_frames, stride):
                    off = 12 + i * frame_len
                    body = b[off : off + frame_len]
                    if len(body) < frame_len:
                        break
                    # wrap the frame as an SVI0 payload so every image-side
                    # operator (decode, stats, resize, features) composes
                    svi = b"SVI0" + (16).to_bytes(4, "big") + (16).to_bytes(4, "big") + body
                    vids.append(vid)
                    idxs.append(i)
                    totals.append(n_frames)
                    frames.append(svi)
            yield pd.DataFrame(
                {
                    "video_id": vids,
                    "frame_idx": np.array(idxs, dtype=np.int32),
                    "n_frames": np.array(totals, dtype=np.int32),
                    "frame_bytes": frames,
                }
            )

    return src.mapInPandas(
        op, "video_id string, frame_idx int, n_frames int, frame_bytes binary"
    )
