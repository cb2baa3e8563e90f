"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Training-data pipelines carry image/audio/video next to text as opaque
``binary`` columns. PNG payloads are decoded FOR REAL (pure-stdlib zlib
codec, ``functions/png.py`` — IHDR/IDAT parse, CRC check, all five
scanline filters); payload formats that genuinely need external codec
libraries (JPEG, audio, video) fall back to a clearly-marked
deterministic stub, so the Spark-side plumbing — schemas, Arrow batch
shape, partition-preserving ``mapInPandas`` kernels — is exercised
identically either way.

Swap-in contract: extend ``decode_image``'s format dispatch with (e.g.)
PIL/libav calls; the batch iterator signature, output schema, and
partitioning are unchanged.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import skip_unchanged_zip_rereads
from .png import PNG_SIG, decode_png, luma

MEDIA_SCHEMA = (
    "media_id long, kind string, payload binary, width int, height int, "
    "duration_ms int"
)

FEATURE_DIM = 16


def attach_media_metadata(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Cheap, real (non-stub) metadata: payload size and content hash —
    Catalyst-native, runs on the binary column without decoding."""
    return df.select(
        "*",
        F.length(F.col(payload_col)).alias("payload_bytes"),
        F.md5(F.col(payload_col)).alias("payload_md5"),
    )


def _decode_stub(payload: bytes, kind: str) -> np.ndarray:
    """STUB: stands in for non-PNG image/audio decode (codec libs absent
    here; PNG is handled for real — see ``_features``).

    Deterministic fake: a FEATURE_DIM float vector derived from the sha256
    of the payload — stable across partitions/retries, so tests can assert
    exact values. A real deployment replaces only this function.
    """
    dig = hashlib.sha256(payload).digest()
    raw = np.frombuffer((dig * ((FEATURE_DIM * 4) // len(dig) + 1))[: FEATURE_DIM * 4],
                        dtype=np.uint32).astype(np.float64)
    return (raw / np.float64(2**32)).astype(np.float32)


def _features(payload: bytes, kind: str) -> np.ndarray:
    """PNG payloads get REAL features: the normalized FEATURE_DIM-bin luma
    histogram of the actually-decoded pixels. Everything else takes the
    sha256 stub (format dispatch by magic bytes, so the caller needs no
    format column)."""
    if payload[:8] == PNG_SIG:
        try:
            pix = luma(decode_png(payload))
        except Exception:
            # corrupt/truncated/unsupported-variant PNG: a crawl corpus
            # always contains some — degrade this row to the deterministic
            # stub instead of failing the task 4x and killing the job
            return _decode_stub(payload, kind)
        # bin width derived from FEATURE_DIM so the vector length is
        # always exactly FEATURE_DIM (256 must divide evenly)
        hist = np.bincount(pix.reshape(-1) // (256 // FEATURE_DIM),
                           minlength=FEATURE_DIM)
        return (hist / max(pix.size, 1)).astype(np.float32)
    return _decode_stub(payload, kind)


def extract_features(media: DataFrame, payload_col: str = "payload",
                     id_col: str = "media_id") -> DataFrame:
    """(media_id, features: array<float>) via Arrow-batched mapInPandas.

    The batch loop is vectorized per-batch (one Python call per Arrow batch,
    numpy inside); only the decode itself is per-payload — unavoidable for
    codec work and identical to the real-decoder shape.
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        skip_unchanged_zip_rereads()
        for b in batches:
            feats = [
                _features(bytes(p), k).tolist()
                for p, k in zip(b[payload_col], b.get("kind", [""] * len(b)))
            ]
            yield pd.DataFrame({"media_id": b[id_col], "features": feats})

    cols = [id_col, payload_col] + (["kind"] if "kind" in media.columns else [])
    return media.select(*cols).mapInPandas(
        kernel, schema="media_id long, features array<float>")


def frame_sample_plan(media: DataFrame, every_ms: int = 1000,
                      id_col: str = "media_id") -> DataFrame:
    """(media_id, frame_ts_ms) sampling plan for video rows — pure Catalyst
    (sequence + explode); the decode of each frame is the stub above."""
    return (
        media.where(F.col("kind") == "video")
        .select(
            F.col(id_col).alias("media_id"),
            F.explode(F.sequence(
                F.lit(0), F.greatest(F.col("duration_ms") - 1, F.lit(0)),
                F.lit(every_ms))).alias("frame_ts_ms"),
        )
    )


def _decode_image_stub(payload: bytes, width: int, height: int) -> np.ndarray:
    """STUB: stands in for a non-PNG image decode (codec libs absent here).

    Deterministic fake pixel grid: (height, width) uint8, row-major byte i
    = sha256(payload)[i mod 32] — stable across partitions/retries so the
    resize math downstream is exactly assertable. A real deployment
    replaces only this function (e.g. PIL.Image.open -> np.asarray).
    """
    dig = hashlib.sha256(payload).digest()
    n = width * height
    raw = (dig * (n // len(dig) + 1))[:n]
    return np.frombuffer(raw, dtype=np.uint8).reshape(height, width)


def decode_image(payload: bytes, width: int, height: int) -> np.ndarray:
    """Grayscale pixel grid for a payload. PNG payloads (magic-byte
    dispatch) are decoded for real via the stdlib-zlib codec and reduced
    to integer Rec.601 luma; the grid shape comes from the PNG's own IHDR,
    not the metadata columns. Non-PNG payloads keep the deterministic
    sha256 stub at the metadata-declared shape."""
    if payload[:8] == PNG_SIG:
        try:
            return luma(decode_png(payload))
        except Exception:
            # corrupt/truncated/unsupported-variant PNG — degrade to the
            # stub grid at the metadata-declared shape rather than abort
            # the whole resize job on one bad crawl payload
            pass
    return _decode_image_stub(payload, width, height)


def resize_images(media: DataFrame, width: int, height: int,
                  payload_col: str = "payload", id_col: str = "media_id",
                  width_col: str = "width",
                  height_col: str = "height") -> DataFrame:
    """(media_id, width, height, pixels) — decode + REAL resize.

    PNG payloads are decoded for real (stdlib-zlib codec, luma-reduced);
    other formats use the clearly-marked stub above (their codecs are not
    in-container). The resize itself is the genuine article either way:
    vectorized nearest-neighbor index mapping
    (``grid[floor(y*h0/H)][:, floor(x*w0/W)]`` via numpy fancy indexing),
    which is byte-for-byte what a production kernel does after a real
    decode. Arrow-batched mapInPandas; rows with kind != 'image' are
    filtered out before the kernel if a kind column is present. ``pixels``
    is the row-major resized grid as array<int>.
    """
    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        skip_unchanged_zip_rereads()
        ty = np.arange(height)
        tx = np.arange(width)
        for b in batches:
            out = []
            for p, w0, h0 in zip(b[payload_col], b[width_col],
                                 b[height_col]):
                grid = decode_image(bytes(p), int(w0), int(h0))
                h0, w0 = grid.shape  # PNGs dictate their own true shape
                rows = (ty * int(h0)) // height
                cols = (tx * int(w0)) // width
                out.append(grid[rows][:, cols].reshape(-1)
                           .astype(np.int64).tolist())
            yield pd.DataFrame({"media_id": b[id_col],
                                "width": np.int64(width),
                                "height": np.int64(height),
                                "pixels": out})

    src = media
    if "kind" in media.columns:
        src = media.where(F.col("kind") == "image")
    return src.select(id_col, payload_col, width_col, height_col).mapInPandas(
        kernel,
        schema="media_id long, width long, height long, pixels array<long>")
