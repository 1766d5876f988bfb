"""Multimodal columns (engine extension: LLM-training-pipeline surface).

Images/audio/video are opaque ``binary`` payload columns plus typed
metadata (schemas.MEDIA).  The Spark-side plumbing — schema, batch
iteration, partitioning, output shapes — is real and tested.  Image
decode uses PIL when importable (gated behind an import-try; absent in
this container) and falls back per-payload to a deterministic fake
(clearly marked) with the same shapes/dtypes for anything PIL can't
parse — which includes the whole synthetic corpus, so oracle results
don't depend on the image stack.  Audio resample / video frame
extraction remain stubbed the same way; swapping in libav is a
one-function change with no plan-shape change.

Design notes for 100 TB:
- payloads never pass through Python row-at-a-time: every stage is
  ``mapInPandas`` over Arrow batches (zero-copy binary transfer);
- metadata-only operations (filtering by mime/size/dimensions) are pure
  Column expressions on the metadata fields — the binary column is
  pruned from the scan when untouched (check ReadSchema in .explain);
- decoded features are fixed-width float arrays, so downstream
  similarity/dedup reuse the embedding operators unchanged;
- ``spark.sql.files.maxPartitionBytes`` governs task sizing for large
  payload files; very large objects should be stored as paths + a
  driver-side fetch inside the UDF batch (same mapInPandas signature).
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# --- optional real codecs (absent in this container) -------------------------

try:  # pragma: no cover - not installed here
    from PIL import Image  # noqa: F401

    HAS_PIL = True
except ImportError:
    HAS_PIL = False


def _int_or(v, default: int) -> int:
    """NaN/None-safe int: Arrow hands nullable ints to pandas as float64
    NaN, which is TRUTHY — `v or default` keeps the NaN and int(NaN)
    raises.  `v != v` is the NaN test."""
    if v is None or v != v:
        return default
    return int(v)


def _fake_pixels(payload: bytes, width: int, height: int) -> np.ndarray:
    """Deterministic stand-in for a JPEG/PNG decode: gray image tiling the
    payload's sha256 digest — pixel (y, x) holds digest byte
    ``(y*width + x) % 32`` on all three channels.  Equal payloads decode
    equally, different payloads differ, and (unlike an RNG fill) the value
    is closed-form, so downstream features are expressible in the DuckDB
    oracle.  Shape/dtype match a real ``np.asarray(Image.open(...))``:
    (h, w, 3) u8."""
    tile = np.frombuffer(hashlib.sha256(payload).digest(), dtype=np.uint8)
    idx = (np.arange(height)[:, None] * width + np.arange(width)[None, :]) % 32
    gray = tile[idx]
    return np.repeat(gray[:, :, None], 3, axis=2)


def _pil_pixels(payload: bytes) -> np.ndarray:
    """Real decode: PIL open → RGB → (h, w, 3) u8 ndarray.  Raises on
    payloads that aren't a decodable image (caller falls back to the
    deterministic stub)."""
    import io

    from PIL import Image

    img = Image.open(io.BytesIO(payload))
    return np.asarray(img.convert("RGB"), dtype=np.uint8)


def decode_image_batch(payloads: pd.Series, widths: pd.Series, heights: pd.Series):
    """Decode a batch of image payloads → list of (h, w, 3) uint8 arrays.

    Real path (PIL present): Image.open → RGB ndarray.  Any payload PIL
    can't parse — including every row of the synthetic corpus, whose
    payloads are UTF-8 text bytes — falls back to the deterministic fake
    with the same shape/dtype, so oracle results are identical with and
    without the image stack installed.
    """
    out = []
    for payload, w, h in zip(payloads, widths, heights):
        if payload is None:
            out.append(None)
            continue
        if HAS_PIL:
            try:
                out.append(_pil_pixels(bytes(payload)))
                continue
            except Exception:
                pass  # not a decodable image: deterministic stub below
        out.append(_fake_pixels(bytes(payload), _int_or(w, 8), _int_or(h, 8)))
    return out


# --- metadata-only operators (pure Column expressions) ------------------------

def media_stats(media: DataFrame) -> DataFrame:
    """Byte size + digest + metadata projection — never touches Python.

    The binary column feeds only JVM-side length/hash expressions, so the
    whole operator is one codegen'd map stage.
    """
    return media.select(
        "media_id",
        "kind",
        "mime",
        F.octet_length("payload").alias("n_bytes"),
        F.sha2("payload", 256).alias("digest"),
        "width",
        "height",
        F.coalesce("duration_ms", F.lit(0)).alias("duration_ms"),
    )


def filter_media(media: DataFrame, kinds=("image",)) -> DataFrame:
    """Metadata gate before any decode: kind/mime allowlist + size band."""
    return media.filter(
        F.col("kind").isin(*kinds)
        & F.octet_length("payload").between(1, 64 * 1024 * 1024)
    )


# --- decode / feature stages (mapInPandas over Arrow batches) -----------------

#: feature is double, not float: grid means of integer pixel values are
#: exact in float64 (sums stay < 2^53), which makes the %.4f-formatted
#: oracle comparison exact; float32 storage would quantize ~1e-5 and
#: randomly flip the 4th decimal.
FEATURES_SCHEMA = "media_id long, kind string, feature array<double>, feat_dim int"


def image_features(media: DataFrame, dim: int = 64) -> DataFrame:
    """Decode + feature-extract: payload → fixed-width float vector.

    Feature = per-cell mean luminance on an 8×8 grid of the decoded image
    (a real model swaps into the same batch loop).  Output vectors feed
    the similarity/dedup operators directly.
    """
    side = int(dim ** 0.5)

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pixels = decode_image_batch(pdf["payload"], pdf["width"], pdf["height"])
            feats = []
            for px in pixels:
                if px is None:
                    feats.append(None)
                    continue
                lum = px.astype(np.float64).mean(axis=2)
                h, w = lum.shape
                # average-pool onto a side×side grid
                ys = np.linspace(0, h, side + 1).astype(int)
                xs = np.linspace(0, w, side + 1).astype(int)
                grid = [
                    float(lum[ys[i]:max(ys[i + 1], ys[i] + 1),
                              xs[j]:max(xs[j + 1], xs[j] + 1)].mean())
                    for i in range(side) for j in range(side)
                ]
                feats.append(grid)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "feature": feats,
                    # report the ACTUAL emitted width (side*side), not the
                    # request — a non-square dim would otherwise lie to
                    # every consumer that trusts feat_dim
                    "feat_dim": [len(f) if f is not None else 0 for f in feats],
                }
            )

    return media.select("media_id", "kind", "payload", "width", "height").mapInPandas(
        extract, FEATURES_SCHEMA
    )


RESIZE_SCHEMA = "media_id long, payload binary, width int, height int"


def resize_images(media: DataFrame, target_w: int, target_h: int) -> DataFrame:
    """Resize stage: decode → scale → re-encode.  Stub re-encode packs the
    scaled dimensions + payload digest (deterministic, testable); a real
    implementation swaps in PIL resize + JPEG encode in the same loop."""

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_payload = []
            for payload in pdf["payload"]:
                if payload is None:
                    out_payload.append(None)
                    continue
                digest = hashlib.sha256(bytes(payload)).digest()
                out_payload.append(
                    struct.pack("<II", target_w, target_h) + digest
                )
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": out_payload,
                    "width": target_w,
                    "height": target_h,
                }
            )

    return media.select("media_id", "payload").mapInPandas(resize, RESIZE_SCHEMA)


FRAMES_SCHEMA = "media_id long, frame_index int, ts_ms long, frame binary"


def sample_video_frames(media: DataFrame, every_ms: int = 1000,
                        max_frames: int = 16) -> DataFrame:
    """Frame-sampling UDTF shape: one video row → N frame rows.

    Stub frames are payload-digest + index markers; a real decoder yields
    JPEG bytes per frame in the same exploded shape.  This is the fan-out
    pattern (1→N rows inside mapInPandas) that a frame-level training
    pipeline needs."""

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, tss, frames = [], [], [], []
            for mid, payload, dur in zip(
                pdf["media_id"], pdf["payload"], pdf["duration_ms"]
            ):
                if payload is None:
                    continue
                n = min(max_frames, max(1, _int_or(dur, 0) // every_ms + 1))
                digest = hashlib.sha256(bytes(payload)).digest()
                for i in range(n):
                    ids.append(mid)
                    idxs.append(i)
                    tss.append(i * every_ms)
                    frames.append(digest + struct.pack("<I", i))
            yield pd.DataFrame(
                {"media_id": ids, "frame_index": idxs, "ts_ms": tss, "frame": frames}
            )

    return media.select("media_id", "payload", "duration_ms").mapInPandas(
        sample, FRAMES_SCHEMA
    )


# --- synthetic media builder (testdata has no media table) --------------------

def media_from_documents(docs: DataFrame) -> DataFrame:
    """Build a deterministic media table from the documents table: payload
    = utf-8 bytes of the text, metadata derived from doc fields.  Gives the
    multimodal operators a stable corpus at every SF without new files."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.when(F.col("doc_id") % 3 == 0, "video")
        .when(F.col("doc_id") % 3 == 1, "image")
        .otherwise("audio")
        .alias("kind"),
        F.encode("text", "UTF-8").alias("payload"),
        F.when(F.col("doc_id") % 3 == 1, "image/jpeg").otherwise("application/octet-stream").alias("mime"),
        (F.col("doc_id") % 64 + 8).cast("int").alias("width"),
        (F.col("doc_id") % 48 + 8).cast("int").alias("height"),
        (F.col("doc_id") % 10000).cast("long").alias("duration_ms"),
        F.create_map(F.lit("source"), F.col("source")).alias("meta"),
    )
