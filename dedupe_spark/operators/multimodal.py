"""Multimodal columns: image/audio/video as opaque ``binary`` payloads
with typed metadata, processed via Arrow-batched ``mapInPandas``.

The Spark-side plumbing — schemas, partitioning, UDF signatures, batch
shapes — is real and tested; the actual codec work (JPEG decode, PCM
resample, frame extraction) is stubbed because the image/audio
libraries are not in this container:

* ``decoder='stub'`` raises NotImplementedError (the production hook —
  swap in Pillow/torchaudio/pyav there, nothing else changes);
* ``decoder='fake'`` produces a deterministic fake decode derived from
  the payload bytes (blake2b-seeded), so downstream operators (feature
  extraction, resize bookkeeping, frame sampling, embedding hash) are
  fully exercisable in tests.

Scale notes: media payloads are large → keep them in their own table
keyed by content hash, partition by ``bucket(N, media_id)``, and never
shuffle raw bytes — derive compact features first (the functions here
emit features, not re-encoded payloads). ``mapInPandas`` streams
batches, so one task never holds more than
``spark.sql.execution.arrow.maxRecordsPerBatch`` payloads.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dedupe_spark.operators.pairs import banded_hamming_pairs

MEDIA_SCHEMA = (
    "media_id string, kind string, payload binary, mime string, "
    "width int, height int, duration_ms long"
)

IMAGE_FEATURES_SCHEMA = (
    "media_id string, width int, height int, n_bytes long, "
    "phash long, mean_luma double"
)

FRAME_SAMPLE_SCHEMA = "media_id string, frame_idx int, frame_phash long"


def _fake_pixels(payload: bytes, h: int = 8, w: int = 8) -> np.ndarray:
    """Deterministic fake decode: h×w luma grid seeded by payload bytes."""
    seed = int.from_bytes(hashlib.blake2b(payload, digest_size=8).digest(), "little")
    rng = np.random.RandomState(seed % (2**32))
    return rng.randint(0, 256, size=(h, w)).astype(np.float64)


def _phash_from_pixels(px: np.ndarray) -> int:
    """Perceptual hash: sign of (pixel - mean) over the 8×8 grid."""
    bits = (px > px.mean()).flatten()
    v = 0
    for i, b in enumerate(bits[:63]):  # 63 bits keeps it in a signed long
        if b:
            v |= 1 << i
    return v


def _real_pixels(payload: bytes, h: int = 8, w: int = 8) -> np.ndarray:
    """Real decode via Pillow (import-guarded: the library is not in
    this container, so the path is exercised only where it exists —
    tests importorskip it). Grayscale + resize to the same h×w luma
    grid the fake twin emits, so every downstream op (phash, banding,
    hamming refine) is identical across decoders."""
    try:
        from PIL import Image
    except ImportError as e:  # environment-blocked, loudly — never a
        raise NotImplementedError(  # silent fake fallback mislabeled as real
            "decoder='real' needs Pillow, which is not installed; "
            "use decoder='fake' for the deterministic twin"
        ) from e
    import io as _io

    img = Image.open(_io.BytesIO(payload)).convert("L").resize((w, h))
    return np.asarray(img, dtype=np.float64)


def _decode(payload: bytes, decoder: str) -> np.ndarray:
    if decoder == "stub":
        raise NotImplementedError(
            "real image decoding needs Pillow/libjpeg (not in this "
            "container); use decoder='fake' or decoder='real' where "
            "Pillow is installed"
        )
    if decoder == "real":
        return _real_pixels(payload)
    if decoder == "fake":
        return _fake_pixels(payload)
    raise ValueError(f"unknown decoder {decoder!r}")


def image_features(media: DataFrame, decoder: str = "fake") -> DataFrame:
    """media table → per-image features (phash, mean luma, size).

    One mapInPandas pass; payload bytes never leave the task."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                px = _decode(bytes(r.payload), decoder)
                rows.append(
                    {
                        "media_id": r.media_id,
                        "width": int(r.width),
                        "height": int(r.height),
                        "n_bytes": len(r.payload),
                        "phash": _phash_from_pixels(px),
                        "mean_luma": float(px.mean()),
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "width", "height", "n_bytes", "phash", "mean_luma"],
            )

    return (
        media.where(F.col("kind") == "image")
        .select("media_id", "payload", "width", "height")
        .mapInPandas(run, schema=IMAGE_FEATURES_SCHEMA)
    )


def sample_frames(media: DataFrame, every_ms: int = 1000, decoder: str = "fake") -> DataFrame:
    """video rows → one feature row per sampled frame (UDTF-shaped:
    output rows ≠ input rows, which is why this is mapInPandas and not
    a scalar UDF)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                n_frames = max(1, int(r.duration_ms) // every_ms)
                payload = bytes(r.payload)
                for i in range(n_frames):
                    px = _decode(payload + i.to_bytes(4, "little"), decoder)
                    rows.append(
                        {
                            "media_id": r.media_id,
                            "frame_idx": i,
                            "frame_phash": _phash_from_pixels(px),
                        }
                    )
            yield pd.DataFrame(rows, columns=["media_id", "frame_idx", "frame_phash"])

    return (
        media.where(F.col("kind") == "video")
        .select("media_id", "payload", "duration_ms")
        .mapInPandas(run, schema=FRAME_SAMPLE_SCHEMA)
    )


def near_duplicate_images(features: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Exact-phash blocking + in-block hamming refine: the ER blocking
    pattern applied to image dedupe. Blocks on phash bands (4×16-bit),
    so near-identical phashes collide; hamming check JVM-side via
    bit_count(xor)."""
    return banded_hamming_pairs(features, "media_id", "phash", max_hamming)


def synthetic_media(spark, n: int, seed: int = 7) -> DataFrame:
    """Deterministic fake media table (images + videos) for tests:
    payload bytes derived from (seed, idx); planted duplicate payloads
    every 10th row."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for idx in pdf["id"]:
                idx = int(idx)
                content_key = idx - (idx % 10 == 1)  # row 10k+1 dups 10k
                payload = hashlib.blake2b(
                    f"{seed}:{content_key}".encode(), digest_size=32
                ).digest() * 8
                kind = "video" if idx % 5 == 4 else "image"
                rows.append(
                    {
                        "media_id": f"m{idx:06d}",
                        "kind": kind,
                        "payload": payload,
                        "mime": "video/fake" if kind == "video" else "image/fake",
                        "width": 64 + (idx % 4) * 32,
                        "height": 64,
                        "duration_ms": 3500 if kind == "video" else 0,
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "kind", "payload", "mime", "width", "height", "duration_ms",
                ],
            )

    return spark.range(0, n, 1, 4).mapInPandas(gen, schema=MEDIA_SCHEMA)
