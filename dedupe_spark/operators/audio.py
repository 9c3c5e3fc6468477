"""Audio operators: decode → feature-extract → fingerprint → near-dup.

Completes the multimodal claim (image/video live in
``operators.multimodal``; same design): audio payloads are opaque
``binary`` columns, processed via Arrow-batched ``mapInPandas``; the
actual codec (MP3/FLAC → PCM) is stubbed because no audio library is
in this container:

* ``decoder='stub'`` raises NotImplementedError (production hook —
  plug torchaudio/soundfile/ffmpeg there, nothing else changes);
* ``decoder='fake'`` synthesizes a deterministic PCM signal from the
  payload bytes, so the full feature/fingerprint/near-dup chain is
  exercisable in tests with byte-identical outputs at any parallelism.

Features are classic lightweight audio descriptors (RMS energy,
zero-crossing rate, spectral-band energies via an FFT over the fake
PCM) plus a 63-bit fingerprint: sign of (band energy − median) over
a 9-segment × 7-band grid — a Haitsma-Kalker-style robust hash.
Near-dup matching reuses the generic banded-hamming join from
``operators.pairs`` (pigeonhole banding, JVM-side bit_count).

Scale: payload bytes never shuffle — one mapInPandas pass emits
compact features; the near-dup join runs on 8-byte fingerprints.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dedupe_spark.operators.pairs import banded_hamming_pairs

AUDIO_FEATURES_SCHEMA = (
    "media_id string, n_samples long, rms double, zero_cross_rate double, afp long"
)

_SEGMENTS = 9
_BANDS = 7  # 9 * 7 = 63 bits → fits a signed long


def _fake_pcm(payload: bytes, n_samples: int = 4608) -> np.ndarray:
    """Deterministic fake decode: n_samples float32 PCM in [-1, 1),
    seeded by the payload bytes (same payload → same signal anywhere)."""
    seed = int.from_bytes(hashlib.blake2b(payload, digest_size=8).digest(), "little")
    rng = np.random.RandomState(seed % (2**32))
    return (rng.rand(n_samples).astype(np.float64) * 2.0) - 1.0


def _real_pcm(payload: bytes) -> np.ndarray:
    """Real decode via soundfile (import-guarded — not in this
    container; tests importorskip it). Downmixes to mono float64 so
    the fingerprint pipeline is identical across decoders."""
    try:
        import soundfile as sf
    except ImportError as e:  # environment-blocked, loudly
        raise NotImplementedError(
            "decoder='real' needs soundfile, which is not installed; "
            "use decoder='fake' for the deterministic twin"
        ) from e
    import io as _io

    data, _sr = sf.read(_io.BytesIO(payload), dtype="float64")
    return data if data.ndim == 1 else data.mean(axis=1)


def _decode_pcm(payload: bytes, decoder: str) -> np.ndarray:
    if decoder == "stub":
        raise NotImplementedError(
            "real audio decoding needs torchaudio/soundfile/ffmpeg (not "
            "in this container); use decoder='fake' or decoder='real' "
            "where soundfile is installed"
        )
    if decoder == "real":
        return _real_pcm(payload)
    if decoder == "fake":
        return _fake_pcm(payload)
    raise ValueError(f"unknown decoder {decoder!r}")


def _fingerprint(pcm: np.ndarray) -> int:
    """63-bit robust hash: split the signal into 9 segments, FFT each,
    pool power into 7 log-spaced bands, set bit = band MEAN power (per
    bin — sums would be dominated by band width, making every clip hash
    identically) > the segment's median band mean."""
    segs = np.array_split(pcm, _SEGMENTS)
    bits = []
    for seg in segs:
        spec = np.abs(np.fft.rfft(seg)) ** 2
        edges = np.unique(
            np.geomspace(1, len(spec) - 1, _BANDS + 1).astype(int)
        )
        # geomspace can collapse edges on tiny segments; pad linearly
        while len(edges) < _BANDS + 1:
            edges = np.append(edges, edges[-1] + 1)
        band_power = np.array(
            [
                spec[edges[i] : max(edges[i] + 1, edges[i + 1])].mean()
                for i in range(_BANDS)
            ]
        )
        med = np.median(band_power)
        bits.extend(bool(p > med) for p in band_power)
    v = 0
    for i, b in enumerate(bits[:63]):
        if b:
            v |= 1 << i
    return v


def audio_features(media: DataFrame, decoder: str = "fake") -> DataFrame:
    """media table → per-clip features + fingerprint (one mapInPandas
    pass; payload bytes never leave the task)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                pcm = _decode_pcm(bytes(r.payload), decoder)
                zc = float(np.mean(np.abs(np.diff(np.sign(pcm))) > 0))
                rows.append(
                    {
                        "media_id": r.media_id,
                        "n_samples": len(pcm),
                        "rms": float(np.sqrt(np.mean(pcm**2))),
                        "zero_cross_rate": zc,
                        "afp": _fingerprint(pcm),
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "n_samples", "rms", "zero_cross_rate", "afp"],
            )

    return (
        media.where(F.col("kind") == "audio")
        .select("media_id", "payload")
        .mapInPandas(run, schema=AUDIO_FEATURES_SCHEMA)
    )


def near_duplicate_audio(features: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Banded-fingerprint near-dup pairs over audio fingerprints."""
    return banded_hamming_pairs(features, "media_id", "afp", max_hamming)


def synthetic_audio(spark, n: int, seed: int = 13) -> DataFrame:
    """Deterministic fake audio table for tests: payload bytes derived
    from (seed, idx); every 10th+1 row duplicates the previous row's
    payload (planted exact near-dups, hamming 0)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for idx in pdf["id"]:
                idx = int(idx)
                content_key = idx - (idx % 10 == 1)
                payload = (
                    hashlib.blake2b(
                        f"audio:{seed}:{content_key}".encode(), digest_size=32
                    ).digest()
                    * 8
                )
                rows.append(
                    {
                        "media_id": f"a{idx:06d}",
                        "kind": "audio",
                        "payload": payload,
                        "mime": "audio/fake",
                        "width": 0,
                        "height": 0,
                        "duration_ms": 2000 + (idx % 7) * 500,
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "kind", "payload", "mime", "width", "height", "duration_ms",
                ],
            )

    from dedupe_spark.operators.multimodal import MEDIA_SCHEMA

    return spark.range(0, n, 1, 4).mapInPandas(gen, schema=MEDIA_SCHEMA)
