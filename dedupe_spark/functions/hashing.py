"""Content sketches: MinHash signatures and SimHash fingerprints.

Both are Arrow-batched pandas UDFs (the input-hint slow path) with all
math vectorized in numpy. Shingle hashing uses zlib.crc32 — stable
across Python versions and processes (unlike builtin ``hash``, which is
salted per process and would break determinism across executors).

MinHash: k permutations approximated by universal hashing
h_j(x) = (a_j * x + b_j) mod p over 32-bit shingle hashes
(Broder '97 resemblance sketches; banding per Leskovec-Rajaraman-Ullman
MMDS ch.3). LSH: split the k-vector into b bands of r rows; a band's
bytes become one block key — two docs collide iff some band matches.

SimHash (Charikar '02): sign of the weighted sum of per-token hash
bit-vectors; near-duplicates differ in few bits. Band keys for blocking
split the 64-bit fingerprint into 4×16-bit bands (docs within Hamming
distance 3 share ≥1 band by pigeonhole).
"""

from __future__ import annotations

import zlib

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

MINHASH_K = 128
_MERSENNE_P = (1 << 61) - 1

# Fixed seeded coefficients: deterministic across processes/executors.
_rng = np.random.RandomState(0x5EED)
_A = _rng.randint(1, _MERSENNE_P, size=MINHASH_K, dtype=np.int64).astype(np.uint64)
_B = _rng.randint(0, _MERSENNE_P, size=MINHASH_K, dtype=np.int64).astype(np.uint64)


_MIX1 = np.uint64(0x9E3779B97F4A7C15)
_MIX2 = np.uint64(0xC2B2AE3D27D4EB4F)
_MIX3 = np.uint64(0x165667B19E3779F9)


def _shingle_hashes(text: str, width: int = 3) -> np.ndarray:
    """64-bit hashes of word w-shingles (distinct), as uint64.

    One crc32 per TOKEN (not per shingle), then a vectorized
    position-sensitive combine of ``width`` consecutive token hashes —
    identical shingle ⇔ identical hash, but no per-shingle Python
    string construction (the hot loop at corpus scale)."""
    toks = text.split()
    if not toks:
        return np.empty(0, dtype=np.uint64)
    th = np.fromiter(
        (zlib.crc32(t.encode("utf-8")) for t in toks), dtype=np.uint64, count=len(toks)
    )
    with np.errstate(over="ignore"):  # uint64 wraparound is the hash design
        if len(toks) <= width:
            combined = np.zeros(1, dtype=np.uint64)
            for i, h in enumerate(th):
                combined = combined * _MIX1 + h * (_MIX2 + np.uint64(2 * i + 1))
        else:
            n = len(toks) - width + 1
            combined = np.zeros(n, dtype=np.uint64)
            for w in range(width):
                combined = combined * _MIX1 + th[w : w + n] * (_MIX2 + np.uint64(2 * w + 1))
        z = (combined ^ (combined >> np.uint64(30))) * _MIX3
        return np.unique(z ^ (z >> np.uint64(31)))


def minhash_signature(text: str, width: int = 3) -> np.ndarray:
    """k-vector of minima of universal hashes over the shingle set."""
    return _minhash_from_hashes(_shingle_hashes(text, width))


@F.pandas_udf(T.ArrayType(T.LongType()))
def minhash_udf(text: pd.Series) -> pd.Series:
    return text.map(lambda t: minhash_signature(t or "").tolist())


def lsh_band_keys(sig_col, n_bands: int = 32, rows_per_band: int = 4):
    """Column expr: minhash signature array → array of band-key strings.

    Key = "mh<band_index>:xxhash of the band's slice" — computed
    JVM-side (slice + hash of the stringified band), no second Python
    hop. One ``transform`` lambda, not ``n_bands`` unrolled
    expressions, so the driver builds the same small plan whatever the
    band count. The lambda walks ``n_bands`` references to the
    signature rather than naming ``sig_col`` itself: Spark rejects a
    Python UDF inside a lambda, and ``sig_col`` may be one.
    """

    def band_key(sig, b):
        lo = b * rows_per_band + 1  # F.slice is 1-indexed
        band = F.slice(sig, lo, F.lit(rows_per_band))
        return F.concat_ws(
            ":", F.concat(F.lit("mh"), b.cast("string")), F.xxhash64(band.cast("string"))
        )

    return F.transform(F.array_repeat(sig_col, n_bands), band_key)


def _splitmix64(h: np.ndarray) -> np.ndarray:
    """Deterministic 32→64-bit mix (splitmix64 finalizer), vectorized."""
    z = h + np.uint64(0x9E3779B97F4A7C15)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def _minhash_from_hashes(x: np.ndarray) -> np.ndarray:
    """MinHash signature of the (distinct) shingle hash set: per
    coefficient pair, the minimum of ``(a*x + b) mod p`` (all zeros for
    an empty set)."""
    if x.size == 0:
        return np.zeros(MINHASH_K, dtype=np.int64)
    # (k, n) = a[:,None]*x[None,:] + b ; use uint64 wrap-around then mod p.
    v = (_A[:, None] * x[None, :] + _B[:, None]) % np.uint64(_MERSENNE_P)
    return v.min(axis=1).astype(np.int64)


def simhash_from_hashes(h32: np.ndarray) -> int:
    """64-bit SimHash from the (distinct) shingle hash set, uniform
    weights (Charikar '02). Bits come from a splitmix64 expansion of the
    same crc32 shingle hashes the minhash uses — one shingle pass feeds
    both sketches."""
    if h32.size == 0:
        return 0
    hs = _splitmix64(h32)
    bits = ((hs[:, None] >> np.arange(64, dtype=np.uint64)[None, :]) & np.uint64(1)).astype(
        np.int64
    )
    acc = (2 * bits - 1).sum(axis=0)
    fp = np.uint64(0)
    for i in np.nonzero(acc > 0)[0]:
        fp |= np.uint64(1) << np.uint64(i)
    return int(fp.astype(np.int64))


def simhash64(text: str, width: int = 3) -> int:
    """64-bit SimHash over word w-shingle features (uniform weights).

    Shingles, not unigrams: unigram distributions are near-identical
    across same-language web pages (stopwords/boilerplate dominate), so
    unigram simhashes of unrelated pages land within small Hamming
    distance and banding degenerates. Shingles give a feature space
    where unrelated docs share almost nothing.
    """
    return simhash_from_hashes(_shingle_hashes(text or "", width))


@F.pandas_udf(T.LongType())
def simhash_udf(text: pd.Series) -> pd.Series:
    return text.map(simhash64)


def content_sketches(text: str) -> tuple[list[int], int]:
    """(minhash signature, simhash) from ONE shingle-hashing pass."""
    x = _shingle_hashes(text or "")
    return _minhash_from_hashes(x).tolist(), simhash_from_hashes(x)


@F.pandas_udf(T.StructType([
    T.StructField("sig", T.ArrayType(T.LongType())),
    T.StructField("sh", T.LongType()),
]))
def content_sketches_udf(text: pd.Series) -> pd.DataFrame:
    out = [content_sketches(t) for t in text]
    return pd.DataFrame({"sig": [o[0] for o in out], "sh": [o[1] for o in out]})


def simhash_band_keys(sim_col, n_bands: int = 4):
    """64-bit hash → ``n_bands`` band keys of ``64 // n_bands`` bits
    (Hamming < n_bands ⇒ ≥1 shared band)."""
    width = 64 // n_bands
    keys = []
    for b in range(n_bands):
        band = F.shiftrightunsigned(sim_col, b * width).bitwiseAND(F.lit((1 << width) - 1))
        keys.append(F.concat_ws(":", F.lit(f"sh{b}"), band.cast("string")))
    return F.array(*keys)
