"""Pairwise similarity features (SURVEY.md §2.8 target additions).

Levenshtein stays JVM-side (built-in ``F.levenshtein`` — codegen'd).
Jaro-Winkler, token-Jaccard, and hashed-TF cosine run as Arrow-batched
pandas UDFs over (text1, text2) pairs — the pipeline's s5 and the
catalog queries both score this way. The reference's analog is the
in-block MD5 computation (Dedupe.java:104-113): the expensive feature
evaluated only on block-surviving candidates. Curation's Jaccard refine
instead hashes each document's shingles once
(:func:`shingle_hashes_udf`) and compares the sets in the JVM
(:func:`jaccard_from_shingles`).
"""

from __future__ import annotations

import zlib
from bisect import bisect_left

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dedupe_spark.functions.hashing import _shingle_hashes


def jaro_winkler(s1: str, s2: str, prefix_weight: float = 0.1) -> float:
    """Standard Jaro-Winkler similarity (Winkler '90).

    Matches DuckDB's ``jaro_winkler_similarity`` (verified in tests) so
    the oracle can cross-check feature values exactly.

    Match search uses a per-character position index of ``s2`` +
    bisect into the Jaro window instead of scanning the whole window
    per ``s1`` character — ~4× faster on 128-char prefixes, and
    BIT-IDENTICAL by construction: for each ``s1[i]`` it still selects
    the first unflagged ``j`` in ascending order within
    ``[i-window, i+window]``, the same char the window scan found
    (fuzz-asserted against the naive scan in tests).
    """
    l1, l2 = len(s1), len(s2)
    if l1 == 0 or l2 == 0:
        return 0.0  # DuckDB convention: empty vs anything (incl. empty) = 0
    if s1 == s2:
        return 1.0
    window = max(l1, l2) // 2 - 1
    if window < 0:
        window = 0
    pos: dict[str, list[int]] = {}
    for j in range(l2):
        c = s2[j]
        p = pos.get(c)
        if p is None:
            pos[c] = [j]
        else:
            p.append(j)
    flags2 = bytearray(l2)
    m1j: list[int] = []  # matched s2 positions, in s1-scan order
    for i in range(l1):
        lst = pos.get(s1[i])
        if lst is None:
            continue
        lo = i - window
        if lo < 0:
            lo = 0
        hi = i + window + 1
        k = bisect_left(lst, lo)
        n = len(lst)
        while k < n:
            j = lst[k]
            if j >= hi:
                break
            if not flags2[j]:
                flags2[j] = 1
                m1j.append(j)
                break
            k += 1
    m = len(m1j)
    if m == 0:
        return 0.0
    # transpositions — RapidFuzz/DuckDB convention: matched s2 chars in
    # s1-match order vs in s2 order; t = floor(differing positions / 2)
    sj = sorted(m1j)
    t = 0
    for a, b in zip(m1j, sj):
        if s2[a] != s2[b]:
            t += 1
    t //= 2
    jaro = (m / l1 + m / l2 + (m - t) / m) / 3
    if jaro <= 0.7:  # Winkler boost threshold (DuckDB-compatible)
        return jaro
    prefix = 0
    for a, b in zip(s1[:4], s2[:4]):
        if a != b:
            break
        prefix += 1
    return jaro + prefix * prefix_weight * (1 - jaro)


@F.pandas_udf(T.DoubleType())
def jaro_winkler_udf(s1: pd.Series, s2: pd.Series) -> pd.Series:
    return pd.Series(
        [jaro_winkler(a or "", b or "") for a, b in zip(s1, s2)], dtype="float64"
    )


def token_jaccard(t1: str, t2: str, width: int = 3) -> float:
    """Jaccard over distinct word w-shingles."""

    def sh(t: str) -> set:
        toks = t.split()
        if len(toks) < width:
            return {" ".join(toks)} if toks else set()
        return {" ".join(toks[i : i + width]) for i in range(len(toks) - width + 1)}

    a, b = sh(t1), sh(t2)
    if not a and not b:
        return 1.0
    u = len(a | b)
    return len(a & b) / u if u else 0.0


@F.pandas_udf(T.DoubleType())
def token_jaccard_udf(s1: pd.Series, s2: pd.Series) -> pd.Series:
    return pd.Series(
        [token_jaccard(a or "", b or "") for a, b in zip(s1, s2)], dtype="float64"
    )


TF_DIM = 1 << 16


def _tf_vector(text: str, idf: np.ndarray | None = None) -> dict[int, float]:
    """Hashed log-scaled term-frequency vector (HashingTF-style), each
    bucket × ``idf[bucket]`` when an IDF table is given."""
    counts: dict[int, int] = {}
    for tok in text.split():
        h = zlib.crc32(tok.encode("utf-8")) % TF_DIM
        counts[h] = counts.get(h, 0) + 1
    if idf is None:
        return {k: 1.0 + np.log(v) for k, v in counts.items()}
    return {k: (1.0 + np.log(v)) * idf[k] for k, v in counts.items()}


def tfidf_cosine(t1: str, t2: str, idf: np.ndarray | None = None) -> float:
    """Cosine over hashed log-TF vectors. Pair-local (IDF-free) by
    default: the logistic weights absorb scale. ``idf`` (from
    :func:`compute_idf`) weights each bucket by corpus rarity — the
    pipeline's ``use_global_idf`` variant."""
    return _weighted_cosine(_tf_vector(t1, idf), _tf_vector(t2, idf))


@F.pandas_udf(T.DoubleType())
def tfidf_cosine_udf(s1: pd.Series, s2: pd.Series) -> pd.Series:
    return pd.Series(
        [tfidf_cosine(a or "", b or "") for a, b in zip(s1, s2)], dtype="float64"
    )


def tfidf_cosine_idf_udf(idf: np.ndarray, sc=None):
    """Pandas-UDF factory: :func:`tfidf_cosine_udf` with corpus IDF
    weights. Pass the SparkContext so the 512 KB IDF vector ships as a
    broadcast (once per executor) instead of riding every task."""
    bcast = sc.broadcast(idf) if sc is not None else None

    @F.pandas_udf(T.DoubleType())
    def udf(s1: pd.Series, s2: pd.Series) -> pd.Series:
        w = bcast.value if bcast is not None else idf
        return pd.Series(
            [tfidf_cosine(a or "", b or "", w) for a, b in zip(s1, s2)],
            dtype="float64",
        )

    return udf


def compute_idf(docs, text_col: str = "text") -> np.ndarray:
    """Corpus-level smoothed IDF over the hashed term space (SURVEY.md
    §2.8's ``HashingTF+IDF`` target, built directly on DataFrame ops so
    the hash matches :func:`_tf_vector` — ``crc32(token) % TF_DIM`` —
    and the oracle can recompute it by hand).

    Formula matches ``pyspark.ml.feature.IDF``'s smoothed variant:
    ``idf(t) = ln((m + 1) / (df(t) + 1))`` with m = corpus size; a
    bucket no document contains gets ``ln(m + 1)`` (df = 0).

    Scale: per-document DISTINCT bucket explode → groupBy(bucket) —
    cardinality is capped at ``TF_DIM`` (65,536) regardless of corpus
    size, so the aggregation is map-side-combinable with a bounded
    reduce, and the resulting table is a ~512 KB dense vector —
    broadcastable to every executor. One pass over the corpus, run once
    per pipeline (not per pair).
    """
    n_docs = docs.count()
    toks = F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != "")
    buckets = docs.select(
        F.explode(
            F.array_distinct(
                F.transform(
                    toks,
                    lambda t: F.pmod(F.crc32(F.encode(t, "utf-8")), F.lit(TF_DIM)),
                )
            )
        ).alias("bucket")
    )
    counts = buckets.groupBy("bucket").agg(F.count(F.lit(1)).alias("df")).collect()
    idf = np.full(TF_DIM, np.log(n_docs + 1.0), dtype="float64")
    for r in counts:
        idf[int(r["bucket"])] = np.log((n_docs + 1.0) / (r["df"] + 1.0))
    return idf


def _weighted_cosine(v1: dict[int, float], v2: dict[int, float]) -> float:
    if not v1 or not v2:
        return 1.0 if (not v1 and not v2) else 0.0
    dot = sum(w * v2[k] for k, w in v1.items() if k in v2)
    n1 = np.sqrt(sum(w * w for w in v1.values()))
    n2 = np.sqrt(sum(w * w for w in v2.values()))
    return float(dot / (n1 * n2)) if n1 and n2 else 0.0


def jaccard_from_shingles(sh1, sh2):
    """|A∩B| / |A∪B| over shingle-hash arrays (:func:`shingle_hashes_udf`)
    — pure JVM (array_intersect/array_union), same special cases as
    :func:`token_jaccard`: both empty → 1.0 (nothing else can make the
    union empty)."""
    inter = F.size(F.array_intersect(sh1, sh2))
    union = F.size(F.array_union(sh1, sh2))
    return F.when(
        (F.size(sh1) == 0) & (F.size(sh2) == 0), F.lit(1.0)
    ).otherwise(inter.cast("double") / union)


@F.pandas_udf(T.ArrayType(T.LongType()))
def shingle_hashes_udf(s: pd.Series) -> pd.Series:
    """text → distinct word-3-shingle hash set, the set
    :func:`token_jaccard` builds with each shingle as a 64-bit hash
    (``hashing._shingle_hashes``, the s3 sketches' hasher; a
    within-pair collision is ~1e-12). The per-DOC half of a Jaccard
    refine: pair with :func:`jaccard_from_shingles` on the pair side."""
    return pd.Series([_shingle_hashes(t or "").view(np.int64) for t in s])


def cosine_expr(v1, v2):
    """JVM-side cosine between two array<float/double> columns — built-in
    higher-order functions only (zip_with + aggregate), no Python hop.
    Used for embedding similarity search."""
    dot = F.aggregate(
        F.zip_with(v1, v2, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    n1 = F.sqrt(F.aggregate(v1, F.lit(0.0), lambda acc, x: acc + x * x))
    n2 = F.sqrt(F.aggregate(v2, F.lit(0.0), lambda acc, x: acc + x * x))
    return dot / (n1 * n2)
