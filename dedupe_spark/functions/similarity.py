"""Pairwise similarity features (SURVEY.md §2.8 target additions).

Levenshtein stays JVM-side (built-in ``F.levenshtein`` — codegen'd).
Jaro-Winkler, token-Jaccard, and hashed-TF cosine run as Arrow-batched
pandas UDFs over (text1, text2) pairs — the reference's analog is the
in-block MD5 computation (Dedupe.java:104-113): the expensive feature
evaluated only on block-surviving candidates.
"""

from __future__ import annotations

import zlib
from bisect import bisect_left

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T


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


def _tf_vector(text: str) -> dict[int, float]:
    """Hashed log-scaled term-frequency vector (HashingTF-style)."""
    counts: dict[int, int] = {}
    for tok in text.split():
        h = zlib.crc32(tok.encode("utf-8")) % TF_DIM
        counts[h] = counts.get(h, 0) + 1
    return {k: 1.0 + np.log(v) for k, v in counts.items()}


def tfidf_cosine(t1: str, t2: str) -> float:
    """Cosine over hashed log-TF vectors (pair-local; IDF-free by design:
    at 10^12 docs a global IDF table is a separate broadcast join — the
    comparator works on log-TF and the logistic weights absorb scale)."""
    return _weighted_cosine(_tf_vector(t1), _tf_vector(t2))


@F.pandas_udf(T.DoubleType())
def tfidf_cosine_udf(s1: pd.Series, s2: pd.Series) -> pd.Series:
    return pd.Series(
        [tfidf_cosine(a or "", b or "") for a, b in zip(s1, s2)], dtype="float64"
    )


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


# ---------------------------------------------------------------------------
# Doc-major feature kernels (the pipeline's s5 scoring path)
#
# The pair-local UDFs above re-tokenize each text once PER PAIR; with
# blocking fan-out a doc participates in ~10-30 candidate pairs, so the
# same split/hash work runs that many times, in Python. The kernels
# below move tokenization to a once-PER-DOC prep step and make the
# per-pair math pure JVM (collection functions on the prepped arrays/
# maps) — the only Python left per pair is Jaro-Winkler's char loop.
# operators/scoring.py composes them; the text-based UDFs stay as the
# catalog form and the oracle twins (tests assert value equality on
# corpus pairs).
# ---------------------------------------------------------------------------


def jaccard_from_shingles(sh1, sh2):
    """|A∩B| / |A∪B| over prepped shingle-hash arrays — pure JVM
    (array_intersect/array_union), same special cases as
    :func:`token_jaccard`: both empty → 1.0 (nothing else can make the
    union empty)."""
    inter = F.size(F.array_intersect(sh1, sh2))
    union = F.size(F.array_union(sh1, sh2))
    return F.when(
        (F.size(sh1) == 0) & (F.size(sh2) == 0), F.lit(1.0)
    ).otherwise(inter.cast("double") / union)


def doc_prep_udf(idf: np.ndarray | None = None, sc=None, width: int = 3):
    """Pandas-UDF factory: text → struct(sh array<bigint>, idx
    array<int>, val array<double>) — ONE tokenization pass per
    document emitting

    * ``sh`` — the distinct word-``width``-shingle set of
      :func:`token_jaccard`, each shingle replaced by the first 8
      bytes of its md5 (64-bit, so a within-pair collision is ~1e-12;
      only set relations matter — both docs of a pair are hashed by
      this same function);
    * ``idx``/``val`` — the sparse hashed log-TF vector of
      :func:`_tf_vector` (× ``idf[bucket]`` when given, the
      ``use_global_idf`` variant).

    ``sc`` ships the 512 KB IDF vector as a proper broadcast. Per-doc
    Python here is the whole point: it replaces the same work done
    once per PAIR by the text UDFs."""
    bcast = sc.broadcast(idf) if (idf is not None and sc is not None) else None
    ret = T.StructType(
        [
            T.StructField("sh", T.ArrayType(T.LongType())),
            T.StructField("idx", T.ArrayType(T.IntegerType())),
            T.StructField("val", T.ArrayType(T.DoubleType())),
        ]
    )

    @F.pandas_udf(ret)
    def udf(s: pd.Series) -> pd.DataFrame:
        w = bcast.value if bcast is not None else idf
        shs: list[list[int]] = []
        idxs: list[list[int]] = []
        vals: list[list[float]] = []
        for t in s:
            toks = (t or "").split()
            shs.append(_shingle_hash_list(toks, width))
            # hashed log-TF (same buckets/values as _tf_vector)
            counts: dict[int, int] = {}
            for tok in toks:
                h = zlib.crc32(tok.encode("utf-8")) % TF_DIM
                counts[h] = counts.get(h, 0) + 1
            ks = sorted(counts)
            if w is None:
                vs = [1.0 + float(np.log(counts[k])) for k in ks]
            else:
                vs = [(1.0 + float(np.log(counts[k]))) * w[k] for k in ks]
            idxs.append(ks)
            vals.append(vs)
        return pd.DataFrame({"sh": shs, "idx": idxs, "val": vals})

    return udf


def _shingle_hash_list(toks: list[str], width: int = 3) -> list[int]:
    """Distinct word-``width``-shingles of a token list (the set
    :func:`token_jaccard` builds), each as the first 8 bytes of its
    md5 — 64-bit, so a within-pair collision is ~1e-12; only set
    relations matter, and both sides of any pair are hashed by this
    same function."""
    import hashlib

    if not toks:
        sh: set[str] = set()
    elif len(toks) < width:
        sh = {" ".join(toks)}
    else:
        sh = {" ".join(toks[i : i + width]) for i in range(len(toks) - width + 1)}
    md5 = hashlib.md5
    return [
        int.from_bytes(md5(x.encode("utf-8")).digest()[:8], "little", signed=True)
        for x in sh
    ]


@F.pandas_udf(T.ArrayType(T.LongType()))
def shingle_hashes_udf(s: pd.Series) -> pd.Series:
    """text → shingle-hash set (:func:`_shingle_hash_list`) — the
    per-DOC half of a doc-major Jaccard refine: pair with
    :func:`jaccard_from_shingles` on the pair side."""
    return pd.Series([_shingle_hash_list((t or "").split()) for t in s])


def tf_cosine_from_maps(m1, n1, m2, n2):
    """Cosine over prepped map<int,double> TF vectors with precomputed
    norms — pure JVM (map_zip_with merge + aggregate dot). Matches
    :func:`_weighted_cosine`: both empty → 1.0, one empty → 0.0
    (values differ from the Python twin only in float summation order,
    ~1e-15 relative)."""
    prod = F.map_zip_with(m1, m2, lambda _k, a, b: a * b)  # null if unpaired
    dot = F.aggregate(
        F.map_values(prod),
        F.lit(0.0),
        lambda acc, x: acc + F.coalesce(x, F.lit(0.0)),
    )
    e1, e2 = F.size(m1) == 0, F.size(m2) == 0
    # n==0 with a non-empty map is reachable under use_global_idf=True when
    # every token of a doc is corpus-ubiquitous (df == n_docs → idf 0 for all
    # buckets).  Without the guard, ANSI mode aborts the job (DIVIDE_BY_ZERO)
    # and non-ANSI yields NULL — the Python twin returns 0.0.
    return (
        F.when(e1 & e2, F.lit(1.0))
        .when(e1 | e2, F.lit(0.0))
        .when((n1 * n2) == 0, F.lit(0.0))
        .otherwise(dot / (n1 * n2))
    )


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
