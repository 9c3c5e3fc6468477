"""Pairwise feature vectors + logistic comparator (north_star S5-S6).

Reference analog: "match = hash equality" (DedupeJar.java:54-58). For
near-duplicates equality generalizes to a thresholded score over a
feature vector: Jaro-Winkler, normalized Levenshtein, token-shingle
Jaccard, hashed-TF cosine, length ratio — scored by a fixed
logistic-regression affine comparator (published-style weights in
config; no training dependency, SURVEY.md §7.2.6).

:func:`pair_features` is the one implementation, shared by the
pipeline's s5 and the catalog queries: per-pair text UDFs
(Arrow-batched), evaluated ONLY on block-surviving pairs — the
cheap-key-before-expensive-feature structure of the reference
(Dedupe.java:67-79 → 104-113). A doc-major variant (tokenize each
representative once, per-pair Jaccard/TF-cosine in the JVM) was slower
on 4 cores at 3k and 20k pages, where a representative sits in 0.6
and 1.4 candidate pairs on average: its per-document prep ran on every
representative, paired or not (ROADMAP item 2 has the numbers).

Per-pair cost is bounded on long documents: Levenshtein (O(len1*len2),
JVM codegen) compares a ``truncate_chars`` prefix (default 256) and
Jaro-Winkler a ``jw_chars`` prefix (default 128); Jaccard/TF-cosine/
length use full text.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dedupe_spark.functions.similarity import (
    jaro_winkler_udf,
    tfidf_cosine_idf_udf,
    tfidf_cosine_udf,
    token_jaccard_udf,
)

# Fixed comparator: score = sigmoid(w · f + b).  Weights chosen so that
# shingle-Jaccard and TF-cosine dominate (robust at document length)
# with JW/Levenshtein as support; threshold 0.5 ⇔ w·f + b > 0.
DEFAULT_WEIGHTS = {
    "jaro_winkler": 3.0,
    "lev_ratio": 3.0,
    "jaccard3": 8.0,
    "tf_cosine": 6.0,
    "len_ratio": 2.0,
}
DEFAULT_BIAS = -14.0
DEFAULT_THRESHOLD = 0.5


def pair_features(
    pairs_with_text: DataFrame,
    truncate_chars: int = 256,
    jw_chars: int = 128,
    idf=None,
    sc=None,
) -> DataFrame:
    """(id1,id2,text1,text2) → + feature columns.

    Both edit-distance features are O(L²) per pair, so their windows
    are the dominant cost knob at 10^9+ pairs: Levenshtein (JVM
    codegen) compares a 256-char prefix (measured: 512 chars cost ~3×
    the whole Python feature set combined), Jaro-Winkler (pure-Python
    inside the Arrow batch) a 128-char prefix. Beyond a short prefix
    neither adds signal over shingle-Jaccard/TF-cosine, which see the
    full text.

    ``idf`` (``similarity.compute_idf``) weights the TF-cosine by corpus
    rarity — the pipeline's ``use_global_idf``; ``sc`` ships it as a
    broadcast.
    """
    tf_cos = tfidf_cosine_udf if idf is None else tfidf_cosine_idf_udf(idf, sc)
    t1, t2 = F.col("text1"), F.col("text2")
    p1 = F.substring(t1, 1, truncate_chars)
    p2 = F.substring(t2, 1, truncate_chars)
    j1 = F.substring(t1, 1, jw_chars)
    j2 = F.substring(t2, 1, jw_chars)
    max_len = F.greatest(F.length(p1), F.length(p2))
    lev_ratio = F.when(max_len > 0, 1.0 - F.levenshtein(p1, p2) / max_len).otherwise(1.0)
    len_ratio = (
        F.when(
            F.greatest(F.length(t1), F.length(t2)) > 0,
            F.least(F.length(t1), F.length(t2))
            / F.greatest(F.length(t1), F.length(t2)),
        )
        .otherwise(1.0)
        .cast("double")
    )
    return pairs_with_text.select(
        "id1",
        "id2",
        jaro_winkler_udf(j1, j2).alias("jaro_winkler"),
        lev_ratio.cast("double").alias("lev_ratio"),
        token_jaccard_udf(t1, t2).alias("jaccard3"),
        tf_cos(t1, t2).alias("tf_cosine"),
        len_ratio.alias("len_ratio"),
    )


def logistic_expr(weights: dict[str, float] | None = None, bias: float | None = None) -> Column:
    w = weights or DEFAULT_WEIGHTS
    b = DEFAULT_BIAS if bias is None else bias
    z = F.lit(float(b))
    for name, wi in w.items():
        z = z + F.lit(float(wi)) * F.col(name)
    return 1.0 / (1.0 + F.exp(-z))


def score_pairs(
    features: DataFrame,
    weights: dict[str, float] | None = None,
    bias: float | None = None,
) -> DataFrame:
    """features → + score column (JVM-side affine + sigmoid, codegen)."""
    return features.withColumn("score", logistic_expr(weights, bias))


def matches(scored: DataFrame, threshold: float = DEFAULT_THRESHOLD) -> DataFrame:
    return scored.where(F.col("score") >= threshold).select("id1", "id2", "score")
