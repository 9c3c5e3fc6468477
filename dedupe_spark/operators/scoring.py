"""Pairwise feature vectors + logistic comparator (north_star S5-S6).

Reference analog: "match = hash equality" (DedupeJar.java:54-58). For
near-duplicates equality generalizes to a thresholded score over a
feature vector: Jaro-Winkler, normalized Levenshtein, token-shingle
Jaccard, hashed-TF cosine, length ratio — scored by a fixed
logistic-regression affine comparator (published-style weights in
config; no training dependency, SURVEY.md §7.2.6).

Two implementations of the same feature vector, value-parity pinned by
the kernel-parity test in tests/test_similarity.py:

* :func:`doc_features` + :func:`pair_features_from_docs` — the
  pipeline's only s5 path (doc-major): tokenize each doc ONCE,
  per-pair Jaccard/TF-cosine as pure-JVM collection functions; only
  Jaro-Winkler's char alignment stays a pandas UDF. Its prep runs on
  every representative, paired or not, so on small candidate sets it
  costs more than the per-pair UDFs (4-core host, s5 from committed
  s4: 1.9 s vs 1.5 s at 3k pages, 7.1 s vs 5.6 s at 20k); it is the
  one path because the per-doc sketch+prep fusion builds on it.
* :func:`pair_features` — per-pair text UDFs (Arrow-batched), evaluated
  ONLY on block-surviving pairs — the cheap-key-before-expensive-
  feature structure of the reference (Dedupe.java:67-79 → 104-113).
  The catalog queries' form (no per-doc prep pass to amortize at
  testdata scale) and the parity reference for the doc-major kernels.

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
) -> DataFrame:
    """(id1,id2,text1,text2) → + feature columns.

    Both edit-distance features are O(L²) per pair, so their windows
    are the dominant cost knob at 10^9+ pairs: Levenshtein (JVM
    codegen) compares a 256-char prefix (measured: 512 chars cost ~3×
    the whole Python feature set combined), Jaro-Winkler (pure-Python
    inside the Arrow batch) a 128-char prefix. Beyond a short prefix
    neither adds signal over shingle-Jaccard/TF-cosine, which see the
    full text.
    """
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
        tfidf_cosine_udf(t1, t2).alias("tf_cosine"),
        len_ratio.alias("len_ratio"),
    )


def doc_features(
    docs: DataFrame,
    truncate_chars: int = 256,
    jw_chars: int = 128,
    idf=None,
    sc=None,
) -> DataFrame:
    """Once-per-document feature prep for :func:`pair_features_from_docs`.

    ``docs(doc_id, text)`` → (doc_id, jw_pre, lev_pre, tlen, sh,
    tf_map, tf_norm): the Jaro-Winkler/Levenshtein prefixes, full-text
    length, distinct shingle-hash set, and sparse hashed log-TF vector
    (× IDF when ``idf`` is given — the ``use_global_idf`` variant)
    with its precomputed norm.

    Scale rationale: :func:`pair_features` tokenizes each text once
    PER PAIR in Python; with blocking fan-out a doc rides ~10-30
    candidate pairs, so that work repeats per pair. Prepping per doc
    makes the per-pair Jaccard/TF-cosine math pure JVM collection
    functions (zero Python); only JW's char loop stays a pandas UDF,
    on 128-char prefixes. The prep output replaces the raw text in the
    pair-attach joins — comparable shuffle bytes (prefixes + hashes +
    sparse vector vs full text), far less per-pair compute.
    """
    from dedupe_spark.functions.similarity import doc_prep_udf

    return docs.select(
        "doc_id",
        F.substring("text", 1, jw_chars).alias("jw_pre"),
        F.substring("text", 1, truncate_chars).alias("lev_pre"),
        F.length("text").alias("tlen"),
        doc_prep_udf(idf, sc)(F.col("text")).alias("_p"),
    ).select(
        "doc_id",
        "jw_pre",
        "lev_pre",
        "tlen",
        F.col("_p.sh").alias("sh"),
        F.map_from_arrays(F.col("_p.idx"), F.col("_p.val")).alias("tf_map"),
        F.sqrt(
            F.aggregate(F.col("_p.val"), F.lit(0.0), lambda a, x: a + x * x)
        ).alias("tf_norm"),
    )


def pair_features_from_docs(pairs: DataFrame, doc_feats: DataFrame) -> DataFrame:
    """(id1,id2) ⋈ doc_features ×2 → the same feature columns as
    :func:`pair_features`, computed doc-major: Jaccard and TF-cosine
    are pure JVM over the prepped arrays/maps, Levenshtein/length stay
    JVM, and Jaro-Winkler (inherently pairwise char alignment) is the
    only pandas UDF — on the pre-attached 128-char prefixes.

    Value parity with :func:`pair_features` (asserted by the
    kernel-parity test in tests/test_similarity.py on corpus pairs):
    jw/lev_ratio/len_ratio bit-equal; jaccard3 equal barring a 64-bit
    shingle-hash collision; tf_cosine equal up to float summation
    order (~1e-15)."""
    from dedupe_spark.functions.similarity import (
        jaccard_from_shingles,
        tf_cosine_from_maps,
    )

    cols = ["jw_pre", "lev_pre", "tlen", "sh", "tf_map", "tf_norm"]
    f1 = doc_feats.select(
        F.col("doc_id").alias("id1"), *[F.col(c).alias(f"{c}1") for c in cols]
    )
    f2 = doc_feats.select(
        F.col("doc_id").alias("id2"), *[F.col(c).alias(f"{c}2") for c in cols]
    )
    joined = pairs.join(f1, "id1").join(f2, "id2")
    max_len = F.greatest(F.length("lev_pre1"), F.length("lev_pre2"))
    lev_ratio = F.when(
        max_len > 0, 1.0 - F.levenshtein("lev_pre1", "lev_pre2") / max_len
    ).otherwise(1.0)
    len_ratio = (
        F.when(
            F.greatest("tlen1", "tlen2") > 0,
            F.least("tlen1", "tlen2") / F.greatest("tlen1", "tlen2"),
        )
        .otherwise(1.0)
        .cast("double")
    )
    return joined.select(
        "id1",
        "id2",
        jaro_winkler_udf(F.col("jw_pre1"), F.col("jw_pre2")).alias("jaro_winkler"),
        lev_ratio.cast("double").alias("lev_ratio"),
        jaccard_from_shingles(F.col("sh1"), F.col("sh2")).alias("jaccard3"),
        tf_cosine_from_maps(
            F.col("tf_map1"), F.col("tf_norm1"), F.col("tf_map2"), F.col("tf_norm2")
        ).alias("tf_cosine"),
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
