"""Similarity feature oracles: Jaro-Winkler vs DuckDB, Jaccard by
hand, JVM-side cosine vs numpy (SURVEY.md §5.2.2)."""

from __future__ import annotations

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from dedupe_spark.functions.similarity import (
    cosine_expr,
    jaro_winkler,
    token_jaccard,
    tfidf_cosine,
)

JW_CASES = [
    ("martha", "marhta"),
    ("dixon", "dicksonx"),
    ("jellyfish", "smellyfish"),
    ("", ""),
    ("abc", ""),
    ("exact", "exact"),
    ("a", "b"),
    ("the quick brown fox", "the quick brown dog"),
]


@pytest.mark.parametrize("s1,s2", JW_CASES)
def test_jaro_winkler_matches_duckdb(s1, s2):
    want = duckdb.sql(
        "select jaro_winkler_similarity(?, ?)", params=[s1, s2]
    ).fetchone()[0]
    assert jaro_winkler(s1, s2) == pytest.approx(want, abs=1e-9)


def test_token_jaccard_hand_cases():
    assert token_jaccard("a b c d", "a b c d") == 1.0
    assert token_jaccard("", "") == 1.0
    assert token_jaccard("a b c", "x y z") == 0.0
    # shingles of width 3: {a b c, b c d} vs {a b c, b c x} → 1/3
    assert token_jaccard("a b c d", "a b c x") == pytest.approx(1 / 3)


def test_tfidf_cosine_bounds():
    assert tfidf_cosine("same text here okay", "same text here okay") == pytest.approx(1.0)
    assert tfidf_cosine("aaa bbb ccc", "xxx yyy zzz") == pytest.approx(0.0)
    assert tfidf_cosine("", "") == 1.0
    assert tfidf_cosine("a", "") == 0.0


def test_cosine_expr_matches_numpy(spark):
    rng = np.random.default_rng(0)
    rows = []
    for _ in range(5):
        v1 = rng.normal(size=8).tolist()
        v2 = rng.normal(size=8).tolist()
        rows.append((v1, v2))
    df = spark.createDataFrame(rows, "v1 array<double>, v2 array<double>")
    got = [r["c"] for r in df.select(cosine_expr(F.col("v1"), F.col("v2")).alias("c")).collect()]
    for (v1, v2), g in zip(rows, got):
        a, b = np.array(v1), np.array(v2)
        want = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        assert g == pytest.approx(want, rel=1e-9)


# ---------------------------------------------------------------------------
# Global-IDF TF-IDF (SURVEY §2.8 HashingTF+IDF target; VERDICT r2 #6)
# ---------------------------------------------------------------------------

def _hand_idf(texts):
    """Independent IDF oracle: zlib-crc32 hashing + ml.feature.IDF's
    smoothed formula, computed with plain dicts."""
    import zlib

    import numpy as np

    from dedupe_spark.functions.similarity import TF_DIM

    m = len(texts)
    df: dict[int, int] = {}
    for t in texts:
        for b in {zlib.crc32(tok.encode()) % TF_DIM for tok in t.split()}:
            df[b] = df.get(b, 0) + 1
    idf = np.full(TF_DIM, np.log(m + 1.0))
    for b, d in df.items():
        idf[b] = np.log((m + 1.0) / (d + 1.0))
    return idf


def test_compute_idf_matches_hand_oracle(spark):
    import numpy as np

    from dedupe_spark.functions.similarity import compute_idf

    texts = [
        "the cat sat on the mat",
        "the dog sat on the log",
        "a completely different document entirely",
        "the cat and the dog",
    ]
    docs = spark.createDataFrame([(t,) for t in texts], "text string")
    got = compute_idf(docs)
    want = _hand_idf(texts)
    assert np.allclose(got, want), np.abs(got - want).max()


def test_global_tfidf_cosine_matches_hand_oracle(spark):
    import zlib

    import numpy as np

    from dedupe_spark.functions.similarity import TF_DIM, compute_idf
    from dedupe_spark.operators import scoring

    texts = [
        "the cat sat on the mat",
        "the cat sat on the hat",
        "unrelated text about spark shuffles",
    ]
    docs = spark.createDataFrame([(t,) for t in texts], "text string")
    idf = compute_idf(docs)

    def hand_vec(t):
        counts: dict[int, int] = {}
        for tok in t.split():
            b = zlib.crc32(tok.encode()) % TF_DIM
            counts[b] = counts.get(b, 0) + 1
        return {b: (1.0 + np.log(c)) * idf[b] for b, c in counts.items()}

    def hand_cos(t1, t2):
        v1, v2 = hand_vec(t1), hand_vec(t2)
        dot = sum(w * v2[k] for k, w in v1.items() if k in v2)
        n1 = np.sqrt(sum(w * w for w in v1.values()))
        n2 = np.sqrt(sum(w * w for w in v2.values()))
        return dot / (n1 * n2)

    # the pipeline's use_global_idf path: pair_features(…, idf=…)
    from dedupe_spark.operators.pairs import attach_texts

    ids = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    pairs = spark.createDataFrame([(0, 1), (0, 2), (0, 0)], "id1 long, id2 long")
    feats = scoring.pair_features(
        attach_texts(pairs, ids), idf=idf, sc=spark.sparkContext
    )
    by_id2 = {r["id2"]: r["tf_cosine"] for r in feats.collect()}
    got = [by_id2[1], by_id2[2], by_id2[0]]
    want = [hand_cos(texts[0], texts[1]), hand_cos(texts[0], texts[2]), 1.0]
    assert np.allclose(got, want, atol=1e-12), (got, want)
    # IDF must actually matter: shared-stopword pair scores lower under
    # global weighting than under the pair-local log-TF cosine
    from dedupe_spark.functions.similarity import tfidf_cosine

    assert got[0] < tfidf_cosine(texts[0], texts[1])


def test_pipeline_global_idf_flag(spark, corpus, tmp_path):
    """use_global_idf=True runs end-to-end and reproduces the planted
    clusters (the comparator stays robust under corpus weighting)."""
    from dedupe_spark.pipeline import PipelineConfig, run_pipeline

    sub = corpus.limit(200).cache()
    out_g = run_pipeline(
        spark, sub, str(tmp_path / "wd_idf"), config=PipelineConfig(use_global_idf=True)
    )
    out_d = run_pipeline(spark, sub, str(tmp_path / "wd_def"))
    a = {(r["doc_id"], r["cluster_id"]) for r in out_g["s7_clusters"].collect()}
    b = {(r["doc_id"], r["cluster_id"]) for r in out_d["s7_clusters"].collect()}
    assert a == b
    # the feature itself must differ from the pair-local one somewhere
    ga = {(r["id1"], r["id2"]): r["tf_cosine"] for r in out_g["s5_scored"].collect()}
    gb = {(r["id1"], r["id2"]): r["tf_cosine"] for r in out_d["s5_scored"].collect()}
    assert ga.keys() == gb.keys() and any(abs(ga[k] - gb[k]) > 1e-9 for k in ga)


def test_jaro_winkler_indexed_scan_equals_naive_window_scan():
    """The bisect-indexed match search must be BIT-identical to the
    naive window scan it replaced (same first-unflagged-j-ascending
    selection rule) — seeded fuzz over short alphabets maximizes flag
    collisions and window-boundary hits."""
    import random

    def jw_naive(s1: str, s2: str, prefix_weight: float = 0.1) -> float:
        l1, l2 = len(s1), len(s2)
        if l1 == 0 or l2 == 0:
            return 0.0
        if s1 == s2:
            return 1.0
        window = max(l1, l2) // 2 - 1
        if window < 0:
            window = 0
        flags2 = [False] * l2
        matches1 = []
        for i, c in enumerate(s1):
            lo, hi = max(0, i - window), min(l2, i + window + 1)
            for j in range(lo, hi):
                if not flags2[j] and s2[j] == c:
                    flags2[j] = True
                    matches1.append((i, j))
                    break
        m = len(matches1)
        if m == 0:
            return 0.0
        s2_matched = [s2[j] for _, j in sorted(matches1, key=lambda t: t[0])]
        s2_in_order = [s2[j] for j in sorted(j for _, j in matches1)]
        t = sum(a != b for a, b in zip(s2_matched, s2_in_order)) // 2
        jaro = (m / l1 + m / l2 + (m - t) / m) / 3
        if jaro <= 0.7:
            return jaro
        prefix = 0
        for a, b in zip(s1[:4], s2[:4]):
            if a != b:
                break
            prefix += 1
        return jaro + prefix * prefix_weight * (1 - jaro)

    rng = random.Random(11)
    for alpha in ("ab", "abc ", "abcdefgh ij"):
        for _ in range(4000):
            a = "".join(rng.choice(alpha) for _ in range(rng.randrange(0, 40)))
            b = "".join(rng.choice(alpha) for _ in range(rng.randrange(0, 40)))
            assert jaro_winkler(a, b) == jw_naive(a, b), (a, b)


def test_shingle_hash_jaccard_matches_token_jaccard_udf(spark):
    """Curation's JVM shingle-Jaccard (jaccard_from_shingles over
    shingle_hashes_udf) vs the per-pair text UDF twin, on corpus texts
    + edge cases: bit-equal (barring a 64-bit shingle-hash collision)."""
    from dedupe_spark.corpus import generate_pages
    from dedupe_spark.functions.similarity import (
        jaccard_from_shingles,
        shingle_hashes_udf,
        token_jaccard_udf,
    )
    from dedupe_spark.operators.extract import extract_docs
    from dedupe_spark.operators.pairs import attach_texts

    docs = extract_docs(generate_pages(spark, 120, seed=5)).select("doc_id", "text")
    edge = spark.createDataFrame(
        [
            (9000001, ""),
            (9000002, "word"),
            (9000003, "two words"),
            (9000004, "  leading  and   multiple spaces "),
            (9000005, "a b c d e f a b c"),
        ],
        "doc_id long, text string",
    )
    docs = docs.unionByName(edge).cache()
    ids = docs.select("doc_id")
    pairs = (
        ids.alias("a")
        .join(ids.alias("b"))
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("id1"), F.col("b.doc_id").alias("id2"))
        # deterministic 1-in-7 thinning (sample() re-draws per plan
        # branch — the two sides would see different pair sets)
        .where(F.pmod(F.xxhash64("id1", "id2"), F.lit(7)) == 0)
    )
    old = attach_texts(pairs, docs).select(
        "id1", "id2", token_jaccard_udf("text1", "text2").alias("jac")
    )
    sh = docs.select("doc_id", shingle_hashes_udf("text").alias("sh"))
    new = attach_texts(pairs, sh.withColumnRenamed("sh", "text")).select(
        "id1", "id2", jaccard_from_shingles(F.col("text1"), F.col("text2")).alias("jac")
    )
    diffs = (
        old.alias("o")
        .join(new.alias("n"), ["id1", "id2"])
        .agg(
            F.max(F.abs(F.col("o.jac") - F.col("n.jac"))).alias("jac"),
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(F.col("o.jac") > 0, 1)).alias("n_overlap"),
        )
        .collect()[0]
    )
    assert diffs["n"] > 500 and diffs["n_overlap"] > 0
    assert diffs["jac"] == 0.0


def test_tf_cosine_zero_norm_guard(spark):
    """An idf-zeroed doc (every token corpus-ubiquitous → idf 0 for all
    its buckets) has a NON-empty TF vector with norm 0. The cosine must
    return 0.0 rather than divide by zero (ADVICE r4)."""
    import numpy as np

    from dedupe_spark.functions.similarity import TF_DIM, _tf_vector
    from dedupe_spark.operators import scoring
    from dedupe_spark.operators.pairs import attach_texts

    docs = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "the quick brown fox jumps")],
        "doc_id long, text string",
    )
    zero_idf = np.zeros(TF_DIM)
    vec = _tf_vector("the quick brown fox", zero_idf)
    assert len(vec) > 0 and not any(vec.values())  # the trap
    pairs = spark.createDataFrame([(1, 2)], "id1 long, id2 long")
    got = scoring.pair_features(
        attach_texts(pairs, docs), idf=zero_idf, sc=spark.sparkContext
    ).collect()[0]
    assert got["tf_cosine"] == 0.0
