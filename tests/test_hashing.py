"""MinHash / SimHash sketch properties (SURVEY.md §5.2.2)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from dedupe_spark.functions.hashing import (
    MINHASH_K,
    lsh_band_keys,
    minhash_signature,
    minhash_udf,
    simhash64,
    simhash_band_keys,
)
from dedupe_spark.functions.similarity import token_jaccard


def _rand_text(rng, n):
    words = [f"w{rng.integers(0, 500)}" for _ in range(n)]
    return " ".join(words)


def test_minhash_identical_texts_equal_signatures():
    t = "alpha beta gamma delta epsilon zeta eta theta"
    assert np.array_equal(minhash_signature(t), minhash_signature(t))


def test_minhash_estimates_jaccard():
    """Signature agreement rate ≈ shingle Jaccard (within 3σ)."""
    rng = np.random.default_rng(1)
    base = _rand_text(rng, 300).split()
    variant = list(base)
    for i in range(0, 30):  # ~10% token edits
        variant[rng.integers(0, len(variant))] = f"x{i}"
    t1, t2 = " ".join(base), " ".join(variant)
    true_j = token_jaccard(t1, t2)
    s1, s2 = minhash_signature(t1), minhash_signature(t2)
    est = float((s1 == s2).mean())
    sigma = (true_j * (1 - true_j) / MINHASH_K) ** 0.5
    assert abs(est - true_j) < 3 * sigma + 0.02


def test_minhash_disjoint_texts_low_agreement():
    t1 = " ".join(f"a{i}" for i in range(100))
    t2 = " ".join(f"b{i}" for i in range(100))
    s1, s2 = minhash_signature(t1), minhash_signature(t2)
    assert float((s1 == s2).mean()) < 0.05


def test_minhash_empty_text():
    assert np.array_equal(minhash_signature(""), np.zeros(MINHASH_K, dtype=np.int64))


def test_minhash_udf_matches_local(spark):
    texts = ["one two three four five six", "", "seven eight nine ten eleven twelve"]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    rows = df.select("text", minhash_udf("text").alias("sig")).collect()
    for r in rows:
        assert r["sig"] == minhash_signature(r["text"]).tolist()


def test_lsh_band_collision_for_identical(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today"),
         (2, "the quick brown fox jumps over the lazy dog today")],
        "doc_id long, text string",
    )
    keys = df.select(
        "doc_id",
        F.explode(lsh_band_keys(minhash_udf("text"), 8, 16)).alias("block_key"),
    )
    shared = (
        keys.groupBy("block_key").count().where(F.col("count") >= 2).count()
    )
    assert shared == 8  # identical text → every band collides


def test_content_sketches_consistent_with_standalone():
    """The fused single-pass sketch UDF must agree with the standalone
    minhash and simhash functions (block keys are interchangeable)."""
    from dedupe_spark.functions.hashing import content_sketches

    for t in ["", "one two three four five six seven", "x", "a b c d e f g h i j"]:
        sig, sh = content_sketches(t)
        assert sig == minhash_signature(t).tolist()
        assert sh == simhash64(t)


def test_simhash_identical_and_near():
    t1 = " ".join(f"tok{i}" for i in range(200))
    toks = t1.split()
    toks[50] = "CHANGED"
    t2 = " ".join(toks)
    h1, h2 = simhash64(t1), simhash64(t2)
    assert h1 == simhash64(t1)
    ham = bin((h1 ^ h2) & ((1 << 64) - 1)).count("1")
    assert ham <= 12  # one token edit flips few bits


def test_simhash_distinct_texts_far():
    h1 = simhash64(" ".join(f"aa{i}" for i in range(200)))
    h2 = simhash64(" ".join(f"zz{i}" for i in range(200)))
    ham = bin((h1 ^ h2) & ((1 << 64) - 1)).count("1")
    assert ham > 16


def test_simhash_band_keys_cover_64_bits(spark):
    df = spark.createDataFrame([(-1,)], "sh long")  # all bits set
    row = df.select(simhash_band_keys(F.col("sh")).alias("k")).collect()[0]
    assert row["k"] == [f"sh{b}:65535" for b in range(4)]


def _unrolled_band_keys(sig_col, n_bands, rows_per_band):
    """The band-key formula written out one expression per band."""
    return F.array(
        *[
            F.concat_ws(
                ":",
                F.lit(f"mh{b}"),
                F.xxhash64(F.slice(sig_col, b * rows_per_band + 1, rows_per_band).cast("string")),
            )
            for b in range(n_bands)
        ]
    )


@pytest.mark.parametrize("n_bands,rows_per_band", [(32, 3), (8, 16)])
def test_lsh_band_keys_match_unrolled_formula(spark, n_bands, rows_per_band):
    rng = np.random.default_rng(7)
    texts = [_rand_text(rng, 40) for _ in range(20)] + ["", "one two"]
    df = spark.createDataFrame(list(enumerate(texts)), "id long, text string").select(
        "id", minhash_udf("text").alias("sig")
    )
    got = df.select("id", lsh_band_keys(F.col("sig"), n_bands, rows_per_band).alias("k"))
    want = df.select("id", _unrolled_band_keys(F.col("sig"), n_bands, rows_per_band).alias("k"))
    g = {r["id"]: r["k"] for r in got.collect()}
    assert g == {r["id"]: r["k"] for r in want.collect()}
    assert all(len(k) == n_bands for k in g.values())
