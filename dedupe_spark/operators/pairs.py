"""Candidate-pair generation: salted self-join with explicit skew splitting.

Reference semantics (SURVEY.md §2.3 J1/J2): semi-join candidates
against surviving blocks, then self-join within each block with
``id1 < id2`` canonicalization (halves work, kills self-pairs).

Skew (north_rule: "partitioning / shuffle / skew handled explicitly"):
web-scale block keys are Zipfian — one boilerplate key can hold 10^6+
docs, and a naive self-join puts that whole block in one shuffle
partition doing O(n²) work single-threaded. Two explicit mechanisms:

1. **Grid skew-split** (exact): docs in a hot block (size > threshold)
   get a salt bucket b = pmod(xxhash64(doc_id), S). The self-join is
   decomposed into the S*(S+1)/2 cells of the upper-triangular bucket
   grid: the left side replicates each doc to cells (b, j≥b), the right
   side to cells (i≤b, b); joining on (block_key, cell) spreads one
   block's quadratic work over S² shuffle partitions while producing
   exactly the same pair set (each pair lands in exactly one cell, so
   no dedup needed). This is fragment-replicate (grid) join applied to
   a self-join's upper triangle.

2. **Block cap** (lossy, logged): blocks above ``max_block_size`` can
   be dropped from pair generation entirely — correct usage is to cap
   only redundant key families (a boilerplate LSH block whose members
   are exact duplicates is already clustered by the cheap
   md5-groupBy stage, never pairwise). Never silent: capped blocks are
   returned for logging/metrics.

AQE skew-join splitting stays enabled underneath as a second layer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dedupe_spark.functions.hashing import simhash_band_keys


def pairs_per_block(
    keys: DataFrame,
    hot_threshold: int = 1000,
    salt_buckets: int = 16,
    max_block_size: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """keys(doc_id, block_key) → (per_block(block_key, id1, id2), capped).

    Emits each canonical (id1 < id2) pair EXACTLY ONCE PER SHARED BLOCK
    (no cross-block dedup) — the multiplicity is meaningful: it is the
    common-blocks weight meta-blocking counts. ``generate_pairs`` is
    this plus drop-block-key + distinct (or + the CNP prune).
    """
    sizes = keys.groupBy("block_key").agg(F.count(F.lit(1)).alias("copies"))
    live = sizes.where(F.col("copies") >= 2)
    if max_block_size is not None:
        capped = live.where(F.col("copies") > max_block_size)
        live = live.where(F.col("copies") <= max_block_size)
    else:
        capped = live.where(F.lit(False))

    # Annotate each (doc, key) row with its block size; block lists are
    # usually small relative to docs but not broadcastable at scale →
    # plain shuffled equi-join on block_key, AQE handles residual skew.
    annotated = keys.join(live, "block_key")

    cold = annotated.where(F.col("copies") <= hot_threshold).select("block_key", "doc_id")
    hot = annotated.where(F.col("copies") > hot_threshold).select("block_key", "doc_id")

    # --- cold path: plain canonical self-join on block_key ------------
    a = cold.alias("a")
    b = cold.alias("b")
    cold_pairs = (
        a.join(b, "block_key")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select("block_key", F.col("a.doc_id").alias("id1"), F.col("b.doc_id").alias("id2"))
    )

    # --- hot path: upper-triangular grid decomposition ----------------
    # A doc with salt bucket b goes LEFT into grid row cells (b, j>=b)
    # and RIGHT into column cells (i<=b, b). An unordered pair with
    # buckets (bx <= by) meets exactly once in cell (bx, by); on the
    # diagonal (bx == by) it meets in both orders plus self-pairs, so the
    # id_l < id_r filter applies ONLY there — off-diagonal the pair's
    # orientation follows bucket order, not id order, and must be
    # re-canonicalized with least/greatest instead of filtered.
    s = salt_buckets
    hot_b = hot.withColumn("bkt", F.pmod(F.xxhash64("doc_id"), F.lit(s)).cast("int"))
    left = hot_b.select(
        "block_key",
        F.col("doc_id").alias("id_l"),
        F.col("bkt").alias("bkt_l"),
        F.explode(
            F.transform(F.sequence(F.col("bkt"), F.lit(s - 1)), lambda j: F.concat_ws("_", F.col("bkt"), j))
        ).alias("cell"),
    )
    right = hot_b.select(
        "block_key",
        F.col("doc_id").alias("id_r"),
        F.col("bkt").alias("bkt_r"),
        F.explode(
            F.transform(F.sequence(F.lit(0), F.col("bkt")), lambda i: F.concat_ws("_", i, F.col("bkt")))
        ).alias("cell"),
    )
    hot_pairs = (
        left.join(right, ["block_key", "cell"])
        .where((F.col("bkt_l") != F.col("bkt_r")) | (F.col("id_l") < F.col("id_r")))
        .select(
            "block_key",
            F.least("id_l", "id_r").alias("id1"),
            F.greatest("id_l", "id_r").alias("id2"),
        )
    )

    per_block = cold_pairs.unionByName(hot_pairs)
    return per_block, capped.select("block_key", "copies")


def generate_pairs(
    keys: DataFrame,
    hot_threshold: int = 1000,
    salt_buckets: int = 16,
    max_block_size: int | None = None,
    cnp_k: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """keys(doc_id, block_key) → (pairs(id1, id2), capped_blocks).

    pairs are distinct canonical (id1 < id2) candidate pairs from all
    blocks with 2..max_block_size members; blocks larger than
    max_block_size (if set) are excluded and reported in capped_blocks
    (block_key, copies). With ``cnp_k`` set, the pairs are instead the
    meta-blocking CNP survivors: the per-block stream is weighted by
    common blocks (CBS) and each pair kept only if it ranks in the
    top-``cnp_k`` edges of one of its endpoints.
    """
    per_block, capped = pairs_per_block(
        keys,
        hot_threshold=hot_threshold,
        salt_buckets=salt_buckets,
        max_block_size=max_block_size,
    )
    if cnp_k is None:
        return per_block.select("id1", "id2").distinct(), capped
    # deferred: metablocking imports this module at load time
    from dedupe_spark.operators.metablocking import prune_cnp

    cbs = per_block.groupBy("id1", "id2").agg(F.count(F.lit(1)).alias("weight"))
    return prune_cnp(cbs, cnp_k).select("id1", "id2"), capped


def require_pigeonhole(max_hamming: int, n_bands: int = 4) -> None:
    """Raise unless every pair within ``max_hamming`` bits shares one of
    ``n_bands`` exact bands: a pair with one differing bit in every
    band shares no band key and would be silently missed."""
    if max_hamming >= n_bands:
        raise ValueError(
            f"max_hamming={max_hamming} breaks the pigeonhole guarantee "
            f"with n_bands={n_bands}; need max_hamming < n_bands "
            "(raise n_bands or lower max_hamming)"
        )


def banded_hamming_pairs(
    features: DataFrame,
    id_col: str,
    hash_col: str,
    max_hamming: int,
    n_bands: int = 4,
) -> DataFrame:
    """features(id_col, hash_col) → (id1, id2, hamming): every canonical
    (id1 < id2) pair of 64-bit fingerprints within ``max_hamming`` bits.

    Pigeonhole banding (Manku, Jain & Das Sarma, WWW 2007): the hash is
    cut into ``n_bands`` bands of ``64 // n_bands`` bits, and a pair
    that differs in at most ``max_hamming < n_bands`` bits agrees
    exactly on at least one band. The bands are block keys for
    :func:`generate_pairs` (so a hot band value takes the grid split),
    and the candidates are refined JVM-side with ``bit_count(xor)``.
    ``max_hamming >= n_bands`` raises (:func:`require_pigeonhole`).
    """
    require_pigeonhole(max_hamming, n_bands)
    keys = features.select(
        F.col(id_col).alias("doc_id"),
        F.explode(simhash_band_keys(F.col(hash_col), n_bands)).alias("block_key"),
    )
    cand, _capped = generate_pairs(keys)
    h1 = features.select(F.col(id_col).alias("id1"), F.col(hash_col).alias("_h1"))
    h2 = features.select(F.col(id_col).alias("id2"), F.col(hash_col).alias("_h2"))
    return (
        cand.join(h1, "id1")
        .join(h2, "id2")
        .select("id1", "id2", F.bit_count(F.col("_h1").bitwiseXOR(F.col("_h2"))).alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
    )


def attach_texts(pairs: DataFrame, docs: DataFrame) -> DataFrame:
    """pairs(id1,id2) ⋈ docs(doc_id,text) → (id1,id2,text1,text2).

    Two shuffled equi-joins on doc_id; at scale, pre-bucketing docs by
    doc_id makes both co-located. Texts travel to the pair — the
    feature UDF then runs without further shuffles.
    """
    d1 = docs.select(F.col("doc_id").alias("id1"), F.col("text").alias("text1"))
    d2 = docs.select(F.col("doc_id").alias("id2"), F.col("text").alias("text2"))
    return pairs.join(d1, "id1").join(d2, "id2")
