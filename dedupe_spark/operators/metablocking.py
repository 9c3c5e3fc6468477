"""Meta-blocking: prune the blocking graph before pairwise scoring.

Reference semantics: the reference's blocking is a single cheap facet
(length groups, Dedupe.java:67-72) with no notion of redundancy across
key families. At web scale we block on MANY key families at once
(LSH bands, SimHash bands, domain, n-grams — ``blocking.block_keys``),
and the same pair then surfaces from several blocks. Meta-blocking
(Papadakis et al., "Meta-Blocking: Taking Entity Resolution to the
Next Level", TKDE 2014) turns that redundancy into signal: build the
*blocking graph* whose edge weight is how strongly two records
co-block, then prune low-weight edges so the expensive feature stage
scores only the pairs the key families collectively vouch for.

Implemented weight schemes (ibid. §4.2):
  * CBS — Common Blocks Scheme: number of shared (surviving) blocks.
  * JS  — Jaccard Scheme: |B_i ∩ B_j| / (|B_i| + |B_j| - |B_i ∩ B_j|)
    where |B_i| is record i's surviving-block count.

Implemented pruning schemes (ibid. §4.3):
  * WEP — Weighted Edge Pruning: keep edges with weight >= the global
    mean edge weight.
  * CNP — Cardinality Node Pruning: keep an edge iff it ranks in the
    top-k edges of at least one of its endpoints.

Scale notes (north_rule):
  * block purging (``max_block_size``) drops stop-word-like blocks
    BEFORE any pair is emitted — the standard meta-blocking pre-step;
    the blocks that survive purging but are still hot route through
    ``pairs_per_block``'s exactly-once grid skew-split, so counting
    multiplicities never funnels one key into one task;
  * CBS is one map-side-combined groupBy over the per-block pair
    stream; JS adds two equi-joins against the O(n)-row per-record
    block-count table;
  * WEP's global mean is a 1-row aggregate joined back on a constant
    key (broadcast) — no collect of edge data, no second pass ordering;
  * CNP is two per-node top-k windows (partitioned by endpoint —
    parallel, never a global sort).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dedupe_spark.operators.pairs import pairs_per_block


def blocking_graph(
    keys: DataFrame,
    weight: str = "cbs",
    max_block_size: int | None = None,
    hot_threshold: int = 1000,
    salt_buckets: int = 16,
) -> DataFrame:
    """keys(doc_id, block_key) → weighted edges (id1, id2, weight).

    ``weight`` is ``"cbs"`` (long: shared surviving blocks) or ``"js"``
    (double: Jaccard of the two records' surviving-block sets; the
    output keeps the intermediate ``cbs`` column alongside). Blocks
    larger than ``max_block_size`` are purged (dropped entirely —
    meta-blocking's answer to boilerplate keys); singleton blocks never
    produce edges.
    """
    if weight not in ("cbs", "js"):
        raise ValueError(f"blocking_graph: unknown weight scheme {weight!r}")
    per_block, _capped = pairs_per_block(
        keys,
        hot_threshold=hot_threshold,
        salt_buckets=salt_buckets,
        max_block_size=max_block_size,
    )
    cbs = per_block.groupBy("id1", "id2").agg(F.count(F.lit(1)).alias("weight"))
    if weight == "cbs":
        return cbs

    # |B_i| must count only blocks that survive purging AND can produce
    # edges (size >= 2) — otherwise a record's singleton keys deflate
    # every one of its Jaccard weights.
    sizes = keys.groupBy("block_key").agg(F.count(F.lit(1)).alias("copies"))
    live = sizes.where(F.col("copies") >= 2)
    if max_block_size is not None:
        live = live.where(F.col("copies") <= max_block_size)
    deg = (
        keys.join(live.select("block_key"), "block_key")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_blocks"))
    )
    d1 = deg.select(F.col("doc_id").alias("id1"), F.col("n_blocks").alias("nb1"))
    d2 = deg.select(F.col("doc_id").alias("id2"), F.col("n_blocks").alias("nb2"))
    return (
        cbs.withColumnRenamed("weight", "cbs")
        .join(d1, "id1")
        .join(d2, "id2")
        .select(
            "id1",
            "id2",
            "cbs",
            (
                F.col("cbs").cast("double")
                / (F.col("nb1") + F.col("nb2") - F.col("cbs"))
            ).alias("weight"),
        )
    )


def prune_wep(edges: DataFrame, weight_col: str = "weight") -> DataFrame:
    """Weighted Edge Pruning: keep edges with weight >= the global mean.

    The mean is a driver-side SCALAR (one O(1)-row aggregate — the
    bigram_surprisal/cc-fingerprint cost class, not a data collect)
    applied as a literal filter: a 1-row join would compile to a
    BroadcastNestedLoopJoin, which the plan audit bans. The edge plan
    is evaluated twice (once for the mean, once filtered) — callers
    composing this after an expensive graph build should materialize
    the edges first.
    """
    row = edges.agg(F.avg(weight_col).alias("m")).first()
    if row is None or row["m"] is None:
        return edges.where(F.lit(False))
    return edges.where(F.col(weight_col) >= F.lit(float(row["m"])))


def prune_cnp(edges: DataFrame, k: int, weight_col: str = "weight") -> DataFrame:
    """Cardinality Node Pruning: keep an edge iff it is among the top-k
    weighted edges of AT LEAST ONE endpoint (the recall-oriented
    redistribution variant).

    Each edge is listed once per endpoint and ranked over that node's
    whole neighbourhood in one window, so a node keeps at most k edges
    of its own choosing; ties break on the partner id so the survivor
    set is deterministic at any parallelism. Edges are unique on
    (id1, id2).
    """
    if k <= 0:
        raise ValueError(f"prune_cnp: k must be positive, got {k}")
    sym = edges.select(
        F.col("id1").alias("_cnp_n"), F.col("id2").alias("_cnp_o"), "*"
    ).unionByName(
        edges.select(F.col("id2").alias("_cnp_n"), F.col("id1").alias("_cnp_o"), "*")
    )
    w = Window.partitionBy("_cnp_n").orderBy(F.desc(weight_col), F.asc("_cnp_o"))
    return (
        sym.withColumn("_cnp_r", F.row_number().over(w))
        .where(F.col("_cnp_r") <= k)
        .drop("_cnp_n", "_cnp_o", "_cnp_r")
        .dropDuplicates(["id1", "id2"])
    )
