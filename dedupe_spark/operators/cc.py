"""Transitive closure: iterative large-star / small-star connected
components over a DataFrame edge list (north_star S7).

Similarity (unlike the reference's md5 equality, DedupeJar.java:54-58)
is not transitive, so match edges must be closed transitively. The
reference's one-hop analog is tag propagation across equality clusters
(DedupeJar.java:321-383); the general algorithm is the
large-star/small-star method of Kiveris et al., "Connected Components
in MapReduce and Beyond" (SoCC '14) — O(log n) rounds, each round two
shuffles, no GraphFrames/GraphX dependency:

  large-star(u): m = min(N(u) ∪ {u}); link every neighbor v > u to m.
  small-star(u) on edges oriented high→low: m = min(N(u) ∪ {u});
                 link every v ∈ N(u) ∪ {u}, v ≠ m, to m.

Both steps are groupBy-free here: the per-node minimum is a window
min over partitionBy(src) — one shuffle each, combined map-side.
Lineage is truncated every iteration with localCheckpoint (iterative
self-referential plans otherwise grow exponentially — SURVEY.md §7.4),
and convergence is detected by (count, order-insensitive hash) of the
edge set, avoiding a full except() comparison.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _canon(edges: DataFrame) -> DataFrame:
    """Canonical undirected edge set: (least, greatest), no self-loops."""
    return (
        edges.select(
            F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    sym = edges.unionByName(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    w = Window.partitionBy("src")
    m = F.least(F.col("src"), F.min("dst").over(w))
    return (
        sym.withColumn("m", m)
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    oriented = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    ).distinct()
    w = Window.partitionBy("src")
    withm = oriented.withColumn("m", F.min("dst").over(w))
    to_low = withm.select(F.col("dst").alias("src"), F.col("m").alias("dst")).where(
        F.col("src") != F.col("dst")
    )
    to_high = withm.select("src", F.col("m").alias("dst")).distinct()
    return to_low.unionByName(to_high).distinct()


def _fingerprint(edges: DataFrame) -> tuple[int, int]:
    # decimal(38,0) sum: immune to ANSI long-overflow at any edge count
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(
            F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")), F.lit(0)
        ).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def release_checkpoint(df: DataFrame) -> None:
    """Free the blocks of a ``localCheckpoint`` result, which
    ``DataFrame.unpersist`` leaves: they belong to the RDD under its
    LogicalRDD, not to the cache manager."""
    df._jdf.queryExecution().logical().rdd().unpersist(False)


def _driver_union_find(edge_rows: list[tuple[int, int]]):
    """Min-root union-find over a collected edge list."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edge_rows:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return [(n, find(n)) for n in parent]


def connected_components(
    edges: DataFrame,
    max_iter: int = 50,
    driver_finish_edges: int = 2_000_000,
    reliable_checkpoint: bool = False,
) -> DataFrame:
    """edges(src, dst) → assignments(node, cluster_id).

    cluster_id = min node id of the component (deterministic under any
    partitioning). Nodes appearing only as isolated vertices must be
    unioned in by the caller (a node with no edges is its own cluster).

    Hybrid termination: distributed large-star/small-star rounds do the
    heavy contraction (each round shrinks the edge set toward stars);
    once the remaining edge list is below ``driver_finish_edges`` it is
    union-found on the driver in one pass — edge contraction preserves
    connectivity, so the result is identical, and the O(log n) tail of
    tiny Spark rounds (each ~6 shuffles of near-empty data) is avoided.
    Set ``driver_finish_edges=0`` to force the fully distributed path.

    Lineage truncation per round: ``localCheckpoint`` by default (fast;
    executor-local blocks). For long multi-hour jobs on a real cluster,
    pass ``reliable_checkpoint=True`` and set
    ``spark.sparkContext.setCheckpointDir(<hdfs/s3 dir>)`` first —
    a lost executor then re-reads the round's edge set from reliable
    storage instead of failing the whole iteration chain.
    """
    spark = edges.sparkSession

    def _truncate(df: DataFrame) -> DataFrame:
        if reliable_checkpoint:
            return df.checkpoint(eager=True)
        return df.localCheckpoint(eager=True)

    def _driver_finish(pdf: pd.DataFrame) -> DataFrame:
        rows = _driver_union_find(zip(pdf["src"].tolist(), pdf["dst"].tolist()))
        out = pd.DataFrame(rows, columns=["node", "cluster_id"])
        return spark.createDataFrame(out, "node long, cluster_id long")

    # one bounded collect (Arrow transfer — no per-row Row objects)
    # both answers "small enough?" and fetches the edges when it is;
    # the lineage truncation and the fingerprint aggregate run only for
    # the distributed loop. The canonical edges are cached for that
    # loop and released on both branches: a localCheckpoint on the
    # driver-finished branch would stay persisted after the call.
    canon = _canon(edges).persist()
    head = canon.limit(driver_finish_edges + 1).toPandas()
    if len(head) <= driver_finish_edges:
        canon.unpersist()
        return _driver_finish(head)
    cur = _truncate(canon)
    canon.unpersist()
    fp = _fingerprint(cur)
    converged = False
    for _ in range(max_iter):
        nxt = _truncate(_small_star(_large_star(cur)))
        release_checkpoint(cur)  # nxt is materialized without it
        cur = nxt
        nfp = _fingerprint(cur)
        if nfp == fp:
            converged = True
            break
        fp = nfp
        if fp[0] <= driver_finish_edges:
            tail = cur.toPandas()
            release_checkpoint(cur)
            return _driver_finish(tail)
    if not converged:
        raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")
    # Converged: every edge is (node, component_min). The returned
    # frame reads this last round, so it alone stays persisted.
    members = cur.select(F.col("src").alias("node"), F.col("dst").alias("cluster_id"))
    roots = cur.select(F.col("dst").alias("node"), F.col("dst").alias("cluster_id")).distinct()
    return members.unionByName(roots).distinct()


def assign_all(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """All nodes(node) → (node, cluster_id); isolated nodes map to self."""
    assigned = connected_components(edges)
    return (
        nodes.join(assigned, "node", "left")
        .select("node", F.coalesce("cluster_id", F.col("node")).alias("cluster_id"))
    )
