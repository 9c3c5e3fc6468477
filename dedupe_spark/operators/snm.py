"""Sorted-neighborhood blocking (Hernández & Stolfo, SIGMOD 1995).

Reference semantics: the reference blocks only on exact key equality
(length facets, Dedupe.java:67-72), which misses near-duplicates whose
cheap key differs slightly (a one-character append shifts the length
block). The sorted-neighborhood method sorts records by a fuzzy key
and pairs every record with its ``window - 1`` successors — records
with *close* keys become candidates without any equality predicate.

Scale notes (north_rule):
  * a naive ``row_number().over(Window.orderBy(key))`` is the classic
    scale-killer — one task sorts 100 TB. ``distributed_rank`` is
    ``packing.running_sum`` with weight 1: range-bucket by an
    overflow-free arithmetic shift, per-bucket counts (tiny table) get
    an exclusive running offset via a window over the SMALL table
    only, then per-bucket ranks run in parallel;
  * the neighborhood pairing is an equi-join on rank (rank2 = rank1 +
    d, d ∈ 1..window-1) after a ``window - 1``-way explode — shuffle
    keys are ranks (dense, collision-free), never the skewed sort key;
  * ties on the sort key are broken by the unique id so ranks (and
    therefore the pair set) are identical at any parallelism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dedupe_spark.operators.packing import running_sum


def distributed_rank(
    df: DataFrame,
    key_col: str,
    id_col: str,
    rank_col: str = "rank",
    n_buckets: int = 1024,
) -> DataFrame:
    """Add ``rank_col`` = 1-based dense position of each row under
    ORDER BY (key_col, id_col) — identical to a single
    ``row_number()`` window, without the single-task global sort.

    ``key_col`` must be integral (the range-bucketing shift needs
    int64 arithmetic); ``id_col`` must be a unique tiebreak so the
    total order — and every downstream pair — is deterministic.
    """
    return running_sum(df, [key_col, id_col], rank_col, n_buckets=n_buckets).withColumn(
        rank_col, F.col(rank_col) + 1
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    key_col: str,
    id_col: str,
    window: int,
    n_buckets: int = 1024,
) -> DataFrame:
    """(id1, id2, gap): every record paired with its ``window - 1``
    successors in (key_col, id_col) order; ``gap`` = rank distance
    (1..window-1). id1 is the lower-RANKED record (the SNM convention —
    orientation follows the sort, not the id values).
    """
    if window < 2:
        raise ValueError(f"sorted_neighborhood_pairs: window must be >= 2, got {window}")
    ranked = distributed_rank(df, key_col, id_col, rank_col="_sn_rank", n_buckets=n_buckets)
    left = ranked.select(
        F.col(id_col).alias("id1"),
        F.col("_sn_rank").alias("_sn_r1"),
        F.explode(F.sequence(F.lit(1), F.lit(window - 1))).alias("gap"),
    ).withColumn("_sn_r2", F.col("_sn_r1") + F.col("gap"))
    right = ranked.select(
        F.col(id_col).alias("id2"), F.col("_sn_rank").alias("_sn_r2")
    )
    return left.join(right, "_sn_r2").select("id1", "id2", "gap")
