"""Token-budget shard packing via a distributed prefix sum.

Writing a training corpus means cutting an ordered document stream
into shards of ~``budget`` tokens each (so every training file feeds
the data loader the same amount of work). The assignment for a doc is
``floor(exclusive_cumulative_tokens / budget)`` over a deterministic
document order — a global running sum.

A naive ``Window.orderBy(order_col)`` with no ``partitionBy`` computes
that cumsum on a SINGLE task — the classic scale-killer (100 TB of
rows through one core). This implements the textbook two-phase
distributed prefix sum instead:

1. range-bucket rows by ``order_col`` (``n_buckets`` contiguous
   ranges; bounds from one O(1)-row min/max aggregate),
2. per-bucket partial sums (tiny table, ``n_buckets`` rows) get an
   exclusive running offset via a window over the SMALL table only,
3. broadcast the offsets back and finish with a per-bucket window —
   parallel across buckets, each task sorts only its own range.

The only global sort touches ``n_buckets`` rows; everything else is
hash/range-parallel. Output is identical to the single-window
formulation (the DuckDB oracle uses exactly that), at any
parallelism. ``running_sum`` is that prefix sum; ``pack_shards``
divides it by the budget, and ``snm.distributed_rank`` is its
weight-1 case.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def running_sum(
    df: DataFrame,
    order_cols: list[str],
    out_col: str,
    weight_col: str | None = None,
    n_buckets: int = 1024,
) -> DataFrame:
    """Add ``out_col`` = exclusive running sum of ``weight_col`` (1 per
    row when None, which makes it a 0-based rank) over rows ordered by
    ``order_cols``; NULL for every row of an empty input.

    The first order column must be integral (it is range-bucketed);
    the order columns together must be unique, so the within-bucket
    sort, and with it every running sum, is deterministic. Rows tied
    on the first column share one bucket, so a dominant value makes a
    single-task sort.
    """
    if n_buckets <= 0:
        raise ValueError(f"n_buckets must be positive, got {n_buckets}")
    key = order_cols[0]
    weight = F.col(weight_col) if weight_col is not None else F.lit(1)

    # O(1)-row aggregate to the driver — same cost class as the CC
    # convergence fingerprint, not a data collect.
    lo_hi = df.agg(F.min(key).alias("lo"), F.max(key).alias("hi")).first()
    if lo_hi is None or lo_hi["lo"] is None:
        return df.withColumn(out_col, F.lit(None).cast("long"))
    lo, hi = int(lo_hi["lo"]), int(lo_hi["hi"])

    # Bucket by arithmetic shift right (exact floor-division by 2^k):
    # ids may legitimately span the full int64 range (xxhash64 doc
    # ids), where (col - lo) overflows under ANSI mode and float
    # division loses bits past 2^53. The shift is overflow-free,
    # exact, and monotone — contiguous ranges, as range-bucketing
    # requires. Python ints compute k without overflow.
    # clamp to 63: JVM shifts are mod-64, so k=64 would be a no-op
    k = min(63, max(0, ((hi - lo) // n_buckets).bit_length()))
    bucketed = df.withColumn("_rs_bucket", F.shiftright(F.col(key), k))

    # Phase 1+2: per-bucket totals, then an exclusive running offset.
    # The orderBy window here is the ONLY global sort and it runs over
    # at most n_buckets rows.
    partials = bucketed.groupBy("_rs_bucket").agg(F.sum(weight).alias("_rs_total"))
    w_off = Window.orderBy("_rs_bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    offsets = partials.select(
        "_rs_bucket",
        (F.sum("_rs_total").over(w_off) - F.col("_rs_total")).alias("_rs_offset"),
    )

    # Phase 3: broadcast offsets back; per-bucket windows run in
    # parallel, each sorting only its own contiguous range.
    w_in = Window.partitionBy("_rs_bucket").orderBy(*order_cols).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        bucketed.join(F.broadcast(offsets), "_rs_bucket")
        .withColumn(out_col, F.col("_rs_offset") + F.sum(weight).over(w_in) - weight)
        .drop("_rs_bucket", "_rs_offset")
    )


def pack_shards(
    df: DataFrame,
    order_col: str,
    weight_col: str,
    budget: int,
    n_buckets: int = 1024,
    shard_col: str = "shard_id",
) -> DataFrame:
    """Add ``shard_col`` = floor(exclusive-cumsum(weight) / budget)
    over rows ordered by ``order_col``.

    ``order_col`` must be a unique integral key (ties would make the
    within-bucket sort nondeterministic); ``weight_col`` must be
    non-negative integers (token counts). A single row heavier than
    ``budget`` simply spans shards — its shard is still well defined.
    """
    if budget <= 0:
        raise ValueError(f"pack_shards: budget must be positive, got {budget}")
    return (
        running_sum(df, [order_col], "_pk_cume", weight_col, n_buckets)
        # integer `div`, not float `/`: exact past 2^53 tokens
        .withColumn(shard_col, F.expr(f"_pk_cume div {int(budget)}"))
        .drop("_pk_cume")
    )
