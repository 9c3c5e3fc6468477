"""Adaptive-batch sink: the reference's cap-halving retry loop.

Kept although no stage calls it: it is the only implementation of
SURVEY I3, adaptive batching (DedupeRAM.java:65-76).

Reference semantics (DedupeRAM.java:66-76,200-206): bulk updates start
at an unbounded batch cap; on a failed POST the cap halves
(``cap >>= 1``) and the batch retries, so the client converges onto
the largest batch the sink can absorb ("broken pipe" at ~1.8M docs,
success at ~1.3M in the reference's log).

Spark-first restatement: sinks here are whole-DataFrame writes, so the
adaptive unit is a deterministic hash split of the frame. ``write_fn``
is attempted on the full frame; on failure the frame splits in half by
``pmod(xxhash64(key), 2)`` and each half retries recursively, halving
until success or ``min_rows`` is reached (then the error is re-raised
— a poison batch must surface, not spin). Splits are deterministic, so
a retried job resends identical batches (idempotent sinks stay
idempotent).

This is the I3 operator for flaky external sinks (a rate-limited HTTP
index, a JDBC endpoint with a max-payload) — parquet/Iceberg stage
writes don't need it.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def adaptive_batch_write(
    df: DataFrame,
    write_fn: Callable[[DataFrame], None],
    key: str,
    min_rows: int = 1,
    _depth: int = 0,
    max_depth: int = 40,
) -> int:
    """Write ``df`` through ``write_fn``, halving on failure.

    Returns the number of successful ``write_fn`` calls. Raises the
    last sink error once a failing batch cannot be split further
    (fewer than ``2 * min_rows`` rows, or ``max_depth`` halvings).
    """
    try:
        write_fn(df)
        return 1
    except Exception:
        n = df.count()
        if n < 2 * min_rows or _depth >= max_depth:
            raise
        # depth enters the hash: re-splitting a half with the same salt
        # would put every row on the same side again (50/0 forever)
        salted = df.withColumn(
            "__half", F.pmod(F.xxhash64(key, F.lit(_depth)), F.lit(2))
        )
        calls = 0
        for half in (0, 1):
            part = salted.where(F.col("__half") == half).drop("__half")
            calls += adaptive_batch_write(
                part, write_fn, key, min_rows=min_rows, _depth=_depth + 1,
                max_depth=max_depth,
            )
        return calls
