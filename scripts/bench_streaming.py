"""Throughput datapoint for the incremental near-dedup stream.

VERDICT r4 #8: streaming/incremental.py has correctness property tests
but no pages/sec-per-drain number on record — the cross-batch MinHash
index costs two extra disk indexes per batch, and that cost should be
measured before anyone scales the path.

Method: one synthetic corpus (generate_pages — same generator as the
batch pipeline benches), drained through run_incremental_near_dedupe
twice from scratch at two batch sizes (many small drains vs few large
drains). Each drain is one availableNow micro-batch over the newly
appended files; wall time per config covers ALL drains including the
per-drain streaming-query startup, which is the fixed cost the batch
size amortizes. Afterwards the store and its four indexes are du'd for
the index-vs-store size ratio.

Usage: python3 scripts/bench_streaming.py [n_pages] [small_batch] [large_batch]
Defaults: 40000 pages, 5000-page and 20000-page batches.
Prints one JSON line; paste the row into BENCH/BASELINE.md's
capture-history table.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _du(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def main() -> None:
    n_pages = int(sys.argv[1]) if len(sys.argv) > 1 else 40_000
    small = int(sys.argv[2]) if len(sys.argv) > 2 else 5_000
    large = int(sys.argv[3]) if len(sys.argv) > 3 else 20_000

    from dedupe_spark.corpus import generate_pages
    from dedupe_spark.session import get_spark
    from dedupe_spark.streaming.incremental import run_incremental_near_dedupe

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    spark = get_spark(
        "bench_streaming",
        cores=cpus,
        shuffle_partitions=cpus,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    base = f"/tmp/bench_streaming_{os.getpid()}"
    shutil.rmtree(base, ignore_errors=True)
    corpus_dir = f"{base}/corpus"
    generate_pages(spark, n_pages, seed=42).write.mode("overwrite").parquet(corpus_dir)
    pages = spark.read.parquet(corpus_dir)
    # event times in the synthetic corpus span years; a production
    # watermark would drop replanted times as late — not what we measure
    wm = "3650 days"

    results: dict[str, object] = {
        "metric": "streaming_near_dedup_pages_per_sec",
        "unit": "pages/sec",
        "n_pages": n_pages,
        "cpus": cpus,
    }
    sizes: dict[str, int] = {}
    for label, batch in (("small", small), ("large", large)):
        in_dir = f"{base}/{label}/in"
        store = f"{base}/{label}/store"
        ckpt = f"{base}/{label}/ckpt"
        n_batches = -(-n_pages // batch)
        # pre-write every chunk so chunking cost stays outside the clock
        chunks = []
        for i in range(n_batches):
            d = f"{base}/{label}/chunk{i}"
            pages.where(
                (F_pmod_doc(pages, n_batches) == i)
            ).coalesce(max(1, batch // 10_000 * 4 or 4)).write.mode(
                "overwrite"
            ).parquet(d)
            chunks.append(d)
        t0 = time.time()
        for i, d in enumerate(chunks):
            for f in os.listdir(d):
                if f.endswith(".parquet"):
                    os.makedirs(in_dir, exist_ok=True)
                    os.link(f"{d}/{f}", f"{in_dir}/b{i}_{f}")
            run_incremental_near_dedupe(spark, in_dir, store, ckpt, watermark=wm)
        wall = time.time() - t0
        results[f"{label}_batch_pages"] = batch
        results[f"{label}_n_drains"] = n_batches
        results[f"{label}_wall_sec"] = round(wall, 1)
        results[f"{label}_pages_per_sec"] = round(n_pages / wall, 1)
        if label == "large":
            sizes["store_bytes"] = _du(store)
            for idx in ("_keys", "_lsh", "_mh", "_mhsig"):
                sizes[f"index{idx}_bytes"] = _du(store + idx)
    idx_total = sum(v for k, v in sizes.items() if k.startswith("index"))
    results.update(sizes)
    results["index_vs_store_ratio"] = round(idx_total / sizes["store_bytes"], 3)
    print(json.dumps(results))
    shutil.rmtree(base, ignore_errors=True)


def F_pmod_doc(pages, n: int):
    """Deterministic chunk id per page (hash of url)."""
    from pyspark.sql import functions as F

    return F.pmod(F.xxhash64("url"), F.lit(n))


if __name__ == "__main__":
    main()
