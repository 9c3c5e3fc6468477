"""Per-round benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and the full ER
pipeline on a generated corpus scaled to the sf, then prints ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": sf, ...extras}.

Each query is forced end-to-end with a noop-format write (count()
would let Catalyst prune expensive projections).

The two-cluster-size scaling evidence (north_rule) lives in
scripts/bench_scaling.py → BENCH/BASELINE.md; this file is the
per-round single-parallelism timing loop.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))


def calibrate() -> dict[str, float]:
    """Host-speed calibration: aggregate sha256 MB/s single-threaded
    and at CPUS threads (hashlib releases the GIL). The sandbox is
    multi-tenant and its EFFECTIVE core count swings round-to-round
    (measured: 32 nominal cpus delivering anywhere from ~4x to ~25x
    single-core aggregate) — these two numbers let timings from
    different rounds be normalized instead of read as regressions."""
    import concurrent.futures as cf
    import hashlib

    blk = b"x" * 1_000_000

    def work(_i: int) -> int:
        h = b""
        for _ in range(150):
            h = hashlib.sha256(blk + h).digest()
        return h[0]

    out: dict[str, float] = {}
    for nthreads, label in ((1, "calib_1t_mbps"), (CPUS, f"calib_{CPUS}t_mbps")):
        best = 0.0
        for _ in range(2):
            with cf.ThreadPoolExecutor(nthreads) as ex:
                t0 = time.time()
                list(ex.map(work, range(nthreads)))
                dt = time.time() - t0
            best = max(best, 150 * nthreads / dt)
        out[label] = round(best, 1)
    return out

HEADLINE = [
    "agg_lineitem_pricing",
    "rollup_orders",
    "events_hourly",
    "running_value_per_user",
    "stats_lineitem",
    "semi_join_candidates",
    "window_block_count",
    "asof_purchase_view",
    "range_error_context",
    "duplicate_shingles",
    "ngram_jaccard_pairs",
    "ann_topk",
    "embedding_near_dup_lsh",
    "cc_clusters",
    "minhash_lsh_pairs",
    "er_pipeline_clusters",
]


def _sf_from_dir(d: str) -> float:
    base = os.path.basename(d.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return 0.0


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    from dedupe_spark.queries import QUERIES
    from dedupe_spark.session import get_spark

    sf = _sf_from_dir(SF_DIR)
    # calibrate BEFORE and AFTER the timed work: the pair brackets the
    # capture window, so a degraded-host record is self-evident (VERDICT
    # r3 wrong #2 — r3's numbers were captured at ~4.6 GB/s aggregate
    # where the same commit measures 25.5s total at ~20 GB/s)
    calib_pre = {f"pre_{k}": v for k, v in calibrate().items()}
    spark = get_spark(
        "bench",
        cores=CPUS,
        shuffle_partitions=CPUS,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # sandbox testdata is one small file per table — split scans
            # finely so UDF stages parallelize (at real scale the input
            # has many files and the 128MB default is right)
            "spark.sql.files.maxPartitionBytes": str(2 * 1024 * 1024),
            "spark.sql.files.openCostInBytes": str(256 * 1024),
        },
    )

    # best-of-3 timing: the sandbox host is multi-tenant and per-core
    # throughput varies ±2x over minutes; min is the low-noise
    # estimator. Reps are INTERLEAVED (3 full passes over the catalog,
    # min per query) so a transient co-tenant load spike degrades one
    # pass of every query instead of all three reps of whichever query
    # it happened to land on.
    timings: dict[str, float] = {name: float("inf") for name in HEADLINE}
    for rep in range(3):
        for name in HEADLINE:
            t0 = time.time()
            force(QUERIES[name](spark, SF_DIR))
            timings[name] = min(timings[name], time.time() - t0)
    for name in HEADLINE:
        timings[name] = round(timings[name], 3)
        print(f"[bench] {name}: {timings[name]}s", file=sys.stderr)

    # Corpus-scale ER pipeline (FIXTURES.md: bench pages = 200k * sf).
    from dedupe_spark.corpus import generate_pages
    from dedupe_spark.pipeline import run_pipeline

    n_pages = max(2000, int(200_000 * sf))
    work = f"/tmp/bench_pipeline_{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    # Materialize the input corpus untimed — the pipeline is benchmarked
    # reading a real table (the production shape: Iceberg/Parquet pages),
    # not synthesizing test HTML in Python.
    corpus_dir = f"/tmp/bench_corpus_{n_pages}"
    if not os.path.exists(f"{corpus_dir}/_SUCCESS"):
        generate_pages(spark, n_pages, seed=42).write.mode("overwrite").parquet(corpus_dir)
    pages = spark.read.parquet(corpus_dir)
    # the default config, which commits every stage: each iteration
    # starts from an empty work dir, so nothing is resumed
    t_pipe = float("inf")
    for _ in range(3):
        shutil.rmtree(work, ignore_errors=True)
        t0 = time.time()
        out = run_pipeline(spark, pages, work)
        t_pipe = min(t_pipe, round(time.time() - t0, 3))
    n_pairs = out["s5_scored"].count()
    n_clusters = out["s8_report"].count()
    timings["er_corpus_pipeline"] = t_pipe
    print(
        f"[bench] er_corpus_pipeline: {t_pipe}s ({n_pages} pages, "
        f"{n_pairs} pairs scored, {n_clusters} dup clusters)",
        file=sys.stderr,
    )
    shutil.rmtree(work, ignore_errors=True)

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_queries_plus_er_pipeline_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "cpus": CPUS,
                **calib_pre,
                **calibrate(),
                "er_corpus_pages": n_pages,
                "er_corpus_pairs_scored": n_pairs,
                "er_corpus_dup_clusters": n_clusters,
                "er_corpus_pages_per_sec": round(n_pages / t_pipe, 1),
            }
        )
    )


if __name__ == "__main__":
    main()
