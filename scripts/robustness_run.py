"""Large-scale robustness run: full ER pipeline + pairwise F1 at the
largest corpus the sandbox comfortably holds.

Usage: python scripts/robustness_run.py [n_pages] [--pairwise-dense]

Generates the deterministic corpus (seed 42), runs the pipeline,
evaluates pairwise F1 on labeled same-block pairs (BASELINE.json
metric) with the hot-block-safe scalable evaluator
(--pairwise-dense forces the pair-materializing one — quadratic in
hot-block size, sandbox-feasible only below ~200k pages), and prints
one JSON line. The corpus is materialized to parquet untimed
(production input shape).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    n_pages = int(sys.argv[1]) if len(sys.argv) > 1 else 400_000

    from pyspark.sql import functions as F

    from dedupe_spark import evaluate
    from dedupe_spark.corpus import generate_pages
    from dedupe_spark.pipeline import run_pipeline
    from dedupe_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    spark = get_spark(
        "robustness", cores=cores, shuffle_partitions=2 * cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.files.maxPartitionBytes": str(8 * 1024 * 1024),
        },
    )
    corpus_dir = f"/tmp/robust_corpus_{n_pages}"
    if not os.path.exists(f"{corpus_dir}/_SUCCESS"):
        generate_pages(spark, n_pages, seed=42).write.mode("overwrite").parquet(corpus_dir)
    pages = spark.read.parquet(corpus_dir)

    work = f"/tmp/robust_wd_{n_pages}"
    shutil.rmtree(work, ignore_errors=True)
    t0 = time.time()
    out = run_pipeline(spark, pages, work)
    n_clusters = out["s8_report"].count()  # forces the full DAG
    t_pipe = time.time() - t0

    truth = pages.select(F.xxhash64("url").alias("doc_id"), "truth_key")
    # The labeled-pair set is quadratic in the hot-block size (a 20k-copy
    # boilerplate block alone is ~2e8 pairs → >50 GB of shuffle); above
    # the cap, use the linear exactness check, which implies pairwise
    # F1 = 1.0 when both violation counts are zero (evaluate.py).
    if "--pairwise-dense" in sys.argv:
        labeled = evaluate.labeled_same_block_pairs(
            evaluate.doc_level_keys(out["s2_exact"], out["s3_keys"]), truth
        )
        m = evaluate.pairwise_f1(labeled, out["s7_clusters"])
    else:
        m = evaluate.pairwise_f1_scalable(
            out["s2_exact"], out["s3_keys"], truth, out["s7_clusters"]
        )
        m.update(evaluate.cluster_exactness(out["s7_clusters"], truth))
    print(
        json.dumps(
            {
                "n_pages": n_pages,
                "t_pipeline_sec": round(t_pipe, 1),
                "pages_per_sec": round(n_pages / t_pipe, 1),
                "n_pairs_scored": out["s5_scored"].count(),
                "n_dup_clusters": n_clusters,
                **{k: (round(v, 6) if isinstance(v, float) else v) for k, v in m.items()},
            }
        )
    )
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
