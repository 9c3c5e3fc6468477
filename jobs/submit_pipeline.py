"""spark-submit entry point for the ER pipeline (north_star: "packaged
for spark-submit --py-files").

Cluster usage:
    scripts/package.sh   # builds dist/dedupe_spark.zip
    spark-submit \\
        --master <cluster-master> \\
        --py-files dist/dedupe_spark.zip \\
        jobs/submit_pipeline.py \\
        --input  <pages table path / iceberg table> \\
        --work-dir <checkpointed stage root> \\
        [--max-block-size 100000] [--threshold 0.5] [--stop-after s4_pairs]

Local smoke:
    python jobs/submit_pipeline.py --input /tmp/pages --work-dir /tmp/wd

The session is obtained via SparkSession.builder.getOrCreate() so ALL
cluster sizing (master, executors, memory, shuffle partitions) comes
from spark-submit --conf, not from code."""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

# local-smoke path setup; under spark-submit --py-files the zip provides
# the package and this is a harmless no-op
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="dedupe_spark ER pipeline")
    p.add_argument("--input", required=True, help="pages parquet/iceberg path")
    p.add_argument(
        "--input-format",
        default="parquet",
        choices=["parquet", "warc", "html-tree"],
        help="parquet table (default), WARC shard dir (ISO 28500 "
        ".warc/.warc.gz), or raw html file tree",
    )
    p.add_argument("--work-dir", required=True, help="stage/checkpoint root")
    p.add_argument("--max-block-size", type=int, default=100_000)
    p.add_argument("--hot-threshold", type=int, default=1000)
    p.add_argument("--salt-buckets", type=int, default=16)
    p.add_argument("--threshold", type=float, default=0.5)
    p.add_argument("--crawl-url-dedup", action="store_true",
                   help="pre-stage: keep only the newest fetch per canonical url")
    p.add_argument("--report-csv", default=None,
                   help="also write the s8 cluster report as ONE csv file here")

    from dedupe_spark.pipeline import STAGES, PipelineConfig, run_pipeline

    p.add_argument("--stop-after", default=None, choices=list(STAGES))
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("dedupe_spark_pipeline").getOrCreate()
    if args.input_format == "warc":
        from dedupe_spark.sources.warc import read_warc_pages

        pages = read_warc_pages(spark, args.input)
    elif args.input_format == "html-tree":
        from dedupe_spark.sources.binaryfiles import read_html_pages

        pages = read_html_pages(spark, args.input)
    else:
        pages = spark.read.parquet(args.input)
    cfg = PipelineConfig(
        max_block_size=args.max_block_size,
        hot_threshold=args.hot_threshold,
        salt_buckets=args.salt_buckets,
        threshold=args.threshold,
        crawl_url_dedup=args.crawl_url_dedup,
    )
    t0 = time.time()
    out = run_pipeline(spark, pages, args.work_dir, config=cfg, stop_after=args.stop_after)
    stats = {
        "wall_sec": round(time.time() - t0, 1),
        "stages_skipped": [k for k, v in out.skipped.items() if v],
        "stages_run": [k for k, v in out.skipped.items() if not v],
    }
    if "s7_clusters" in out:
        stats["n_docs"] = out["s7_clusters"].count()
    if "s8_report" in out:
        stats["n_dup_clusters"] = out["s8_report"].count()
        if args.report_csv:
            from dedupe_spark.sources.report import write_csv_report

            stats["report_csv"] = write_csv_report(
                out["s8_report"], args.report_csv, order_by=["cluster_id"]
            )
    print(json.dumps(stats))
    return 0


if __name__ == "__main__":
    sys.exit(main())
