"""spark-submit entry: resolve a documents table into entity clusters
with unsupervised Fellegi–Sunter linkage, then emit golden records.

  spark-submit --py-files dist/dedupe_spark.zip jobs/link_records.py \
      --input /data/documents.parquet --output /data/linked

Input schema: (doc_id long, text string, lang string, source string,
n_chars long) — extra columns ride along into the golden records.
Output: <output>/clusters (doc_id, cluster_id), <output>/golden (one
consolidated row per cluster), and one JSON stats line on stdout
(EM-estimated m/u/λ and EM rounds, cluster counts, dropped
comparisons).

Comparisons are derived, not configured by schema: lang and source
agreement, a 16-char length bucket, and the token-set fingerprint —
the same single-source compare set the linkage test plants truth for.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

# runnable as `python jobs/link_records.py` too, not only via
# spark-submit --py-files (same as jobs/submit_pipeline.py)
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True, help="documents parquet path")
    p.add_argument("--output", required=True, help="output dir (clusters/ + golden/)")
    p.add_argument("--threshold", type=float, default=0.85,
                   help="posterior P(match) cut for an edge (see "
                        "LinkageConfig.threshold for why not 0.9)")
    p.add_argument("--cnp-k", type=int, default=None,
                   help="optional meta-blocking cardinality-node-pruning k")
    p.add_argument("--cores", type=int, default=None)
    args = p.parse_args(argv)

    from pyspark.sql import functions as F

    from dedupe_spark.functions.text import fingerprint
    from dedupe_spark.linkage import LinkageConfig, link_records
    from dedupe_spark.operators.survivorship import golden_records
    from dedupe_spark.session import get_spark

    spark = get_spark("link_records", cores=args.cores)
    t0 = time.time()

    docs = spark.read.parquet(args.input)
    records = docs.withColumn("fp", fingerprint(F.col("text"))).withColumn(
        "lenb", F.floor(F.col("n_chars") / 16)
    )
    # blocking: fingerprint prefix (tight, high-precision) + length
    # bucket (loose, recall) — both JVM-only key families
    keys = records.select(
        "doc_id", F.concat(F.lit("fp:"), F.col("fp").substr(1, 8)).alias("block_key")
    ).unionByName(
        records.select(
            "doc_id", F.concat(F.lit("len:"), F.col("lenb").cast("string")).alias("block_key")
        )
    )

    cfg = LinkageConfig(
        compare_cols=["lang", "source", "lenb", "fp"],
        threshold=args.threshold,
        cnp_k=args.cnp_k,
    )
    res = link_records(records, keys, cfg)

    clustered = records.join(res.clusters, "doc_id")
    golden = golden_records(
        clustered,
        "cluster_id",
        order_by=[F.desc(F.length("text")), F.asc("doc_id")],
        mode_cols=["lang", "source"],
    )

    res.clusters.write.mode("overwrite").parquet(f"{args.output}/clusters")
    golden.drop("fp", "lenb").write.mode("overwrite").parquet(f"{args.output}/golden")
    res.release()

    n_docs = records.count()
    n_golden = spark.read.parquet(f"{args.output}/golden").count()
    multi = (
        spark.read.parquet(f"{args.output}/clusters")
        .groupBy("cluster_id").count().where(F.col("count") > 1).count()
    )
    print(json.dumps({
        "n_records": n_docs,
        "n_golden_records": n_golden,
        "n_multi_record_clusters": multi,
        "lambda": res.lam,
        "m": res.m,
        "u": res.u,
        "dropped_comparisons": res.dropped_features,
        "em_rounds": res.em_rounds,
        "em_converged": res.em_converged,
        "wall_sec": round(time.time() - t0, 1),
    }))


if __name__ == "__main__":
    main(sys.argv[1:])
