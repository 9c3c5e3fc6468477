"""The workloads: each drives the package's public entry points on its
cached input, checks the output against planted truth, and has a traced
variant that times the calls into each layer.

Interface used by run.py:

* ``load()``      read the input (part of set-up)
* ``reset()``     untimed preparation before an iteration
* ``iterate()``   the timed call; returns the input rows it processed
* ``check()``     (quality, counts) on the last iteration's output
* ``trace(t)``    traced calls under Tracer ``t``; returns a list of
  problems found in their output (empty when correct)
* ``layers(t, untraced)``  per-layer metrics from the attributed spans,
  given the wall of an untraced iteration
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from dedupe_spark.pipeline import STAGES, PipelineConfig, run_pipeline
from inputs import STREAM_CHUNKS as DRAINS  # one drain per arrival chunk

SPANS = (*STAGES, *(f"drain.{i}" for i in range(DRAINS)), "linkage", "golden")

# Per-layer metrics printed by a traced run, in BENCHMARK.json order.
# A layer the workload does not reach reads 0. Values in "count" and
# "bool" units must repeat exactly across runs of one seed; a job count
# depends on the plan as well as the data, so it has a unit of its own.
PER_LAYER = [
    ("s1_docs.wall_s", "s"), ("s1_docs.rows", "count"), ("udf.extract_s", "s"),
    ("s2_exact.wall_s", "s"), ("s2_exact.reps", "count"),
    ("s3_keys.wall_s", "s"), ("s3_keys.rows", "count"), ("udf.sketch_s", "s"),
    ("s4_pairs.wall_s", "s"), ("s4_pairs.pairs", "count"),
    ("s4_pairs.capped_blocks", "count"), ("s4_pairs.shuffle_mb", "MB"),
    ("s5_scored.wall_s", "s"), ("s5_scored.pairs_per_s", "1/s"),
    ("s5_scored.doc_major", "bool"), ("s5_scored.prep_used_ratio", "ratio"),
    ("udf.doc_prep_s", "s"), ("udf.pair_text_s", "s"), ("udf.jaro_winkler_s", "s"),
    ("s7_clusters.wall_s", "s"), ("s7_clusters.matches", "count"),
    ("s7_clusters.pair_yield", "ratio"),
    ("s8_report.wall_s", "s"), ("s8_report.dup_clusters", "count"),
    *((f"drain.{i}.wall_s", "s") for i in range(DRAINS)),
    ("store.rows", "count"), ("index_bytes_per_store_byte", "ratio"),
    ("drain.shuffle_mb", "MB"), ("drain.f1", "ratio"),
    ("linkage.wall_s", "s"), ("linkage.pairs", "count"), ("linkage.jobs", "jobs"),
    ("linkage.dropped_features", "count"),
    ("golden.wall_s", "s"),
    *((f"{s}.{k}", "s") for s in SPANS for k in ("task_s", "gc_s")),
    ("trace.overhead_s", "s"),
]

# the streaming drains keep one page per planted group, less the near
# duplicates their simhash / MinHash refine misses
DRAIN_MIN_F1 = 0.8


def force(df) -> None:
    """Evaluate every row and column of ``df`` without storing it."""
    df.write.format("noop").mode("overwrite").save()


def _pairs_in_groups(df, cols) -> int:
    n = df.groupBy(*cols).count()
    return int(n.agg(F.coalesce(F.sum(F.col("count") * (F.col("count") - 1) / 2), F.lit(0))).first()[0])


def _f1(tp: int, pred: int, true: int) -> dict:
    p = tp / pred if pred else 1.0
    r = tp / true if true else 1.0
    return {"precision": p, "recall": r, "f1": 2 * p * r / (p + r) if p + r else 0.0}


def _du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def _span_metrics(m: dict, span: dict) -> None:
    for k in ("wall_s", "task_s", "gc_s"):
        m[f"{span['name']}.{k}"] = span[k]
    for fam, sec in span["udf_s"].items():
        m[f"udf.{fam}_s"] = m.get(f"udf.{fam}_s", 0.0) + sec


class Workload:
    # Iterations after the cold one that count as set-up, because their
    # walls still fall steeply while the JIT compiles the code Spark
    # generates for each query; then the measured ones, of which the
    # run reports the fastest. Every further iteration costs 5-8 s a
    # run, which the time budget for the whole set of runs cannot spare.
    warmup_iterations: int
    warm_iterations = 2

    def __init__(self, spark, inputs: str, table_rows: dict[str, int], work: str):
        self.spark = spark
        self.inputs = inputs
        self.work = work

    def _read(self, table: str):
        return self.spark.read.parquet(os.path.join(self.inputs, table))


class ErPages(Workload):
    """Pages through ``run_pipeline`` with the default (full-commit)
    config; F1 from pairwise_f1_scalable. The traced run also drains the
    same pages, in arrival chunks, through the streaming path."""

    # the second iteration is already within 20% of the later ones
    warmup_iterations = 0

    def __init__(self, spark, inputs, table_rows, work):
        super().__init__(spark, inputs, table_rows, work)
        self.cfg = PipelineConfig()
        self.rows = table_rows["pages"]
        self.wd = os.path.join(work, "pipeline")

    def load(self) -> None:
        self.pages = self._read("pages")
        self.truth = self._read("truth")

    def reset(self) -> None:
        shutil.rmtree(self.wd, ignore_errors=True)

    def iterate(self) -> int:
        self.out = run_pipeline(self.spark, self.pages, self.wd, config=self.cfg)
        return self.rows

    def check(self) -> tuple[dict, dict]:
        from dedupe_spark.evaluate import pairwise_f1_scalable

        out = self.out
        truth = out["s1_docs"].select("doc_id", "url").join(self.truth, "url")
        q = pairwise_f1_scalable(
            out["s2_exact"], out["s3_keys"], truth.select("doc_id", "truth_key"), out["s7_clusters"]
        )
        counts = {k: q[k] for k in ("tp", "fp", "fn", "n_labeled_pairs")}
        counts["pairs"] = out["s5_scored"].count()
        counts["dup_clusters"] = out["s8_report"].count()
        return q, counts

    # -- traced run ---------------------------------------------------
    def trace(self, tracer) -> list[str]:
        self._trace_stages(tracer)
        return self._trace_drains(tracer)

    def _trace_stages(self, tracer) -> None:
        """One call per stop_after value: each computes one new stage
        and resumes the committed ones."""
        from dedupe_spark.operators.pairs import generate_pairs
        from dedupe_spark.operators.scoring import matches

        c = self.counts = {}
        self.reset()
        for st in STAGES:
            with tracer.span(st):
                out = run_pipeline(self.spark, self.pages, self.wd, config=self.cfg, stop_after=st)
            if st == "s5_scored":  # the size gate's choice, set when s5 is built
                c["s5_scored.doc_major"] = int(bool(out.get("_doc_major")))
        # row counts, outside the spans, on the committed stages
        exact, keys, pairs = out["s2_exact"], out["s3_keys"], out["s4_pairs"]
        c["s1_docs.rows"] = out["s1_docs"].count()
        c["s2_exact.reps"] = exact.where(F.col("doc_id") == F.col("rep_id")).count()
        c["s3_keys.rows"] = keys.count()
        cfg = self.cfg
        c["s4_pairs.capped_blocks"] = generate_pairs(
            keys, hot_threshold=cfg.hot_threshold, salt_buckets=cfg.salt_buckets,
            max_block_size=cfg.max_block_size,
        )[1].count()
        c["s4_pairs.pairs"] = pairs.count()
        used = pairs.select(F.col("id1").alias("i")).union(pairs.select("id2")).distinct().count()
        c["s5_scored.prep_used_ratio"] = used / max(1, c["s2_exact.reps"])
        c["s7_clusters.matches"] = matches(out["s5_scored"], self.cfg.threshold).count()
        c["s7_clusters.pair_yield"] = c["s7_clusters.matches"] / max(1, c["s4_pairs.pairs"])
        c["s8_report.dup_clusters"] = out["s8_report"].count()

    def _trace_drains(self, tracer) -> list[str]:
        """The chunks land one after another in an input dir, each after
        ``run_incremental_near_dedupe`` drained the previous one into a
        fresh store (a closed loop). Quality: exactly one survivor per
        planted truth group is correct; a drop is a true positive unless
        it removed a group's last page."""
        from dedupe_spark.streaming.incremental import run_incremental_near_dedupe

        base = os.path.join(self.work, "stream")
        store, landing = os.path.join(base, "store"), os.path.join(base, "in")
        os.makedirs(landing)
        for i in range(DRAINS):
            d = os.path.join(self.inputs, f"chunk{i}")
            for f in os.listdir(d):
                if f.endswith(".parquet"):
                    os.link(os.path.join(d, f), os.path.join(landing, f"c{i}_{f}"))
            with tracer.span(f"drain.{i}"):
                # the corpus spans days of event time; a short watermark
                # would drop later chunks as late data
                run_incremental_near_dedupe(
                    self.spark, landing, store, os.path.join(base, "ckpt"), watermark="3650 days"
                )
        kept = self.spark.read.parquet(store).select("url").withColumn("kept", F.lit(1))
        g = (
            self.truth.join(kept, "url", "left")
            .groupBy("truth_key")
            .agg(F.count(F.lit(1)).alias("n"), F.count("kept").alias("s"))
            .agg(
                F.sum(F.col("n") - 1).alias("expected"),
                F.sum(F.col("n") - F.col("s")).alias("dropped"),
                F.sum(F.least(F.col("n") - F.col("s"), F.col("n") - 1)).alias("tp"),
            )
            .first()
        )
        q = _f1(g["tp"], g["dropped"], g["expected"])
        c = self.counts
        c["drain.f1"] = q["f1"]
        c["store.rows"] = self.rows - g["dropped"]
        index = sum(_du(store + sfx) for sfx in ("_keys", "_lsh", "_mh", "_mhsig"))
        c["index_bytes_per_store_byte"] = index / _du(store)
        if q["precision"] < 1.0 or q["f1"] < DRAIN_MIN_F1:
            return [f"streaming drains: {q}"]
        return []

    def layers(self, tracer, untraced: float) -> dict:
        by = {s["name"]: s for s in tracer.spans}
        m = dict(self.counts)
        for name in (*STAGES, *(f"drain.{i}" for i in range(DRAINS))):
            _span_metrics(m, by[name])
        m["s4_pairs.shuffle_mb"] = by["s4_pairs"]["shuffle_mb"]
        m["s5_scored.pairs_per_s"] = m["s4_pairs.pairs"] / m["s5_scored.wall_s"]
        m["drain.shuffle_mb"] = sum(by[f"drain.{i}"]["shuffle_mb"] for i in range(DRAINS))
        m["trace.overhead_s"] = sum(by[st]["wall_s"] for st in STAGES) - untraced
        return m


class LinkEm(Workload):
    """Planted entities through ``link_records`` (EM-estimated
    Fellegi-Sunter, CC) then ``golden_records``."""

    COMPARE = ["lang", "source", "lenb", "fpx", "const"]
    # Five EM rounds, not the default 15: each round's aggregate is a
    # new query to plan and compile, and the clusters (one per planted
    # entity) are the same from three rounds on.
    EM_ITERS = 5
    # the second iteration is still 10-20% above the later ones
    warmup_iterations = 1

    def __init__(self, spark, inputs, table_rows, work):
        super().__init__(spark, inputs, table_rows, work)
        self.rows = table_rows["records"]
        self.clusters = None

    def load(self) -> None:
        self.records = self._read("records")
        self.truth = self._read("truth")

    def reset(self) -> None:
        if self.clusters is not None:
            self.clusters.unpersist()

    def _link(self) -> None:
        from dedupe_spark.linkage import LinkageConfig, link_records

        r = self.records
        keys = r.select(
            "doc_id", F.concat(F.lit("len:"), F.col("lenb").cast("string")).alias("block_key")
        ).union(r.select("doc_id", F.concat(F.lit("fp:"), F.col("fpx")).alias("block_key")))
        self.res = link_records(r, keys, LinkageConfig(compare_cols=self.COMPARE, em_iters=self.EM_ITERS))
        self.clusters = self.res.clusters.persist()
        self.clusters.count()

    def _golden(self) -> None:
        from dedupe_spark.operators.survivorship import golden_records

        force(
            golden_records(
                self.records.join(self.clusters, "doc_id"), "cluster_id",
                [F.asc("doc_id")], mode_cols=["lang", "source"],
            )
        )

    def iterate(self) -> int:
        self._link()
        self._golden()
        return self.rows

    def check(self) -> tuple[dict, dict]:
        """Pairwise F1 of the clusters against the planted entities."""
        j = self.clusters.join(self.truth, "doc_id")
        counts = {
            "tp": _pairs_in_groups(j, ["cluster_id", "entity"]),
            "pred": _pairs_in_groups(j, ["cluster_id"]),
            "true": _pairs_in_groups(j, ["entity"]),
            "records": j.count(),
        }
        return _f1(counts["tp"], counts["pred"], counts["true"]), counts

    def trace(self, tracer) -> list[str]:
        self.reset()
        with tracer.span("linkage"):
            self._link()
        with tracer.span("golden"):
            self._golden()
        self.counts = {
            "linkage.pairs": self.res.scored.count(),
            "linkage.dropped_features": len(self.res.dropped_features),
        }
        q, _ = self.check()
        return [] if q["f1"] == 1.0 else [f"traced linkage: {q}"]

    def layers(self, tracer, untraced: float) -> dict:
        by = {s["name"]: s for s in tracer.spans}
        m = dict(self.counts)
        for name in ("linkage", "golden"):
            _span_metrics(m, by[name])
        m["linkage.jobs"] = by["linkage"]["jobs"]
        m["trace.overhead_s"] = by["linkage"]["wall_s"] + by["golden"]["wall_s"] - untraced
        return m


WORKLOADS = {"er_pages": ErPages, "link_em": LinkEm}
