"""End-to-end pipeline: F1 ≥ 0.99 on labeled same-block pairs
(BASELINE.json metric), cluster recovery, and checkpoint resume
(SURVEY.md §5.2.4-5)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dedupe_spark import evaluate
from dedupe_spark.pipeline import STAGES, PipelineConfig, run_pipeline


@pytest.fixture(scope="module")
def pipe(spark, corpus, tmp_path_factory):
    work = str(tmp_path_factory.mktemp("pipe"))
    out = run_pipeline(spark, corpus, work)
    return work, out


def test_pipeline_f1(spark, corpus, pipe):
    _, out = pipe
    truth = (
        corpus.select(F.xxhash64("url").alias("doc_id"), "truth_key")
    )
    doc_keys = evaluate.doc_level_keys(out["s2_exact"], out["s3_keys"])
    labeled = evaluate.labeled_same_block_pairs(doc_keys, truth)
    metrics = evaluate.pairwise_f1(labeled, out["s7_clusters"])
    assert metrics["n_labeled_pairs"] > 100
    assert metrics["f1"] >= 0.99, metrics


def test_exact_dup_clusters_recovered(spark, corpus, pipe):
    """Every planted exact-dup cluster must land in one final cluster."""
    _, out = pipe
    truth = corpus.select(F.xxhash64("url").alias("doc_id"), "truth_key")
    joined = out["s7_clusters"].join(truth, "doc_id")
    spread = (
        joined.where(F.col("truth_key").startswith("exact:") | (F.col("truth_key") == "hot"))
        .groupBy("truth_key")
        .agg(F.countDistinct("cluster_id").alias("n"))
        .where(F.col("n") > 1)
        .count()
    )
    assert spread == 0


def test_hot_block_collapsed_before_pairs(spark, corpus, pipe):
    """The 30-member boilerplate cluster must cost zero pairwise work:
    exact dups collapse to one representative in S2."""
    _, out = pipe
    truth = corpus.select(F.xxhash64("url").alias("doc_id"), "truth_key")
    hot_reps = (
        out["s2_exact"].join(truth, "doc_id")
        .where(F.col("truth_key") == "hot")
        .select("rep_id")
        .distinct()
        .count()
    )
    assert hot_reps == 1


def test_all_docs_assigned(spark, corpus, pipe):
    _, out = pipe
    assert out["s7_clusters"].count() == corpus.count()
    assert out["s7_clusters"].select("doc_id").distinct().count() == corpus.count()


def test_f1_across_seeds(spark, tmp_path):
    """§5.2.6: the F1 invariant must hold for corpora other than the
    fixture seed."""
    from dedupe_spark.corpus import generate_pages

    for seed in (7, 1234):
        pages = generate_pages(spark, 400, seed=seed)
        out = run_pipeline(spark, pages, str(tmp_path / f"s{seed}"))
        truth = pages.select(F.xxhash64("url").alias("doc_id"), "truth_key")
        labeled = evaluate.labeled_same_block_pairs(
            evaluate.doc_level_keys(out["s2_exact"], out["s3_keys"]), truth
        )
        m = evaluate.pairwise_f1(labeled, out["s7_clusters"])
        assert m["f1"] >= 0.99, (seed, m)


def test_pipeline_with_extra_key_families(spark, tmp_path):
    """The ngram+domain preset must run end-to-end and keep F1."""
    from dedupe_spark.corpus import generate_pages

    pages = generate_pages(spark, 300, seed=5)
    cfg = PipelineConfig(use_ngrams=True, use_domain=True)
    out = run_pipeline(spark, pages, str(tmp_path / "preset"), config=cfg)
    truth = pages.select(F.xxhash64("url").alias("doc_id"), "truth_key")
    labeled = evaluate.labeled_same_block_pairs(
        evaluate.doc_level_keys(out["s2_exact"], out["s3_keys"]), truth
    )
    m = evaluate.pairwise_f1(labeled, out["s7_clusters"])
    # domain keys add non-dup same-domain pairs to the labeled set;
    # precision of the final clusters must not degrade
    assert m["precision"] == 1.0, m
    assert m["recall"] >= 0.99, m


def test_resume_skips_completed_stages(spark, corpus, tmp_path):
    work = str(tmp_path / "resume")
    # run only through s4 (simulated kill)
    first = run_pipeline(spark, corpus, work, stop_after="s4_pairs")
    assert not first.skipped["s1_docs"]
    # resume: s1-s4 must be skipped, rest computed
    second = run_pipeline(spark, corpus, work)
    skipped = second.skipped
    assert all(skipped[s] for s in ["s1_docs", "s2_exact", "s3_keys", "s4_pairs"])
    assert not skipped["s7_clusters"]
    # identical final output vs a fresh uninterrupted run
    fresh = run_pipeline(spark, corpus, str(tmp_path / "fresh"))
    a = {(r["doc_id"], r["cluster_id"]) for r in second["s7_clusters"].collect()}
    b = {(r["doc_id"], r["cluster_id"]) for r in fresh["s7_clusters"].collect()}
    assert a == b


def test_partial_write_without_marker_recomputed(spark, corpus, tmp_path):
    """A stage data dir WITHOUT its completion marker (crash mid-write)
    must be recomputed, not trusted — the marker-written-last protocol."""
    import os

    work = str(tmp_path / "partial")
    first = run_pipeline(spark, corpus, work, stop_after="s2_exact")
    assert not first.skipped["s2_exact"]
    # simulate crash: drop s2's marker but keep its (possibly torn) data
    os.remove(f"{work}/_checkpoint_s2_exact.json")
    second = run_pipeline(spark, corpus, work, stop_after="s2_exact")
    assert second.skipped["s1_docs"]
    assert not second.skipped["s2_exact"]  # recomputed


def test_lineage_counters_written(spark, corpus, pipe):
    work, out = pipe
    ckpt = spark.read.parquet(f"{work}/checkpoints")
    stages = {r["stage"] for r in ckpt.select("stage").distinct().collect()}
    assert {"s1_docs", "s4_pairs", "s7_clusters"} <= stages
    assert ckpt.where(F.col("status") != "complete").count() == 0
    # per-partition rows_out sums to the stage row count
    s1_total = (
        ckpt.where(F.col("stage") == "s1_docs").agg(F.sum("rows_out")).collect()[0][0]
    )
    assert s1_total == out["s1_docs"].count()


def test_stop_after_s7_skips_report(spark, corpus, tmp_path):
    out = run_pipeline(spark, corpus, str(tmp_path / "s7"), stop_after="s7_clusters")
    assert "s7_clusters" in out and "s8_report" not in out


def test_csv_report_sink(spark, corpus, tmp_path):
    """S9 (DedupeJarTest.java:47-103): the cluster report lands as ONE
    csv file with a header, sorted, parseable."""
    import csv

    from dedupe_spark.sources.report import write_csv_report

    out = run_pipeline(spark, corpus, str(tmp_path / "rep"))
    path = str(tmp_path / "report.csv")
    write_csv_report(out["s8_report"], path, order_by=["cluster_id"])
    with open(path) as f:
        rows = list(csv.DictReader(f))
    assert len(rows) == out["s8_report"].count()
    assert set(rows[0].keys()) == {"cluster_id", "members"}
    assert all(int(r["members"]) >= 2 for r in rows)
    ids = [int(r["cluster_id"]) for r in rows]
    assert ids == sorted(ids)


def test_csv_report_sink_max_rows_guard(spark, tmp_path):
    from dedupe_spark.sources.report import write_csv_report

    with pytest.raises(ValueError):
        write_csv_report(spark.range(100), str(tmp_path / "r.csv"), max_rows=10)


def test_cluster_exactness_agrees_with_pairwise_f1(spark, corpus, pipe):
    """The linear exactness check must agree with pairwise F1: both
    violation counts zero on the fixture (where F1 is proven 1.0), and
    a deliberately broken clustering must trip it."""
    _, out = pipe
    truth = corpus.select(F.xxhash64("url").alias("doc_id"), "truth_key")
    ex = evaluate.cluster_exactness(out["s7_clusters"], truth)
    assert ex == {
        "split_truth_clusters": 0,
        "impure_pred_clusters": 0,
        "missing_docs": 0,
    }
    # a lossy clustering (rows dropped) must be flagged, not pass
    lossy = out["s7_clusters"].limit(out["s7_clusters"].count() - 10)
    assert evaluate.cluster_exactness(lossy, truth)["missing_docs"] == 10
    # break it: force every doc into its own cluster → dup clusters split
    broken = out["s7_clusters"].select("doc_id", F.col("doc_id").alias("cluster_id"))
    ex2 = evaluate.cluster_exactness(broken, truth)
    assert ex2["split_truth_clusters"] > 0
    # break the other way: one giant cluster → impurity
    lumped = out["s7_clusters"].select("doc_id", F.lit(1).alias("cluster_id"))
    ex3 = evaluate.cluster_exactness(lumped, truth)
    assert ex3["impure_pred_clusters"] > 0


def test_scalable_f1_equals_materialized_f1(spark, corpus, pipe):
    """pairwise_f1_scalable must return the exact same counts as the
    pair-materializing evaluator on a corpus where both run."""
    _, out = pipe
    truth = corpus.select(F.xxhash64("url").alias("doc_id"), "truth_key")
    labeled = evaluate.labeled_same_block_pairs(
        evaluate.doc_level_keys(out["s2_exact"], out["s3_keys"]), truth
    )
    dense = evaluate.pairwise_f1(labeled, out["s7_clusters"])
    fast = evaluate.pairwise_f1_scalable(
        out["s2_exact"], out["s3_keys"], truth, out["s7_clusters"]
    )
    for k in ("tp", "fp", "fn", "n_labeled_pairs", "precision", "recall", "f1"):
        assert fast[k] == dense[k], (k, fast[k], dense[k])
    assert fast["mixed_md5_groups"] == 0


def test_scalable_f1_detects_broken_clustering(spark, corpus, pipe):
    """Same agreement must hold when the clustering is WRONG (fp/fn
    nonzero), as long as md5 groups stay cluster-uniform (the
    decomposition's precondition; violations are flagged via
    mixed_md5_groups)."""
    _, out = pipe
    truth = corpus.select(F.xxhash64("url").alias("doc_id"), "truth_key")
    labeled = evaluate.labeled_same_block_pairs(
        evaluate.doc_level_keys(out["s2_exact"], out["s3_keys"]), truth
    )
    # FN case: split along md5 boundaries (cluster = rep) — near-dup
    # truth clusters spanning several md5 groups come apart
    split = out["s2_exact"].select("doc_id", F.col("rep_id").alias("cluster_id"))
    dense = evaluate.pairwise_f1(labeled, split)
    fast = evaluate.pairwise_f1_scalable(out["s2_exact"], out["s3_keys"], truth, split)
    for k in ("tp", "fp", "fn", "n_labeled_pairs"):
        assert fast[k] == dense[k], (k, fast[k], dense[k])
    assert fast["fn"] > 0 and fast["f1"] < 1.0
    # FP case: everything in one giant cluster
    lumped = out["s7_clusters"].select("doc_id", F.lit(1).alias("cluster_id"))
    dense = evaluate.pairwise_f1(labeled, lumped)
    fast = evaluate.pairwise_f1_scalable(out["s2_exact"], out["s3_keys"], truth, lumped)
    for k in ("tp", "fp", "fn", "n_labeled_pairs"):
        assert fast[k] == dense[k], (k, fast[k], dense[k])
    assert fast["fp"] > 0


def test_scalable_f1_refuses_invalid_decomposition(spark, corpus, pipe):
    """Non-uniform md5 groups or dropped docs must raise, never return
    a silently-wrong F1."""
    _, out = pipe
    truth = corpus.select(F.xxhash64("url").alias("doc_id"), "truth_key")
    # split identical content: every doc its own cluster
    per_doc = out["s7_clusters"].select("doc_id", F.col("doc_id").alias("cluster_id"))
    with pytest.raises(ValueError, match="not truth/cluster-uniform"):
        evaluate.pairwise_f1_scalable(out["s2_exact"], out["s3_keys"], truth, per_doc)
    # lossy clustering: rows missing entirely
    lossy = out["s7_clusters"].limit(out["s7_clusters"].count() - 5)
    with pytest.raises(ValueError, match="missing from the clustering"):
        evaluate.pairwise_f1_scalable(out["s2_exact"], out["s3_keys"], truth, lossy)


def test_resume_runs_no_jobs(spark, corpus, tmp_path):
    """A rerun over a fully committed work dir reads every stage with the
    schema its marker recorded and builds none, so it starts no Spark
    job (no schema inference, no capped-block audit, no extraction)."""
    work = str(tmp_path / "resume_jobs")
    run_pipeline(spark, corpus, work)
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    out = run_pipeline(spark, corpus, work)
    after = set(tracker.getJobIdsForGroup(None))
    assert all(out.skipped[s] for s in STAGES), out.skipped
    assert after - before == set()


def test_bad_stop_after_raises_before_any_stage(spark, corpus, tmp_path):
    """A stop_after outside STAGES is refused before anything runs; it
    never falls through to a full run."""
    work = tmp_path / "bad_stop"
    for bad in ("s6_scored", "s4_pair"):
        with pytest.raises(ValueError, match="stop_after"):
            run_pipeline(spark, corpus, str(work), stop_after=bad)
    assert not work.exists()


def test_s5_features_match_python_twins(spark, corpus, pipe):
    """Every committed s5 row equals the pure-Python feature twins on the
    collected texts: jaro_winkler on 128-char prefixes, token_jaccard,
    tfidf_cosine, the length ratio, DuckDB levenshtein on 256-char
    prefixes for lev_ratio — and the score is the comparator over them."""
    import math

    import duckdb
    import pandas as pd

    from dedupe_spark.functions.similarity import jaro_winkler, tfidf_cosine, token_jaccard
    from dedupe_spark.operators import scoring

    _, out = pipe
    text = {r["doc_id"]: r["text"] for r in out["s1_docs"].select("doc_id", "text").collect()}
    rows = out["s5_scored"].collect()
    assert len(rows) == out["s4_pairs"].count() and len(rows) > 50
    assert sum(r["score"] >= scoring.DEFAULT_THRESHOLD for r in rows) > 50
    assert all(t.isascii() for t in text.values())  # DuckDB levenshtein counts bytes
    pairs = pd.DataFrame(
        [(r["id1"], r["id2"], text[r["id1"]], text[r["id2"]]) for r in rows],
        columns=["id1", "id2", "t1", "t2"],
    )
    lev = {
        (a, b): d
        for a, b, d in duckdb.sql(
            "select id1, id2, levenshtein(left(t1, 256), left(t2, 256)) from pairs"
        ).fetchall()
    }
    for r in rows:
        t1, t2 = text[r["id1"]], text[r["id2"]]
        max_len = max(len(t1[:256]), len(t2[:256]))
        want = {
            "jaro_winkler": jaro_winkler(t1[:128], t2[:128]),
            "lev_ratio": 1.0 - lev[(r["id1"], r["id2"])] / max_len if max_len else 1.0,
            "jaccard3": token_jaccard(t1, t2),
            "tf_cosine": tfidf_cosine(t1, t2),
            "len_ratio": min(len(t1), len(t2)) / max(len(t1), len(t2)) if t1 or t2 else 1.0,
        }
        for name, w in want.items():
            assert abs(r[name] - w) <= 1e-12, (name, r, w)
        z = scoring.DEFAULT_BIAS + sum(scoring.DEFAULT_WEIGHTS[k] * w for k, w in want.items())
        assert abs(r["score"] - 1.0 / (1.0 + math.exp(-z))) <= 1e-12


def test_s5_build_runs_no_path_gate_job(spark, corpus, tmp_path):
    """Building s5 from a committed s4 starts no job beyond reading the
    committed stages and writing s5: there is one scoring path, so no
    representative count picks between two (with that count it was 8
    jobs on this corpus). AQE is off for the s5 build because its
    query-stage job count for one plan differed by one between an
    isolated run and a full-suite run."""
    work = str(tmp_path / "s5jobs")
    run_pipeline(spark, corpus, work, stop_after="s4_pairs")
    tracker = spark.sparkContext.statusTracker()
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        before = tracker.getJobIdsForGroup(None)
        out = run_pipeline(spark, corpus, work, stop_after="s5_scored")
        after = tracker.getJobIdsForGroup(None)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert out.skipped["s4_pairs"] and not out.skipped["s5_scored"]
    assert len(after) - len(before) <= 7, (before, after)


def test_meta_blocking_cnp_preserves_f1(spark, corpus, pipe, tmp_path):
    """CNP prune (meta_blocking_cnp_k=2) may only drop weakly-vouched
    candidates: the pair budget shrinks (or holds) and F1 stays 1.0 —
    duplicate pairs co-occur in many band blocks, so they always rank
    inside each other's top-k."""
    _, base_out = pipe
    n_base = base_out["s4_pairs"].count()
    out = run_pipeline(
        spark,
        corpus,
        str(tmp_path / "cnp"),
        config=PipelineConfig(meta_blocking_cnp_k=2),
    )
    n_cnp = out["s4_pairs"].count()
    assert n_cnp <= n_base
    truth = corpus.select(F.xxhash64("url").alias("doc_id"), "truth_key")
    doc_keys = evaluate.doc_level_keys(out["s2_exact"], out["s3_keys"])
    labeled = evaluate.labeled_same_block_pairs(doc_keys, truth)
    metrics = evaluate.pairwise_f1(labeled, out["s7_clusters"])
    assert metrics["f1"] == 1.0, metrics


def test_capped_blocks_warn_through_logging(spark, corpus, tmp_path, caplog, capsys):
    """Capped blocks are reported as a logging WARNING, not printed."""
    import logging

    with caplog.at_level(logging.WARNING, logger="dedupe_spark.pipeline"):
        run_pipeline(
            spark,
            corpus,
            str(tmp_path / "capped"),
            config=PipelineConfig(max_block_size=1),
            stop_after="s4_pairs",
        )
    capped = [
        r for r in caplog.records
        if r.name == "dedupe_spark.pipeline" and "were capped" in r.getMessage()
    ]
    assert len(capped) == 1 and capped[0].levelno == logging.WARNING
    assert int(capped[0].getMessage().split()[0]) > 0
    assert "capped" not in capsys.readouterr().out


def test_full_run_leaves_no_persisted_rdd(spark, corpus, tmp_path):
    """A full run releases everything it persisted, including the edge
    cache of the driver-finished connected-components call."""
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    run_pipeline(spark, corpus, str(tmp_path / "leak"))
    assert jsc.getPersistentRDDs().size() == before
