"""End-to-end unsupervised linkage: EM-parameterized Fellegi–Sunter
over blocked candidates recovers planted entities exactly; constant
(uninformative) comparisons are dropped, not mis-weighted."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from dedupe_spark.linkage import LinkageConfig, link_records


def _planted(spark, n_entities=60, seed=17):
    """Entities with 1-3 records each; records of one entity share
    source/lenb/fpx; lang carries 15% typo noise; 'const' is the same
    everywhere (uninformative by construction)."""
    rng = random.Random(seed)
    rows, truth = [], {}
    doc_id = 0
    for e in range(n_entities):
        lang = rng.choice(["en", "de", "fr", "es"])
        source = f"s{e % 7}"
        lenb = e % 12
        fpx = f"fp{e:04d}"
        for _ in range(rng.randint(1, 3)):
            doc_id += 1
            lg = lang if rng.random() > 0.15 else rng.choice(["en", "de", "fr", "es"])
            rows.append((doc_id, lg, source, lenb, fpx, "same"))
            truth[doc_id] = e
    df = spark.createDataFrame(
        rows, "doc_id long, lang string, source string, lenb long, fpx string, const string"
    )
    return df, truth


def _keys(records):
    # two families: coarse length bucket (collides across entities) and
    # the fingerprint proxy (collides within an entity)
    return records.select(
        "doc_id", F.concat(F.lit("len:"), F.col("lenb").cast("string")).alias("block_key")
    ).unionByName(
        records.select("doc_id", F.concat(F.lit("fp:"), F.col("fpx")).alias("block_key"))
    )


def _cluster_sets(rows):
    by_c: dict = {}
    for doc, c in rows:
        by_c.setdefault(c, set()).add(doc)
    return {frozenset(v) for v in by_c.values()}


def test_linkage_recovers_entities_and_drops_constant(spark):
    records, truth = _planted(spark)
    cfg = LinkageConfig(
        compare_cols=["lang", "source", "lenb", "fpx", "const"], threshold=0.9
    )
    res = link_records(records, _keys(records), cfg)
    assert "const" in res.dropped_features       # m <= u by construction
    assert "fpx" not in res.dropped_features
    got = _cluster_sets(
        (r["doc_id"], r["cluster_id"]) for r in res.clusters.collect()
    )
    exp: dict = {}
    for doc, e in truth.items():
        exp.setdefault(e, set()).add(doc)
    assert got == {frozenset(v) for v in exp.values()}
    # EM landed on a sane mixture: matches are the minority class and
    # the discriminating feature got a near-ceiling m
    assert 0.0 < res.lam < 0.5
    assert res.m["agree_fpx"] > 0.9 > res.u["agree_fpx"]


def test_linkage_cnp_prune_same_clusters(spark):
    records, _ = _planted(spark)
    base = link_records(
        records, _keys(records), LinkageConfig(compare_cols=["lang", "source", "fpx"])
    )
    pruned = link_records(
        records,
        _keys(records),
        LinkageConfig(compare_cols=["lang", "source", "fpx"], cnp_k=3),
    )
    a = _cluster_sets((r["doc_id"], r["cluster_id"]) for r in base.clusters.collect())
    b = _cluster_sets((r["doc_id"], r["cluster_id"]) for r in pruned.clusters.collect())
    assert a == b


def test_linkage_validation(spark):
    records, _ = _planted(spark, n_entities=5)
    with pytest.raises(ValueError):
        link_records(records, _keys(records), LinkageConfig(compare_cols=[]))


def test_release_frees_the_agreement_checkpoint(spark):
    """Two link_records calls, each released after its clusters are
    read, leave the persisted-RDD count where it started (at most: the
    JVM's ContextCleaner may free other tests' leftovers meanwhile)."""
    records, _ = _planted(spark)
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    for _ in range(2):
        res = link_records(
            records, _keys(records), LinkageConfig(compare_cols=["lang", "source", "fpx"])
        )
        assert res.em_converged and 0 < res.em_rounds < LinkageConfig().em_iters
        res.clusters.collect()
        res.release()
    assert jsc.getPersistentRDDs().size() <= before


def test_link_records_job_on_testdata(spark, tmp_path):
    """The CLI composition on the fixed sf0.01 documents table must
    recover the token-fingerprint duplicate structure exactly: 446
    golden records (the distinct-fingerprint count the golden_records
    oracle pins) and 21 multi-record clusters (17 pairs, 2 triples,
    one 6-group, one 29-group) — EM + literal-weight scoring are
    RNG-free, so this is deterministic."""
    import json
    import os
    import subprocess
    import sys

    out = str(tmp_path / "linked")
    env = dict(os.environ)
    r = subprocess.run(
        [sys.executable, "jobs/link_records.py",
         "--input", "/root/testdata/sf0.01/documents.parquet",
         "--output", out, "--cores", "8"],
        capture_output=True, text=True, timeout=480, env=env,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    stats = json.loads(r.stdout.strip().splitlines()[-1])
    assert stats["n_records"] == 500
    assert stats["n_golden_records"] == 446
    assert stats["n_multi_record_clusters"] == 21
    assert stats["dropped_comparisons"]  # blocking-correlated lenb at least
    assert os.path.isdir(f"{out}/clusters") and os.path.isdir(f"{out}/golden")
