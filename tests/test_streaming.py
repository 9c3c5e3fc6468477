"""Structured Streaming: incremental exact dedupe (availableNow),
restart idempotence, watermarked window rollup."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dedupe_spark.corpus import generate_pages
from dedupe_spark.streaming.incremental import (
    page_rate,
    run_incremental_exact_dedupe,
    stream_pages,
)


@pytest.fixture(scope="module")
def paged_input(spark, tmp_path_factory):
    """Two parquet 'arrival' slices of the same corpus with overlap."""
    base = tmp_path_factory.mktemp("stream_in")
    pages = generate_pages(spark, 300, seed=11).cache()
    d = str(base / "pages")
    pages.where(F.col("warc_ts") < "2026-01-01 03:00:00").write.mode("append").parquet(d)
    first_files = len(list((base / "pages").glob("part-*")))
    pages.where(F.col("warc_ts") >= "2026-01-01 03:00:00").write.mode("append").parquet(d)
    return d, pages, first_files


def test_incremental_dedupe_drain_and_restart(spark, paged_input, tmp_path):
    input_dir, pages, _ = paged_input
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    run_incremental_exact_dedupe(spark, input_dir, store, ckpt)
    out1 = spark.read.parquet(store)
    n_distinct = (
        pages.select(F.md5(F.col("text")).alias("h")).distinct().count()
    )
    assert out1.select("content_md5").distinct().count() == n_distinct
    # one representative per content key (no duplicate keys in store)
    assert out1.count() == n_distinct
    # restart with same checkpoint: nothing new arrives → store unchanged
    run_incremental_exact_dedupe(spark, input_dir, store, ckpt)
    assert spark.read.parquet(store).count() == n_distinct


def test_page_rate_window_counts(spark, paged_input):
    input_dir, pages, _ = paged_input
    stream = stream_pages(spark, input_dir)
    assert stream.isStreaming
    q = (
        page_rate(stream, window="60 minutes", watermark="0 seconds")
        .writeStream.format("memory")
        .queryName("rate_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql(
        "select window_start, lang, n_pages from rate_test"
    ).collect()
    want = {
        (r["ws"], r["lang"]): r["n"]
        for r in pages.groupBy(
            F.date_trunc("hour", "warc_ts").alias("ws"), "lang"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    got_map = {(r["window_start"], r["lang"]): r["n_pages"] for r in got}
    # append mode emits only windows the watermark has closed; every
    # emitted window must match the batch truth exactly
    assert len(got_map) > 0
    for k, v in got_map.items():
        assert want[k] == v


def test_incremental_dedupe_corrupt_key_index_fails_loudly(spark, paged_input, tmp_path):
    """A broken key index must raise, never silently skip the anti-join
    (silent skip would re-admit already-seen content keys)."""
    input_dir, _, _ = paged_input
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    run_incremental_exact_dedupe(spark, input_dir, store, ckpt)
    # corrupt the key index: replace a part file with garbage bytes
    import glob
    import os

    part = glob.glob(os.path.join(store + "_keys", "batch=*", "part-*.parquet"))[0]
    with open(part, "wb") as f:
        f.write(b"this is not parquet")
    with pytest.raises(Exception):
        run_incremental_exact_dedupe(spark, input_dir, store, str(tmp_path / "ckpt2"))


def test_read_keys_missing_path_returns_none(spark, tmp_path):
    from dedupe_spark.streaming.incremental import _read_keys_if_exists

    assert _read_keys_if_exists(spark, str(tmp_path / "nope")) is None


def test_redrain_with_fresh_checkpoint_preserves_store(spark, tmp_path):
    """A second drain with a NEW checkpoint dir restarts micro-batch
    ids at 0; its writes must not overwrite the first run's partitions
    (regression: batch=<id> naming without a per-checkpoint tag
    destroyed previously deduped content)."""
    pages = generate_pages(spark, 200, seed=31).cache()
    in1 = str(tmp_path / "in1")
    in2 = str(tmp_path / "in2")
    # two disjoint input slices, as if the queue was consumed between runs
    pages.where(F.col("warc_ts") < "2026-01-01 02:00:00").write.parquet(in1)
    pages.where(F.col("warc_ts") >= "2026-01-01 02:00:00").write.parquet(in2)
    store = str(tmp_path / "store")
    run_incremental_exact_dedupe(spark, in1, store, str(tmp_path / "ck1"))
    n1 = spark.read.parquet(store).count()
    run_incremental_exact_dedupe(spark, in2, store, str(tmp_path / "ck2"))
    out = spark.read.parquet(store)
    n_distinct = pages.select(F.md5(F.col("text"))).distinct().count()
    assert out.select("content_md5").distinct().count() == n_distinct
    assert out.count() >= n1  # first run's rows still present


def test_missing_key_index_is_rebuilt_from_store(spark, tmp_path):
    """Losing <store>_keys must not silently re-admit seen content —
    the index is bootstrapped from the store before draining."""
    import shutil

    pages = generate_pages(spark, 150, seed=33).cache()
    d = str(tmp_path / "in")
    pages.write.parquet(d)
    store = str(tmp_path / "store")
    run_incremental_exact_dedupe(spark, d, store, str(tmp_path / "ck1"))
    n_distinct = pages.select(F.md5(F.col("text"))).distinct().count()
    shutil.rmtree(store + "_keys")
    # re-drain same input with a fresh checkpoint: all keys already in
    # the store → nothing may be re-admitted
    run_incremental_exact_dedupe(spark, d, store, str(tmp_path / "ck2"))
    assert spark.read.parquet(store).count() == n_distinct


def test_legacy_flat_store_layout_rejected(spark, tmp_path):
    pages = generate_pages(spark, 20, seed=34)
    d = str(tmp_path / "in")
    pages.write.parquet(d)
    store = str(tmp_path / "store")
    # fake a legacy flat store: part files directly under store_dir
    spark.range(3).write.parquet(store)
    with pytest.raises(ValueError, match="legacy flat layout"):
        run_incremental_exact_dedupe(spark, d, store, str(tmp_path / "ck"))
