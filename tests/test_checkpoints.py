"""StageIO: upsert (MERGE semantics), lineage counters, markers."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dedupe_spark.sources.checkpoints import StageIO


@pytest.fixture()
def io(spark, tmp_path):
    return StageIO(spark, str(tmp_path / "stages"))


def _df(spark, rows):
    return spark.createDataFrame(rows, "id long, v string")


def test_upsert_inserts_then_updates(spark, io):
    io.upsert(_df(spark, [(1, "a"), (2, "b")]), "t", "id")
    got = {(r["id"], r["v"]) for r in io.read("t").collect()}
    assert got == {(1, "a"), (2, "b")}
    # update id=2, insert id=3
    io.upsert(_df(spark, [(2, "B"), (3, "c")]), "t", "id")
    got = {(r["id"], r["v"]) for r in io.read("t").collect()}
    assert got == {(1, "a"), (2, "B"), (3, "c")}


def test_upsert_idempotent(spark, io):
    io.upsert(_df(spark, [(1, "a")]), "t", "id")
    io.upsert(_df(spark, [(1, "a")]), "t", "id")
    assert io.read("t").count() == 1


def test_rows_in_recorded(spark, io):
    io.run_stage("parent", lambda: _df(spark, [(i, "x") for i in range(10)]), lineage="")
    io.run_stage(
        "child",
        lambda: io.read("parent").where(F.col("id") < 5),
        lineage="parent",
    )
    ck = io.checkpoints()
    child_rows = ck.where(F.col("stage") == "child").collect()
    assert all(r["rows_in"] == 10 for r in child_rows)
    assert sum(r["rows_out"] for r in child_rows) == 5


def test_stage_clock_includes_build(spark, io):
    """The checkpoint rows' [t_start, t_end] spans the stage's build, not
    only its write: eager work inside a build is timed."""
    import time

    started = []

    def build():
        started.append(time.time())
        time.sleep(0.3)
        return _df(spark, [(1, "a")])

    io.run_stage("slow", build)
    rows = io.checkpoints().where(F.col("stage") == "slow").collect()
    assert rows
    for r in rows:
        assert r["t_start"] <= started[0] and r["t_end"] - r["t_start"] >= 0.3, r


def test_read_uses_marker_schema_and_falls_back_without_it(spark, io):
    """A committed stage reads back with the schema its marker recorded;
    a marker written before markers carried a schema still reads."""
    import json

    io.run_stage("t", lambda: _df(spark, [(1, "a"), (2, "b")]))
    marker = io._marker("t")
    with open(marker) as f:
        info = json.load(f)
    assert io.read("t").schema.json() == info["schema"]
    del info["schema"]
    with open(marker, "w") as f:
        json.dump(info, f)
    got = io.read("t")
    assert got.columns == ["id", "v"] and got.count() == 2


def test_delete_by_key_list(spark, io):
    io.run_stage("t", lambda: _df(spark, [(1, "a"), (2, "b"), (3, "c")]))
    io.delete([1, 3], "t", "id")
    got = {(r["id"], r["v"]) for r in io.read("t").collect()}
    assert got == {(2, "b")}
    # delete sink commits through the same protocol: marker + lineage row
    assert io.is_complete("t")
    ck = io.checkpoints().where(F.col("lineage") == "delete:id")
    assert ck.count() >= 1


def test_delete_by_key_dataframe(spark, io):
    io.run_stage("t", lambda: _df(spark, [(i, "x") for i in range(6)]))
    io.delete(spark.range(3).select(F.col("id")), "t", "id")
    assert {r["id"] for r in io.read("t").collect()} == {3, 4, 5}


def test_delete_requires_completed_stage(spark, io):
    with pytest.raises(FileNotFoundError):
        io.delete([1], "missing_stage", "id")


def test_tombstone_refresh_removes_vanished_rows(spark, io):
    """I4 (Dedupe.java:109-112): a re-crawl whose input no longer
    contains some ids deletes those rows from the stage table, and a
    subsequent resume sees the tombstoned state."""
    io.run_stage("docs", lambda: _df(spark, [(1, "a"), (2, "b"), (3, "c"), (4, "d")]))
    current = _df(spark, [(2, "b"), (4, "d"), (9, "new")])  # 1 and 3 vanished
    io.refresh_tombstones(current, "docs", "id")
    assert {r["id"] for r in io.read("docs").collect()} == {2, 4}
    # resume path: run_stage skips (stage still complete) and reads the
    # tombstoned table, not a recompute
    df, was_skipped = io.run_stage("docs", lambda: (_ for _ in ()).throw(AssertionError))
    assert was_skipped and {r["id"] for r in df.collect()} == {2, 4}


def test_lineage_counts_partitioned_writes(spark, io, tmp_path):
    """Counter glob must be recursive: partitionBy writes nest files."""
    df = _df(spark, [(i, "even" if i % 2 == 0 else "odd") for i in range(8)])
    out = io.stage_dir("parted")
    df.write.mode("overwrite").partitionBy("v").parquet(out)
    import glob as _g
    import os as _os

    files = _g.glob(_os.path.join(out, "**", "part-*.parquet"), recursive=True)
    assert files, "partitioned write produced no nested part files?"
    # exercise the same recursive pattern StageIO.write uses
    import pyarrow.parquet as _pq

    assert sum(_pq.read_metadata(f).num_rows for f in files) == 8


# ---------------------------------------------------------------------------
# Crash injection: the staged-commit protocol's windows (VERDICT r2 #7)
# ---------------------------------------------------------------------------

class _Boom(RuntimeError):
    pass


def test_upsert_crash_before_reset_loses_nothing(spark, io, monkeypatch):
    """Crash after the tmp write but before reset: old data + marker
    intact; a plain rerun of the same upsert succeeds."""
    io.upsert(_df(spark, [(1, "a"), (2, "b")]), "t", "id")

    def boom(stage):
        raise _Boom("crash between step 1 and 2")

    monkeypatch.setattr(io, "reset", boom)
    with pytest.raises(_Boom):
        io.upsert(_df(spark, [(3, "c")]), "t", "id")
    monkeypatch.undo()
    # nothing lost, stage still complete with the OLD content
    assert io.is_complete("t")
    assert {(r["id"], r["v"]) for r in io.read("t").collect()} == {(1, "a"), (2, "b")}
    # rerun applies cleanly
    io.upsert(_df(spark, [(3, "c")]), "t", "id")
    assert {(r["id"], r["v"]) for r in io.read("t").collect()} == {
        (1, "a"), (2, "b"), (3, "c")
    }


def test_upsert_crash_after_reset_recovers_from_tmp(spark, io, monkeypatch):
    """Crash between reset and the final write: the marker is gone but
    the staged result is durable in the tmp dir — the next upsert (or
    an explicit recover()) finishes the commit with zero loss."""
    io.upsert(_df(spark, [(1, "a"), (2, "b")]), "t", "id")
    real_write = io.write

    def boom(df, stage, lineage=""):
        raise _Boom("crash between step 2 and 3")

    monkeypatch.setattr(io, "write", boom)
    with pytest.raises(_Boom):
        io.upsert(_df(spark, [(2, "B"), (3, "c")]), "t", "id")
    monkeypatch.setattr(io, "write", real_write)
    assert not io.is_complete("t")  # the crash window is visible...
    # ...but recovery completes the interrupted commit
    fresh = StageIO(spark, io.base_dir)
    assert fresh.recover("t")
    assert fresh.is_complete("t")
    assert {(r["id"], r["v"]) for r in fresh.read("t").collect()} == {
        (1, "a"), (2, "B"), (3, "c")
    }
    # recover is idempotent / no-op afterwards
    assert not fresh.recover("t")


def test_upsert_crash_after_reset_next_upsert_self_heals(spark, io, monkeypatch):
    """Same window, but the caller never calls recover() explicitly —
    the next upsert must recover first, NOT treat the store as empty
    (which would silently drop every pre-crash row)."""
    io.upsert(_df(spark, [(1, "a"), (2, "b")]), "t", "id")
    real_write = io.write
    monkeypatch.setattr(io, "write", lambda df, stage, lineage="": (_ for _ in ()).throw(_Boom()))
    with pytest.raises(_Boom):
        io.upsert(_df(spark, [(3, "c")]), "t", "id")
    monkeypatch.setattr(io, "write", real_write)
    fresh = StageIO(spark, io.base_dir)
    fresh.upsert(_df(spark, [(4, "d")]), "t", "id")
    assert {(r["id"], r["v"]) for r in fresh.read("t").collect()} == {
        (1, "a"), (2, "b"), (3, "c"), (4, "d")
    }


def test_upsert_crash_during_tmp_write_leaves_store_untouched(spark, io):
    """A failure while computing/writing the merged tmp (poison UDF)
    leaves the store and marker exactly as they were."""
    io.upsert(_df(spark, [(1, "a")]), "t", "id")

    @F.udf("string")
    def poison(v):
        raise RuntimeError("poison row")

    bad = _df(spark, [(2, "b")]).withColumn("v", poison(F.col("v")))
    with pytest.raises(Exception):
        io.upsert(bad, "t", "id")
    assert io.is_complete("t")
    assert {(r["id"], r["v"]) for r in io.read("t").collect()} == {(1, "a")}


def test_delete_crash_after_reset_recovers(spark, io, monkeypatch):
    io.run_stage("t", lambda: _df(spark, [(1, "a"), (2, "b"), (3, "c")]))
    real_write = io.write
    monkeypatch.setattr(io, "write", lambda df, stage, lineage="": (_ for _ in ()).throw(_Boom()))
    with pytest.raises(_Boom):
        io.delete([2], "t", "id")
    monkeypatch.setattr(io, "write", real_write)
    fresh = StageIO(spark, io.base_dir)
    # next delete self-heals the interrupted one, then applies its own
    fresh.delete([3], "t", "id")
    assert {(r["id"], r["v"]) for r in fresh.read("t").collect()} == {(1, "a")}


def test_concurrent_upsert_refused_loudly_then_succeeds(spark, io):
    """Two-process contention (VERDICT r3 next #3): while another OS
    process holds the stage write lock mid-commit, an upsert must be
    REFUSED LOUDLY — never interleave and silently lose rows. After the
    holder exits, the retry merges cleanly. This is the documented
    Iceberg-migration contract (ConcurrentWriterError docstring)."""
    import os
    import subprocess
    import sys
    import time

    from dedupe_spark.sources.checkpoints import ConcurrentWriterError

    io.upsert(_df(spark, [(1, "a"), (2, "b")]), "t", "id")
    lock_path = os.path.join(io.base_dir, "_writelock_t")
    # a real second process: grabs the flock (as a mid-commit writer
    # would), signals readiness via a sentinel file, holds until killed
    holder = subprocess.Popen(
        [sys.executable, "-c", (
            "import fcntl, os, sys, time\n"
            f"fd = os.open({lock_path!r}, os.O_CREAT | os.O_RDWR)\n"
            "fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)\n"
            f"open({lock_path!r} + '.ready', 'w').close()\n"
            "time.sleep(60)\n"
        )],
    )
    try:
        deadline = time.time() + 30
        while not os.path.exists(lock_path + ".ready"):
            assert time.time() < deadline, "lock holder failed to start"
            time.sleep(0.05)
        with pytest.raises(ConcurrentWriterError):
            io.upsert(_df(spark, [(2, "B"), (3, "c")]), "t", "id")
        # refusal left the store exactly as it was — no partial commit
        assert {(r["id"], r["v"]) for r in io.read("t").collect()} == {
            (1, "a"), (2, "b")
        }
    finally:
        holder.kill()
        holder.wait()
    # the kernel released the dead holder's flock: no stale lock, the
    # retry serializes cleanly and no row from either writer is lost
    io.upsert(_df(spark, [(2, "B"), (3, "c")]), "t", "id")
    assert {(r["id"], r["v"]) for r in io.read("t").collect()} == {
        (1, "a"), (2, "B"), (3, "c")
    }


def test_concurrent_delete_refused_loudly(spark, io):
    import fcntl
    import os

    from dedupe_spark.sources.checkpoints import ConcurrentWriterError

    io.upsert(_df(spark, [(1, "a"), (2, "b")]), "t", "id")
    fd = os.open(os.path.join(io.base_dir, "_writelock_t"), os.O_CREAT | os.O_RDWR)
    fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
    try:
        with pytest.raises(ConcurrentWriterError):
            io.delete([1], "t", "id")
    finally:
        os.close(fd)
    io.delete([1], "t", "id")
    assert {r["id"] for r in io.read("t").collect()} == {2}
