"""Connected components vs a union-find oracle (SURVEY.md §5.2.2)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from dedupe_spark.operators.cc import assign_all, connected_components


class _UnionFind:
    def __init__(self):
        self.p = {}

    def find(self, x):
        self.p.setdefault(x, x)
        while self.p[x] != x:
            self.p[x] = self.p[self.p[x]]
            x = self.p[x]
        return x

    def union(self, a, b):
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.p[max(ra, rb)] = min(ra, rb)


def _oracle(edges):
    # contract: self-loops carry no information; nodes appearing only in
    # self-loops are "isolated" and handled by assign_all, not CC itself
    uf = _UnionFind()
    for a, b in edges:
        if a != b:
            uf.union(a, b)
    return {n: uf.find(n) for n in uf.p}


def _run(spark, edges, driver_finish_edges=2_000_000):
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: r["cluster_id"]
        for r in connected_components(
            df, driver_finish_edges=driver_finish_edges
        ).collect()
    }
    # oracle roots are the min of each component by construction of union
    want_sets = {}
    for n, r in _oracle(edges).items():
        want_sets.setdefault(r, set()).add(n)
    want = {}
    for members in want_sets.values():
        m = min(members)
        for n in members:
            want[n] = m
    assert got == want


def test_cc_chain(spark):
    _run(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])


def test_cc_two_components_and_self_loop(spark):
    _run(spark, [(10, 11), (11, 12), (20, 21), (5, 5)])


def test_cc_star_and_cycle(spark):
    _run(spark, [(100, i) for i in range(101, 110)] + [(200, 201), (201, 202), (202, 200)])


def test_cc_random_graphs(spark):
    rng = random.Random(1234)
    for trial in range(3):
        n = 120
        edges = [
            (rng.randrange(n), rng.randrange(n))
            for _ in range(90 + 30 * trial)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        _run(spark, edges)


def test_cc_distributed_path(spark):
    """Force the large-star/small-star iterations (no driver finish)."""
    rng = random.Random(99)
    edges = [(rng.randrange(150), rng.randrange(150)) for _ in range(160)]
    edges = [(a, b) for a, b in edges if a != b]
    _run(spark, edges, driver_finish_edges=0)
    _run(spark, [(1, 2), (2, 3), (3, 4), (10, 11)], driver_finish_edges=0)


def test_assign_all_isolated_nodes(spark):
    nodes = spark.createDataFrame([(i,) for i in range(6)], "node long")
    edges = spark.createDataFrame([(0, 1), (2, 3)], "src long, dst long")
    got = {r["node"]: r["cluster_id"] for r in assign_all(nodes, edges).collect()}
    assert got == {0: 0, 1: 0, 2: 2, 3: 2, 4: 4, 5: 5}


def test_cc_nonconvergence_raises(spark):
    import pytest as _pytest

    df = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, max_iter=0, driver_finish_edges=0)


def test_cc_empty_edges(spark):
    df = spark.createDataFrame([], "src long, dst long")
    assert connected_components(df).count() == 0


def test_reliable_checkpoint_path(spark, tmp_path):
    """reliable_checkpoint=True must produce identical assignments via
    df.checkpoint into the configured checkpoint dir."""
    from dedupe_spark.operators.cc import connected_components

    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (11, 12), (12, 13), (20, 21)],
        "src long, dst long",
    )
    a = connected_components(edges, driver_finish_edges=0)
    b = connected_components(edges, driver_finish_edges=0, reliable_checkpoint=True)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    import os

    assert os.listdir(str(tmp_path / "ckpt")), "no reliable checkpoint written"


@pytest.mark.parametrize("driver_finish_edges,loop", [(5, False), (4, True)])
def test_cc_driver_finish_threshold(spark, monkeypatch, driver_finish_edges, loop):
    """5 canonical edges: exactly at the threshold they are union-found
    on the driver with no fingerprint aggregate; one over it they take
    the distributed rounds. Same assignments either way."""
    from dedupe_spark.operators import cc

    calls = []
    real = cc._fingerprint
    monkeypatch.setattr(cc, "_fingerprint", lambda e: calls.append(1) or real(e))
    edges = [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 20), (5, 5)]
    _run(spark, edges, driver_finish_edges=driver_finish_edges)
    assert bool(calls) == loop


def test_distributed_rounds_release_superseded_checkpoints(spark):
    """Each distributed round's localCheckpoint is released once the
    next round is materialized: a 250-edge chain (several rounds) leaves at
    most the last round persisted, the one the returned frame reads."""
    jsc = spark.sparkContext._jsc
    df = spark.createDataFrame([(i, i + 1) for i in range(250)], "src long, dst long")
    before = jsc.getPersistentRDDs().size()
    out = connected_components(df, driver_finish_edges=0).collect()
    assert len(out) == 251 and {r["cluster_id"] for r in out} == {0}
    assert jsc.getPersistentRDDs().size() <= before + 1
