"""Meta-blocking: blocking-graph weights (CBS/JS) against hand-computed
oracles, purge semantics, WEP/CNP pruning, and the grid-skew-split
invariant (hot-path CBS counts == cold-path counts, exactly once per
shared block)."""

from __future__ import annotations

import itertools
from collections import Counter

from dedupe_spark.operators.metablocking import blocking_graph, prune_cnp, prune_wep


def _keys_df(spark, blocks: dict[str, list[int]]):
    rows = [(d, k) for k, members in blocks.items() for d in members]
    return spark.createDataFrame(rows, "doc_id long, block_key string")


def _expected_cbs(
    blocks: dict[str, list[int]], max_block_size: int | None = None
) -> Counter:
    c: Counter = Counter()
    for members in blocks.values():
        if len(members) < 2:
            continue
        if max_block_size is not None and len(members) > max_block_size:
            continue
        for a, b in itertools.combinations(sorted(set(members)), 2):
            c[(a, b)] += 1
    return c


BLOCKS = {
    "k1": [1, 2, 3],
    "k2": [2, 3, 4],
    "k3": [3, 4],
    "k4": [9],          # singleton: never an edge
    "k5": [1, 2],
}


def test_cbs_weights_match_oracle(spark):
    g = blocking_graph(_keys_df(spark, BLOCKS), weight="cbs")
    got = {(r["id1"], r["id2"]): r["weight"] for r in g.collect()}
    assert got == dict(_expected_cbs(BLOCKS))
    # spot values: (2,3) shares k1+k2; (1,2) shares k1+k5
    assert got[(2, 3)] == 2 and got[(1, 2)] == 2 and got[(3, 4)] == 2


def test_js_weights_match_oracle(spark):
    g = blocking_graph(_keys_df(spark, BLOCKS), weight="js")
    got = {(r["id1"], r["id2"]): (r["cbs"], r["weight"]) for r in g.collect()}
    # per-doc surviving-block counts: 1→{k1,k5}=2, 2→{k1,k2,k5}=3,
    # 3→{k1,k2,k3}=3, 4→{k2,k3}=2
    nb = {1: 2, 2: 3, 3: 3, 4: 2}
    exp_cbs = _expected_cbs(BLOCKS)
    assert set(got) == set(exp_cbs)
    for (a, b), (cbs, js) in got.items():
        assert cbs == exp_cbs[(a, b)]
        assert js == cbs / (nb[a] + nb[b] - cbs)


def test_purge_drops_oversized_blocks_everywhere(spark):
    blocks = dict(BLOCKS, boiler=list(range(1, 8)))  # 7 members
    g = blocking_graph(_keys_df(spark, blocks), weight="js", max_block_size=4)
    got = {(r["id1"], r["id2"]): (r["cbs"], r["weight"]) for r in g.collect()}
    exp = _expected_cbs(blocks, max_block_size=4)
    assert {k: v[0] for k, v in got.items()} == dict(exp)
    # JS degrees must also ignore the purged block: doc 1 is in the
    # purged boiler block but its |B| stays {k1,k5} = 2
    assert got[(1, 2)][1] == 2 / (2 + 3 - 2)


def test_hot_grid_path_counts_each_block_once(spark):
    """CBS through the grid skew-split must equal the naive cold path —
    multiplicity (not just the pair set) is the meta-blocking signal."""
    blocks = {
        "hotA": list(range(100, 160)),
        "hotB": list(range(120, 180)),
        "cold": [100, 101],
    }
    keys = _keys_df(spark, blocks)
    hot = blocking_graph(keys, weight="cbs", hot_threshold=10, salt_buckets=4)
    cold = blocking_graph(keys, weight="cbs", hot_threshold=10**9)
    got_hot = {(r["id1"], r["id2"]): r["weight"] for r in hot.collect()}
    got_cold = {(r["id1"], r["id2"]): r["weight"] for r in cold.collect()}
    assert got_hot == got_cold == dict(_expected_cbs(blocks))


def test_wep_keeps_at_or_above_mean(spark):
    g = blocking_graph(_keys_df(spark, BLOCKS), weight="cbs")
    kept = {(r["id1"], r["id2"]): r["weight"] for r in prune_wep(g).collect()}
    exp = _expected_cbs(BLOCKS)
    mean = sum(exp.values()) / len(exp)
    assert kept == {p: w for p, w in exp.items() if w >= mean}
    assert 0 < len(kept) < len(exp)  # actually prunes something


def test_cnp_top_k_either_endpoint(spark):
    g = blocking_graph(_keys_df(spark, BLOCKS), weight="cbs")
    kept = {(r["id1"], r["id2"]) for r in prune_cnp(g, k=1).collect()}
    exp = _expected_cbs(BLOCKS)
    # oracle: edge survives iff top-1 (weight desc, partner-id asc) of
    # either endpoint
    best: dict[int, tuple] = {}
    for (a, b), w in exp.items():
        for node, other in ((a, b), (b, a)):
            cand = (-w, other, (min(node, other), max(node, other)))
            if node not in best or cand < best[node]:
                best[node] = cand
    expected = {v[2] for v in best.values()}
    assert kept == expected
    assert len(kept) < len(exp)


def test_cnp_ranks_whole_neighbourhood(spark):
    """Top-k is over each node's whole neighbourhood, not per side of
    the edge: node 2's best edge (k=1, tie → lower partner) is (1,2) and
    node 3's is (3,4), so (2,3) is nobody's choice and goes. Ranking the
    id1 side and the id2 side separately kept it as node 2's top id1
    edge (up to 2k edges per node)."""
    g = spark.createDataFrame(
        [(0, 1, 5), (1, 2, 1), (2, 3, 1), (3, 4, 5)], "id1 long, id2 long, weight long"
    )
    kept = sorted(map(tuple, prune_cnp(g, k=1).collect()))
    assert kept == [(0, 1, 5), (1, 2, 1), (3, 4, 5)]


def test_cnp_rejects_bad_k(spark):
    import pytest

    g = blocking_graph(_keys_df(spark, BLOCKS), weight="cbs")
    with pytest.raises(ValueError):
        prune_cnp(g, k=0)


def test_unknown_weight_scheme_raises(spark):
    import pytest

    with pytest.raises(ValueError):
        blocking_graph(_keys_df(spark, BLOCKS), weight="arcs")
