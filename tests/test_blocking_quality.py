"""blocking_quality: PC / RR / PQ against a hand-computed fixture,
NULL-truth handling, and vacuous-denominator conventions."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dedupe_spark.evaluate import blocking_quality


def _truth(spark):
    rows = [
        (1, "A"), (2, "A"), (3, "A"),   # C(3,2)=3 true pairs
        (4, "B"), (5, "B"),             # 1 true pair
        (6, "C"),                       # singleton
        (7, None),                      # unlabeled
    ]
    return spark.createDataFrame(rows, "doc_id long, truth_key string")


def _pairs(spark, rows):
    return spark.createDataFrame(rows, "id1 long, id2 long")


def test_metrics_match_hand_computation(spark):
    cand = _pairs(spark, [(1, 2), (2, 3), (4, 6), (4, 5), (1, 7)])
    m = blocking_quality(cand, _truth(spark))
    assert m["n_records"] == 6           # NULL-truth doc excluded
    assert m["n_true_pairs"] == 4
    assert m["n_candidates"] == 4        # (1,7) touches the unlabeled doc
    assert m["n_true_candidates"] == 3   # (1,2),(2,3),(4,5)
    assert m["pair_completeness"] == pytest.approx(3 / 4)
    assert m["reduction_ratio"] == pytest.approx(1 - 4 / 15)
    assert m["pairs_quality"] == pytest.approx(3 / 4)


def test_unlabeled_endpoints_outside_every_denominator(spark):
    """Candidates touching a NULL-truth doc or a doc absent from truth
    are outside the labeled population C(n, 2) counts, so they enter no
    denominator: with more such candidates than labeled pairs, counting
    them drove RR negative."""
    truth = spark.createDataFrame(
        [(1, "A"), (2, "A"), (3, "B"), (4, None)], "doc_id long, truth_key string"
    )
    # 4 = NULL truth key, 8 and 9 = absent from truth
    cand = _pairs(spark, [(1, 2), (1, 4), (2, 4), (3, 4), (1, 8), (3, 9), (8, 9)])
    m = blocking_quality(cand, truth)
    assert m["n_records"] == 3
    assert m["n_candidates"] == 1
    assert m["n_true_candidates"] == 1
    assert m["reduction_ratio"] == pytest.approx(1 - 1 / 3)
    assert m["pairs_quality"] == 1.0
    assert m["pair_completeness"] == 1.0


def test_empty_candidates(spark):
    cand = _pairs(spark, []).where(F.lit(False))
    m = blocking_quality(cand, _truth(spark))
    assert m["n_candidates"] == 0
    assert m["pair_completeness"] == 0.0
    assert m["reduction_ratio"] == 1.0
    assert m["pairs_quality"] == 1.0     # vacuous


def test_all_singletons_is_vacuously_complete(spark):
    truth = spark.createDataFrame(
        [(1, "A"), (2, "B"), (3, "C")], "doc_id long, truth_key string"
    )
    m = blocking_quality(_pairs(spark, [(1, 2)]), truth)
    assert m["n_true_pairs"] == 0
    assert m["pair_completeness"] == 1.0
    assert m["pairs_quality"] == 0.0


def test_perfect_blocking(spark):
    cand = _pairs(spark, [(1, 2), (1, 3), (2, 3), (4, 5)])
    m = blocking_quality(cand, _truth(spark))
    assert m["pair_completeness"] == 1.0
    assert m["pairs_quality"] == 1.0
