"""Fellegi–Sunter: weights/probabilities against a pure-Python oracle,
parameter validation, frequency u against an all-pairs brute force and
the analytic value, EM recovery of planted parameters, EM's stopping
rule, and the histogram EM against the per-round aggregate
formulation."""

from __future__ import annotations

import logging
import math
import random

import pytest
from pyspark.sql import functions as F

from dedupe_spark.operators.fs import (
    EM_TOL,
    FSFeature,
    estimate_m_u_em,
    frequency_u,
    fs_score,
)

FEATS = [FSFeature("a", m=0.9, u=0.2), FSFeature("b", m=0.8, u=0.05)]
PRIOR = 0.1


def _py_score(ga: bool, gb: bool) -> tuple[float, float]:
    w = 0.0
    odds = PRIOR / (1 - PRIOR)
    for f, g in zip(FEATS, (ga, gb)):
        w += math.log2(f.m / f.u) if g else math.log2((1 - f.m) / (1 - f.u))
        odds *= (f.m / f.u) if g else ((1 - f.m) / (1 - f.u))
    return w, odds / (odds + 1)


def test_scores_match_python_oracle(spark):
    rows = [(1, 2, True, True), (3, 4, True, False), (5, 6, False, True), (7, 8, False, False)]
    df = spark.createDataFrame(rows, "id1 long, id2 long, agree_a boolean, agree_b boolean")
    got = {
        (r["id1"], r["id2"]): (r["match_weight"], r["match_prob"])
        for r in fs_score(df, FEATS, PRIOR).collect()
    }
    for id1, id2, ga, gb in rows:
        ew, ep = _py_score(ga, gb)
        assert got[(id1, id2)][0] == pytest.approx(ew, abs=1e-12)
        assert got[(id1, id2)][1] == pytest.approx(ep, abs=1e-12)
    # full agreement must outscore full disagreement
    assert got[(1, 2)][0] > got[(7, 8)][0]


def test_feature_validation():
    with pytest.raises(ValueError):
        FSFeature("x", m=0.2, u=0.5)  # m <= u
    with pytest.raises(ValueError):
        FSFeature("x", m=1.0, u=0.5)  # m out of (0,1)
    with pytest.raises(ValueError):
        FSFeature("x", m=0.9, u=0.0)  # u out of (0,1)


def test_prior_validation(spark):
    df = spark.createDataFrame([(1, 2, True, True)], "id1 long, id2 long, agree_a boolean, agree_b boolean")
    with pytest.raises(ValueError):
        fs_score(df, FEATS, prior=0.0)


def _brute_force_u(df, cols):
    """Mean eqNullSafe agreement over every ordered pair of distinct rows."""
    a = df.select(*[F.col(c).alias(f"{c}_1") for c in ["_i", *cols]])
    b = df.select(*[F.col(c).alias(f"{c}_2") for c in ["_i", *cols]])
    row = (
        a.crossJoin(b)
        .where(F.col("_i_1") != F.col("_i_2"))
        .agg(*[F.avg(F.col(f"{c}_1").eqNullSafe(F.col(f"{c}_2")).cast("double")).alias(c) for c in cols])
        .first()
    )
    return {c: row[c] for c in cols}


def test_frequency_u_matches_all_pairs_brute_force(spark):
    """NULL is one value (NULL <=> NULL agrees) and -0.0 equals 0.0, as
    in eqNullSafe; a string cast of the double column would split the
    zeros and miss this."""
    rng = random.Random(7)
    rows = [
        (
            i,
            rng.choice(["en", "de", None]),
            rng.choice([0.0, -0.0, 1.5, None]),
            rng.choice([1, 2, 3, 4, None]),
        )
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "_i long, lang string, x double, k long")
    assert {str(r[2]) for r in rows} >= {"0.0", "-0.0", "None"}
    cols = ["lang", "x", "k"]
    got = frequency_u(df, cols)
    want = _brute_force_u(df, cols)
    for c in cols:
        assert got[c] == pytest.approx(want[c], rel=1e-12)


def test_frequency_u_matches_analytic(spark):
    # langs drawn 50/30/20: P(two records agree) = .5^2+.3^2+.2^2 = 0.38
    rng = random.Random(13)
    langs = ["en"] * 50 + ["de"] * 30 + ["fr"] * 20
    docs = spark.createDataFrame(
        [(i, rng.choice(langs)) for i in range(4000)], "doc_id long, lang string"
    )
    assert frequency_u(docs, ["lang"])["lang"] == pytest.approx(0.38, abs=0.04)


def test_frequency_u_needs_two_records(spark):
    df = spark.createDataFrame([("a",)], "a string")
    with pytest.raises(ValueError):
        frequency_u(df, ["a"])
    with pytest.raises(ValueError):
        frequency_u(df.where(F.lit(False)), ["a"])


def _planted_pairs(spark, n=6000, lam=0.2, seed=29):
    """Binary agreement vectors from a two-class mixture with known
    (m*, u*). THREE features: a two-feature binary mixture is not
    identifiable (5 parameters vs 3 observable cell frequencies), so
    EM can only be expected to recover planted values from k >= 3."""
    m_true = {"a": 0.95, "b": 0.75, "c": 0.85}
    u_true = {"a": 0.15, "b": 0.05, "c": 0.10}
    rng = random.Random(seed)
    rows = []
    for _ in range(n):
        match = rng.random() < lam
        p = m_true if match else u_true
        rows.append(
            (
                rng.random() < p["a"],
                rng.random() < p["b"],
                rng.random() < p["c"],
                match,
            )
        )
    df = spark.createDataFrame(
        rows, "agree_a boolean, agree_b boolean, agree_c boolean, is_match boolean"
    )
    return df, m_true, u_true


def test_em_recovers_planted_parameters(spark):
    df, m_true, u_true = _planted_pairs(spark)
    cols = ["agree_a", "agree_b", "agree_c"]
    m, u, lam, _, _ = estimate_m_u_em(df.select(*cols), cols, n_iter=40)
    for c, key in (("agree_a", "a"), ("agree_b", "b"), ("agree_c", "c")):
        assert m[c] == pytest.approx(m_true[key], abs=0.08)
        assert u[c] == pytest.approx(u_true[key], abs=0.05)
    assert lam == pytest.approx(0.2, abs=0.05)
    # and the resulting scores separate the planted classes
    feats = [
        FSFeature("a", m=m["agree_a"], u=u["agree_a"]),
        FSFeature("b", m=m["agree_b"], u=u["agree_b"]),
        FSFeature("c", m=m["agree_c"], u=u["agree_c"]),
    ]
    scored = fs_score(df, feats, prior=lam)
    means = (
        scored.groupBy("is_match").agg(F.avg("match_prob").alias("p")).collect()
    )
    by_class = {r["is_match"]: r["p"] for r in means}
    assert by_class[True] > 0.5 > by_class[False]


def test_em_validation(spark):
    df = spark.createDataFrame([(True,)], "agree_a boolean")
    with pytest.raises(ValueError):
        estimate_m_u_em(df, ["agree_a"], n_iter=0)
    empty = df.where(F.lit(False))
    with pytest.raises(ValueError):
        estimate_m_u_em(empty, ["agree_a"])


def test_fs_decisions_three_way(spark):
    from dedupe_spark.operators.fs import fs_decisions

    df = spark.createDataFrame(
        [(1, 0.95), (2, 0.5), (3, 0.05), (4, 0.85), (5, 0.1)],
        "id long, match_prob double",
    )
    got = {r["id"]: r["decision"] for r in fs_decisions(df, 0.1, 0.85).collect()}
    # boundary semantics: >= upper links, < lower non-links
    assert got == {1: "link", 2: "review", 3: "nonlink", 4: "link", 5: "review"}


def test_fs_decisions_validation(spark):
    from dedupe_spark.operators.fs import decision_sql, fs_decisions

    df = spark.createDataFrame([(1, 0.5)], "id long, match_prob double")
    with pytest.raises(ValueError):
        fs_decisions(df, 0.9, 0.1)
    with pytest.raises(ValueError):
        decision_sql(0.9, 0.1, "p")


def _em_per_round(pairs, agree_cols, n_iter, init_m=0.9, init_u=0.1, init_lambda=0.1, eps=1e-6):
    """The per-round EM formulation: one Spark aggregate over every
    pair per iteration. Kept only as the oracle for the histogram EM."""
    g = pairs.select(*[F.col(c).cast("double").alias(c) for c in agree_cols])
    n = g.count()

    def clamp(x):
        return min(1.0 - eps, max(eps, x))

    m = {c: init_m for c in agree_cols}
    u = {c: init_u for c in agree_cols}
    lam = init_lambda
    for _ in range(n_iter):
        num = F.lit(lam)
        den = F.lit(1.0 - lam)
        for c in agree_cols:
            num = num * F.when(F.col(c) > 0.5, F.lit(m[c])).otherwise(F.lit(1.0 - m[c]))
            den = den * F.when(F.col(c) > 0.5, F.lit(u[c])).otherwise(F.lit(1.0 - u[c]))
        r = F.when(num + den == 0.0, F.lit(0.5)).otherwise(num / (num + den)).alias("_r")
        agged = g.select(r, *agree_cols).agg(
            F.sum("_r").alias("_sr"),
            *[F.sum(F.col(c) * F.col("_r")).alias(f"_m_{c}") for c in agree_cols],
            *[F.sum(F.col(c) * (1.0 - F.col("_r"))).alias(f"_u_{c}") for c in agree_cols],
        ).first()
        sr = float(agged["_sr"])
        snr = n - sr
        if sr <= 0.0 or snr <= 0.0:
            break
        m = {c: clamp(float(agged[f"_m_{c}"]) / sr) for c in agree_cols}
        u = {c: clamp(float(agged[f"_u_{c}"]) / snr) for c in agree_cols}
        lam = clamp(sr / n)
    return m, u, lam


def _assert_same_params(got, want):
    (m, u, lam, _, _), (m0, u0, lam0) = got, want
    assert m.keys() == m0.keys() and u.keys() == u0.keys()
    for c in m0:
        assert m[c] == pytest.approx(m0[c], rel=1e-9)
        assert u[c] == pytest.approx(u0[c], rel=1e-9)
    assert lam == pytest.approx(lam0, rel=1e-9)


def test_em_histogram_matches_per_round_reference(spark):
    df, _, _ = _planted_pairs(spark)
    cols = ["agree_a", "agree_b", "agree_c"]
    for n_iter, init in ((40, {}), (7, {"init_m": 0.95, "init_u": 0.3, "init_lambda": 0.4})):
        _assert_same_params(
            estimate_m_u_em(df, cols, n_iter=n_iter, **init),
            _em_per_round(df, cols, n_iter, **init),
        )


def test_em_histogram_nullable_column_matches_reference(spark):
    """A NULL agreement is a third pattern value: it must act as
    disagreement in the E-step and add nothing in the M-step, exactly
    as in the per-round formulation."""
    rng = random.Random(31)
    rows = []
    for _ in range(3000):
        match = rng.random() < 0.25
        p = (0.9, 0.8, 0.85) if match else (0.2, 0.1, 0.15)
        a, b, c = (rng.random() < q for q in p)
        rows.append((a, None if rng.random() < 0.2 else b, c))
    df = spark.createDataFrame(rows, "agree_a boolean, agree_b boolean, agree_c boolean")
    cols = ["agree_a", "agree_b", "agree_c"]
    assert df.where(F.col("agree_b").isNull()).count() > 0
    _assert_same_params(
        estimate_m_u_em(df, cols, n_iter=25), _em_per_round(df, cols, 25)
    )


def test_em_spark_jobs_independent_of_iterations(spark):
    """Every EM round runs on the driver over the pattern histogram,
    so the Spark job count does not grow with n_iter."""
    df, _, _ = _planted_pairs(spark, n=2000)
    cols = ["agree_a", "agree_b", "agree_c"]
    df = df.select(*cols).localCheckpoint(eager=True)
    tracker = spark.sparkContext.statusTracker()

    def jobs(n_iter):
        before = set(tracker.getJobIdsForGroup(None))
        estimate_m_u_em(df, cols, n_iter=n_iter)
        return len(set(tracker.getJobIdsForGroup(None)) - before)

    n5 = jobs(5)
    assert n5 >= 1 and n5 == jobs(40)


def test_em_stops_at_tolerance_on_planted_pairs(spark, monkeypatch):
    """EM stops at the first round whose largest parameter change is
    below EM_TOL, reports that round, and reads as converged; one round
    less of cap is not converged. The converged estimate is near the
    fixed point a much tighter tolerance reaches."""
    df, _, _ = _planted_pairs(spark)
    cols = ["agree_a", "agree_b", "agree_c"]
    df = df.select(*cols).localCheckpoint(eager=True)
    fit = estimate_m_u_em(df, cols, n_iter=1000)
    assert fit.converged and 1 < fit.rounds < 1000
    again = estimate_m_u_em(df, cols, n_iter=fit.rounds)
    assert again.converged and again.rounds == fit.rounds
    _assert_same_params(again, fit[:3])
    short = estimate_m_u_em(df, cols, n_iter=fit.rounds - 1)
    assert not short.converged and short.rounds == fit.rounds - 1
    monkeypatch.setattr("dedupe_spark.operators.fs.EM_TOL", EM_TOL * 1e-4)
    tight = estimate_m_u_em(df, cols, n_iter=1000)
    assert tight.converged and tight.rounds > fit.rounds
    for c in cols:
        assert fit.m[c] == pytest.approx(tight.m[c], abs=1e-5)
        assert fit.u[c] == pytest.approx(tight.u[c], abs=1e-5)
    assert fit.lam == pytest.approx(tight.lam, abs=1e-5)


def test_em_cap_logs_warning(spark, caplog):
    df, _, _ = _planted_pairs(spark, n=2000)
    cols = ["agree_a", "agree_b", "agree_c"]
    with caplog.at_level(logging.WARNING, logger="dedupe_spark.operators.fs"):
        capped = estimate_m_u_em(df, cols, n_iter=3)
    assert not capped.converged and capped.rounds == 3
    warned = [r for r in caplog.records if r.name == "dedupe_spark.operators.fs"]
    assert len(warned) == 1 and warned[0].levelno == logging.WARNING
    assert "cap of 3 rounds" in warned[0].getMessage()
    caplog.clear()
    with caplog.at_level(logging.WARNING, logger="dedupe_spark.operators.fs"):
        assert estimate_m_u_em(df, cols).converged
    assert not [r for r in caplog.records if r.name == "dedupe_spark.operators.fs"]
