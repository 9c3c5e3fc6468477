"""Fellegi–Sunter probabilistic record linkage scoring.

Reference semantics: the reference scores candidates with a single
similarity cut-off per block (Dedupe.java's length-block + content
equality). Fellegi & Sunter ("A Theory for Record Linkage", JASA 1969)
is the standard probabilistic generalization: each cheap comparison
k contributes log2(m_k/u_k) when it agrees and log2((1-m_k)/(1-u_k))
when it disagrees, where m_k = P(agree | match) and u_k =
P(agree | non-match); the summed match weight plus a prior gives a
posterior match probability. This is the model behind Splink and most
production linkage engines.

Parameter estimation, both standard practice:
  * ``frequency_u`` — exact u from value frequencies, the reference's
    per-value count (Dedupe.java's length facet) on every column.
  * ``estimate_m_u_em`` — unsupervised EM over binary agreement
    vectors (the classic two-class latent mixture). A pair's match
    responsibility depends only on its agreement pattern, so EM runs
    on the pattern histogram (the fastLink design, Enamorado, Fifield
    & Imai, APSR 2019): ONE Spark aggregate in total, then every
    iteration in numpy on the driver, until no parameter moves by
    ``EM_TOL`` or the round cap is hit.

Scale notes (north_rule):
  * scoring is a pure JVM projection over the candidate-pair table —
    all weights are precomputed Python floats embedded as literals, so
    whole-stage codegen keeps the hot path shuffle-free;
  * EM never collects pair data: the pattern histogram has at most
    2^K rows (3^K with NULLs; K = number of comparisons), whatever
    the pair count, and the iteration count adds no Spark job;
  * ``frequency_u`` shuffles one row per (column, value) and brings K
    rows to the driver — no pairs, no sort, no RNG;
  * the weight/prob expressions have SQL twins generated from the SAME
    feature table (the pii.py single-source design) so engine dialects
    cannot drift.
"""

from __future__ import annotations

import logging
import math
from dataclasses import dataclass
from typing import NamedTuple

import numpy as np

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

log = logging.getLogger(__name__)

# EM stops once no m, u or λ moves by EM_TOL in a round. A round is
# numpy over the pattern histogram (<1 ms), so the cap only guards
# against a crawl: 6k planted records need 700-2,200 rounds.
EM_TOL = 1e-8
EM_MAX_ROUNDS = 5_000


@dataclass(frozen=True)
class FSFeature:
    """One comparison: ``name`` must match a boolean agreement column
    ``agree_<name>`` on the pair table; m = P(agree | match),
    u = P(agree | non-match)."""

    name: str
    m: float
    u: float

    def __post_init__(self) -> None:
        for label, v in (("m", self.m), ("u", self.u)):
            if not 0.0 < v < 1.0:
                raise ValueError(f"FSFeature {self.name}: {label} must be in (0,1), got {v}")
        if self.m <= self.u:
            raise ValueError(
                f"FSFeature {self.name}: m ({self.m}) must exceed u ({self.u}) — "
                "agreement must be more likely among matches"
            )

    @property
    def agree_weight(self) -> float:
        return math.log2(self.m / self.u)

    @property
    def disagree_weight(self) -> float:
        return math.log2((1.0 - self.m) / (1.0 - self.u))


def _check_prior(prior: float) -> None:
    if not 0.0 < prior < 1.0:
        raise ValueError(f"prior must be in (0,1), got {prior}")


def _agree_col(f: FSFeature) -> str:
    return f"agree_{f.name}"


def match_weight_expr(features: list[FSFeature]) -> Column:
    """Σ_k CASE agree_k THEN log2(m/u) ELSE log2((1-m)/(1-u)) — all
    literals, fixed summation order (feature-list order), so the double
    result is bit-identical to the generated SQL twin."""
    out = F.lit(0.0)
    for f in features:
        out = out + F.when(F.col(_agree_col(f)), F.lit(f.agree_weight)).otherwise(
            F.lit(f.disagree_weight)
        )
    return out


def match_prob_expr(features: list[FSFeature], prior: float) -> Column:
    """Posterior P(match): prior odds × Π likelihood ratios, then
    o/(1+o). Products of literals (no pow/exp2) keep the arithmetic
    bit-identical across engines."""
    _check_prior(prior)
    odds = F.lit(prior / (1.0 - prior))
    for f in features:
        odds = odds * F.when(F.col(_agree_col(f)), F.lit(f.m / f.u)).otherwise(
            F.lit((1.0 - f.m) / (1.0 - f.u))
        )
    return odds / (odds + F.lit(1.0))


def fs_score(pairs: DataFrame, features: list[FSFeature], prior: float) -> DataFrame:
    """pairs(…, agree_<k> boolean …) → + match_weight, match_prob."""
    return pairs.withColumn("match_weight", match_weight_expr(features)).withColumn(
        "match_prob", match_prob_expr(features, prior)
    )


def _lit(x: float) -> str:
    # repr round-trips the exact double; the CAST keeps DuckDB from
    # parsing the literal as DECIMAL (whose scale overflows under the
    # chained multiplications) — double arithmetic, same as Spark.
    return f"CAST({x!r} AS DOUBLE)"


def match_weight_sql(features: list[FSFeature], agree_sql: dict[str, str]) -> str:
    """ANSI-SQL twin of ``match_weight_expr`` — same literals (repr
    round-trips the exact double), same order."""
    terms = [
        f"(CASE WHEN {agree_sql[f.name]} THEN {_lit(f.agree_weight)} ELSE {_lit(f.disagree_weight)} END)"
        for f in features
    ]
    return "(CAST(0.0 AS DOUBLE) + " + " + ".join(terms) + ")"


def match_prob_sql(features: list[FSFeature], agree_sql: dict[str, str], prior: float) -> str:
    _check_prior(prior)
    odds = _lit(prior / (1.0 - prior))
    for f in features:
        odds = (
            f"({odds} * (CASE WHEN {agree_sql[f.name]} "
            f"THEN {_lit(f.m / f.u)} ELSE {_lit((1.0 - f.m) / (1.0 - f.u))} END))"
        )
    return f"({odds} / ({odds} + CAST(1.0 AS DOUBLE)))"


def fs_decisions(
    scored: DataFrame,
    lower: float,
    upper: float,
    prob_col: str = "match_prob",
    decision_col: str = "decision",
) -> DataFrame:
    """The Fellegi–Sunter THREE-way decision rule (JASA 1969 §3 — the
    defining result of the theory): posteriors above ``upper`` are
    links, below ``lower`` non-links, and the band between goes to
    clerical review; the two thresholds are chosen to bound the two
    error rates, with the review band absorbing the ambiguity. Pure
    literal projection — rides whatever plan produced the scores."""
    if not 0.0 <= lower <= upper <= 1.0:
        raise ValueError(
            f"fs_decisions: need 0 <= lower <= upper <= 1, got ({lower}, {upper})"
        )
    return scored.withColumn(
        decision_col,
        F.when(F.col(prob_col) >= upper, F.lit("link"))
        .when(F.col(prob_col) < lower, F.lit("nonlink"))
        .otherwise(F.lit("review")),
    )


def decision_sql(lower: float, upper: float, prob_expr: str) -> str:
    """ANSI twin of ``fs_decisions``' CASE (same literals, same order)."""
    if not 0.0 <= lower <= upper <= 1.0:
        raise ValueError(
            f"decision_sql: need 0 <= lower <= upper <= 1, got ({lower}, {upper})"
        )
    return (
        f"(CASE WHEN {prob_expr} >= {_lit(upper)} THEN 'link' "
        f"WHEN {prob_expr} < {_lit(lower)} THEN 'nonlink' "
        f"ELSE 'review' END)"
    )


def frequency_u(records: DataFrame, cols: list[str]) -> dict[str, float]:
    """Exact u per column, the share of pairs of distinct records that
    agree: Σ_v n_v(n_v−1) / (N(N−1)) over the column's value counts n_v.
    One GROUPING SETS ((c1), …, (cK)) aggregate counts every (column,
    value) in one shuffle, on native values, so the groups are the
    ``eqNullSafe`` classes: NULL is one value and -0.0 equals 0.0 (a
    string cast would split them)."""
    k = len(cols)
    # grouping_id sets bit k-1-j for each column j outside the set
    col_of = {(1 << k) - 1 - (1 << (k - 1 - j)): c for j, c in enumerate(cols)}
    n = F.col("_n").cast("decimal(38,0)")
    rows = (
        records.groupingSets([[c] for c in cols], *cols)
        .agg(F.grouping_id().alias("_g"), F.count(F.lit(1)).alias("_n"))
        .groupBy("_g")
        .agg(F.sum(n * (n - 1)).alias("_same"), F.sum(n).alias("_total"))
        .collect()
    )
    got = {col_of[r["_g"]]: (int(r["_same"]), int(r["_total"])) for r in rows}
    total = got[cols[0]][1] if got else 0
    if total < 2:
        raise ValueError("frequency_u: u needs at least two records")
    return {c: got[c][0] / (total * (total - 1)) for c in cols}


class EMFit(NamedTuple):
    m: dict[str, float]
    u: dict[str, float]
    lam: float
    rounds: int
    converged: bool         # False: stopped by the round cap


def estimate_m_u_em(
    pairs: DataFrame,
    agree_cols: list[str],
    n_iter: int = EM_MAX_ROUNDS,
    init_m: float = 0.9,
    init_u: float = 0.1,
    init_lambda: float = 0.1,
    eps: float = 1e-6,
) -> EMFit:
    """Unsupervised EM for (m, u, λ) over binary agreement vectors.

    E-step: r = λ·Π m^γ(1-m)^(1-γ) / (that + (1-λ)·Π u^γ(1-u)^(1-γ)).
    M-step: m_k = Σ r·γ_k / Σ r, u_k = Σ (1-r)·γ_k / Σ (1-r),
    λ = Σ r / n. Parameters are clamped to [eps, 1-eps] so a
    degenerate corpus can't zero a likelihood. EM stops when the
    largest change of any m, u or λ in a round is below ``EM_TOL``;
    ``n_iter`` caps the rounds, and hitting the cap logs a warning.

    r depends on a pair only through its agreement pattern, so every
    sum above is a count-weighted sum over the DISTINCT patterns
    (fastLink, Enamorado, Fifield & Imai, APSR 2019): one
    ``groupBy(agree_*).count()`` — at most 2^K rows, 3^K with NULLs —
    is the only Spark job, and every round runs in numpy on the
    driver. A NULL agreement counts as disagreement in the E-step and
    adds nothing in the M-step.

    Identifiability caveat (standard for this model): with fewer than
    3 comparisons the binary mixture has more parameters than
    observable cell frequencies and EM converges to A valid optimum
    but not necessarily the generating parameters — use k >= 3
    comparisons (as Splink's docs also require) when estimating.
    """
    if n_iter <= 0:
        raise ValueError(f"estimate_m_u_em: n_iter must be positive, got {n_iter}")
    hist = (
        pairs.groupBy(*[F.col(c).cast("double").alias(c) for c in agree_cols])
        .agg(F.count(F.lit(1)).alias("_n"))
        .collect()
    )
    if not hist:
        raise ValueError("estimate_m_u_em: empty pair table")
    cnt = np.array([row["_n"] for row in hist], dtype=np.float64)
    # a NULL agreement becomes NaN, which fails > 0.5
    gamma = np.array([[row[c] for c in agree_cols] for row in hist], dtype=np.float64)
    agree = gamma > 0.5
    weight = np.nan_to_num(gamma, nan=0.0)
    n = float(cnt.sum())

    m = np.full(len(agree_cols), init_m)
    u = np.full(len(agree_cols), init_u)
    lam = init_lambda
    rounds, converged = 0, False
    while rounds < n_iter:
        num = lam * np.where(agree, m, 1.0 - m).prod(axis=1)
        den = (1.0 - lam) * np.where(agree, u, 1.0 - u).prod(axis=1)
        # double underflow guard: with many features the two products
        # can BOTH underflow to 0.0 (num+den == 0 → 0/0 → NaN poisons
        # every sum); an uninformative 0.5 keeps EM moving
        tot = num + den
        with np.errstate(invalid="ignore"):
            r = np.where(tot == 0.0, 0.5, num / tot)
        cr = cnt * r
        sr = float(cr.sum())
        snr = n - sr
        if sr <= 0.0 or snr <= 0.0:
            converged = True  # all mass on one class: a fixed point
            break
        new_m = np.clip(cr @ weight / sr, eps, 1.0 - eps)
        new_u = np.clip((cnt * (1.0 - r)) @ weight / snr, eps, 1.0 - eps)
        new_lam = min(1.0 - eps, max(eps, sr / n))
        step = max(abs(new_lam - lam), np.abs(new_m - m).max(), np.abs(new_u - u).max())
        m, u, lam = new_m, new_u, new_lam
        rounds += 1
        if step < EM_TOL:
            converged = True
            break
    if not converged:
        log.warning("estimate_m_u_em: hit the cap of %d rounds before the "
                    "estimates settled to %g; they depend on the cap", n_iter, EM_TOL)
    m, u = dict(zip(agree_cols, m.tolist())), dict(zip(agree_cols, u.tolist()))
    return EMFit(m, u, float(lam), rounds, converged)
