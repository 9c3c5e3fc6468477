"""End-to-end probabilistic record linkage (the Splink job shape).

Composes the round-5 ER operators into the standard unsupervised
linkage flow the reference's fixed md5-equality pipeline cannot
express:

  blocking keys → candidate pairs (skew-split, optional CNP prune)
  → binary agreement vectors; exact u from value frequencies seeds
  EM → (m, u, λ) → Fellegi–Sunter posterior scores → threshold →
  transitive closure → golden records.

Every stage is the already-tested operator (pairs.generate_pairs,
metablocking.prune_cnp, fs.*, cc.assign_all,
survivorship.golden_records); this module only wires them. Scale
notes live with each operator. The (id1, id2, agree_*) table is built
once and lineage-truncated (localCheckpoint), then feeds both EM and
scoring; it stays persisted until ``LinkageResult.release()``. The
collects here are EM's agreement-pattern histogram (at most 3^K rows
for K comparisons) and K value-frequency sums.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dedupe_spark.operators.cc import assign_all, release_checkpoint
from dedupe_spark.operators.fs import (
    EM_MAX_ROUNDS,
    FSFeature,
    estimate_m_u_em,
    frequency_u,
    fs_score,
)
from dedupe_spark.operators.pairs import generate_pairs


@dataclass
class LinkageConfig:
    compare_cols: list[str] = field(default_factory=list)
    # posterior P(match) cut. 0.85, not 0.9: with ONE informative
    # comparison (the common real-data case — EM drops the rest) the
    # posterior ceiling is prior_odds × (m/u) / (1 + same); at λ ≈ 0.1
    # and an m/u ratio near the eps ceiling that tops out around 0.89,
    # so 0.9 silently links nothing. Raise it when several strong
    # comparisons survive.
    threshold: float = 0.85
    em_iters: int = EM_MAX_ROUNDS   # cap; EM stops once its estimates settle
    cnp_k: int | None = None        # optional meta-blocking prune
    hot_threshold: int = 1000
    salt_buckets: int = 16
    max_block_size: int | None = 100_000
    eps: float = 1e-6               # parameter floor/ceiling


@dataclass
class LinkageResult:
    clusters: DataFrame             # (doc_id, cluster_id)
    scored: DataFrame               # (id1, id2, agree_*, match_weight, match_prob)
    m: dict[str, float]
    u: dict[str, float]
    lam: float
    dropped_features: list[str]     # EM found them uninformative (m <= u)
    em_rounds: int
    em_converged: bool              # False: EM hit the em_iters cap
    _pair_feats: DataFrame = field(repr=False)

    def release(self) -> None:
        """Unpersist the lineage-truncated agreement table. ``scored``
        reads it (``clusters`` does not), so call this once ``scored``
        is written or no longer needed."""
        release_checkpoint(self._pair_feats)


def _agreements(pairs: DataFrame, records: DataFrame, id_col: str, cols: list[str]) -> DataFrame:
    """Attach null-safe equality agreement flags for each compare col.

    Two equi-joins on the id (the attach_texts shape); NULL <=> NULL
    counts as agreement only when both sides are NULL-free — eqNullSafe
    keeps a NULL pair from poisoning the boolean column."""
    left = records.select(
        F.col(id_col).alias("id1"), *[F.col(c).alias(f"{c}_1") for c in cols]
    )
    right = records.select(
        F.col(id_col).alias("id2"), *[F.col(c).alias(f"{c}_2") for c in cols]
    )
    out = pairs.join(left, "id1").join(right, "id2")
    for c in cols:
        out = out.withColumn(
            f"agree_{c}", F.col(f"{c}_1").eqNullSafe(F.col(f"{c}_2"))
        )
    return out.select("id1", "id2", *[f"agree_{c}" for c in cols])


def link_records(
    records: DataFrame,
    keys: DataFrame,
    config: LinkageConfig,
    id_col: str = "doc_id",
) -> LinkageResult:
    """records(id, compare cols…) + keys(doc_id, block_key) → resolved
    clusters with EM-estimated Fellegi–Sunter parameters.

    Features whose EM estimates come out uninformative (m <= u — the
    comparison does not separate the classes on THIS data) are dropped
    with a record in ``dropped_features`` rather than scored with a
    negative-evidence weight the model's assumptions don't support.
    """
    if not config.compare_cols:
        raise ValueError("link_records: compare_cols must name at least one comparison")
    agree_cols = [f"agree_{c}" for c in config.compare_cols]

    pairs, _ = generate_pairs(
        keys,
        hot_threshold=config.hot_threshold,
        salt_buckets=config.salt_buckets,
        max_block_size=config.max_block_size,
        cnp_k=config.cnp_k,
    )

    # EM's histogram and the scoring below both read this table, so
    # pair generation and the agreement joins run once, not twice
    pair_feats = _agreements(pairs, records, id_col, config.compare_cols).localCheckpoint(
        eager=True
    )

    # exact u (value frequencies over the records) seeds EM on the
    # right side of the mixture; EM then refines both classes on the
    # candidate pairs themselves
    u0 = frequency_u(records, config.compare_cols)
    u0 = {c: min(1 - config.eps, max(config.eps, v)) for c, v in u0.items()}

    m, u, lam, em_rounds, em_converged = estimate_m_u_em(
        pair_feats,
        agree_cols,
        n_iter=config.em_iters,
        init_m=0.95,
        init_u=sum(u0.values()) / len(u0),
        init_lambda=0.1,
        eps=config.eps,
    )

    features, dropped = [], []
    for c in config.compare_cols:
        ac = f"agree_{c}"
        if m[ac] <= u[ac]:
            dropped.append(c)
            continue
        features.append(FSFeature(c, m=m[ac], u=u[ac]))
    if not features:
        release_checkpoint(pair_feats)
        raise ValueError(
            "link_records: EM found no informative comparison "
            f"(m <= u for all of {config.compare_cols}) — the blocking "
            "produced candidates these columns cannot separate"
        )

    scored = fs_score(pair_feats, features, prior=lam)
    edges = scored.where(F.col("match_prob") >= config.threshold).select(
        F.col("id1").alias("src"), F.col("id2").alias("dst")
    )
    nodes = records.select(F.col(id_col).alias("node"))
    clusters = assign_all(nodes, edges).select(
        F.col("node").alias(id_col), "cluster_id"
    )
    return LinkageResult(
        clusters=clusters,
        scored=scored,
        m=m,
        u=u,
        lam=lam,
        dropped_features=dropped,
        em_rounds=em_rounds,
        em_converged=em_converged,
        _pair_feats=pair_feats,
    )
