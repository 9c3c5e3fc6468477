"""Pairwise F1 evaluation on labeled pairs sharing a blocking key.

BASELINE.json metric: "pairwise-match F1 ≥ 0.99 on labeled same-block
pairs". A labeled pair = two docs sharing ≥1 blocking key (content-md5
key or an LSH/simhash key of their representatives); label = planted
truth (same truth_key); prediction = same final cluster_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def doc_level_keys(exact: DataFrame, rep_keys: DataFrame) -> DataFrame:
    """Doc-level blocking keys: the content-md5 key plus the doc's
    representative's sketch keys. exact = s2 stage output."""
    md5_keys = exact.select(
        "doc_id", F.concat(F.lit("md5:"), F.col("content_md5")).alias("block_key")
    )
    sketch = (
        exact.select("doc_id", "rep_id")
        .join(rep_keys.withColumnRenamed("doc_id", "rep_id"), "rep_id")
        .select("doc_id", "block_key")
    )
    return md5_keys.unionByName(sketch).distinct()


def labeled_same_block_pairs(doc_keys: DataFrame, truth: DataFrame) -> DataFrame:
    """Pairs sharing ≥1 key, labeled by planted truth.

    truth = (doc_id, truth_key); singletons never match.
    """
    a = doc_keys.alias("a")
    b = doc_keys.alias("b")
    pairs = (
        a.join(b, "block_key")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("id1"), F.col("b.doc_id").alias("id2"))
        .distinct()
    )
    t1 = truth.select(F.col("doc_id").alias("id1"), F.col("truth_key").alias("tk1"))
    t2 = truth.select(F.col("doc_id").alias("id2"), F.col("truth_key").alias("tk2"))
    return (
        pairs.join(t1, "id1")
        .join(t2, "id2")
        .withColumn(
            "is_match",
            (F.col("tk1") == F.col("tk2")) & ~F.col("tk1").startswith("single:"),
        )
        .select("id1", "id2", "is_match")
    )


def pairwise_f1(labeled: DataFrame, clusters: DataFrame) -> dict[str, float]:
    """Precision/recall/F1 of 'same final cluster' vs labels."""
    c1 = clusters.select(F.col("doc_id").alias("id1"), F.col("cluster_id").alias("c1"))
    c2 = clusters.select(F.col("doc_id").alias("id2"), F.col("cluster_id").alias("c2"))
    scored = (
        labeled.join(c1, "id1")
        .join(c2, "id2")
        .withColumn("pred", F.col("c1") == F.col("c2"))
    )
    agg = scored.agg(
        F.sum(F.when(F.col("pred") & F.col("is_match"), 1).otherwise(0)).alias("tp"),
        F.sum(F.when(F.col("pred") & ~F.col("is_match"), 1).otherwise(0)).alias("fp"),
        F.sum(F.when(~F.col("pred") & F.col("is_match"), 1).otherwise(0)).alias("fn"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    tp, fp, fn = int(agg["tp"]), int(agg["fp"]), int(agg["fn"])
    precision = tp / (tp + fp) if tp + fp else 1.0
    recall = tp / (tp + fn) if tp + fn else 1.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    return {
        "precision": precision,
        "recall": recall,
        "f1": f1,
        "tp": tp,
        "fp": fp,
        "fn": fn,
        "n_labeled_pairs": int(agg["n"]),
    }


def cluster_exactness(clusters: DataFrame, truth: DataFrame) -> dict[str, int]:
    """Linear-cost perfect-clustering check (for corpora whose hot
    blocks make the pairwise-labeled set quadratic: a 20k-copy
    boilerplate block alone yields ~2×10^8 labeled pairs).

    Returns counts of violations:
      * ``split_truth_clusters`` — planted dup clusters spread over >1
        predicted cluster (each such split implies ≥1 FN pair);
      * ``impure_pred_clusters`` — predicted clusters mixing >1 truth
        key (each implies ≥1 FP pair).

      * ``missing_docs`` — truth docs absent from the clustering
        entirely (a lossy pipeline would otherwise pass the inner-join
        checks while every planted pair it dropped is a false
        negative).

    All three zero ⇔ predicted-same-cluster coincides exactly with
    truth-same-cluster on every pair of docs (singletons carry unique
    truth keys), hence pairwise precision = recall = F1 = 1.0 over ANY
    labeled subset — the BASELINE.json metric — without materializing
    a single pair. Any nonzero count ⇒ the clustering is not exact;
    fall back to ``pairwise_f1`` on a capped corpus to quantify."""
    missing = (
        truth.select("doc_id")
        .join(clusters.select("doc_id"), "doc_id", "left_anti")
        .count()
    )
    j = clusters.join(truth, "doc_id")
    split = (
        j.where(~F.col("truth_key").startswith("single:"))
        .groupBy("truth_key")
        .agg(F.countDistinct("cluster_id").alias("n"))
        .where(F.col("n") > 1)
        .count()
    )
    impure = (
        j.groupBy("cluster_id")
        .agg(F.countDistinct("truth_key").alias("n"))
        .where(F.col("n") > 1)
        .count()
    )
    return {
        "split_truth_clusters": split,
        "impure_pred_clusters": impure,
        "missing_docs": missing,
    }


def blocking_quality(pairs: DataFrame, truth: DataFrame) -> dict[str, float | int]:
    """The standard blocking-scheme metrics (Christen, "Data Matching",
    2012 §7.4): given candidate pairs(id1, id2) and planted
    truth(doc_id, truth_key),

      * pair completeness PC = found true pairs / all true pairs
        (blocking recall — what the downstream matcher can still find);
      * reduction ratio  RR = 1 - |candidates| / C(n, 2)
        (how much of the quadratic comparison space was pruned);
      * pairs quality    PQ = found true pairs / |candidates|
        (blocking precision — candidate-budget efficiency).

    Everything reduces to three O(1)-row aggregates (the pairwise_f1
    cost class): total true pairs is a per-truth-key C(size, 2) sum —
    never materialized pairwise — and candidates are flagged with two
    inner equi-joins on doc_id. Records with a NULL truth key, or absent
    from ``truth``, are unlabeled: they are outside n, and a candidate
    touching one is outside |candidates| (the population C(n, 2) counts),
    so RR and PQ stay in [0, 1]. Vacuous denominators resolve to 1.0 (an
    empty candidate set over an all-singleton corpus is complete)."""
    t = truth.where(F.col("truth_key").isNotNull())
    tot = (
        t.groupBy("truth_key")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .agg(
            F.sum(F.expr("cnt * (cnt - 1) div 2")).alias("true_pairs"),
            F.sum("cnt").alias("n"),
        )
        .first()
    )
    n = int(tot["n"] or 0)
    true_pairs = int(tot["true_pairs"] or 0)
    t1 = t.select(F.col("doc_id").alias("id1"), F.col("truth_key").alias("tk1"))
    t2 = t.select(F.col("doc_id").alias("id2"), F.col("truth_key").alias("tk2"))
    cand = pairs.select("id1", "id2").join(t1, "id1").join(t2, "id2")
    agg = cand.agg(
        F.count(F.lit(1)).alias("n_cand"),
        F.sum(F.when(F.col("tk1") == F.col("tk2"), 1).otherwise(0)).alias("tp"),
    ).first()
    n_cand, tp = int(agg["n_cand"]), int(agg["tp"] or 0)
    all_pairs = n * (n - 1) // 2
    return {
        "n_records": n,
        "n_true_pairs": true_pairs,
        "n_candidates": n_cand,
        "n_true_candidates": tp,
        "pair_completeness": tp / true_pairs if true_pairs else 1.0,
        "reduction_ratio": 1.0 - n_cand / all_pairs if all_pairs else 1.0,
        "pairs_quality": tp / n_cand if n_cand else 1.0,
    }


def pairwise_f1_scalable(
    exact: DataFrame,
    rep_keys: DataFrame,
    truth: DataFrame,
    clusters: DataFrame,
) -> dict[str, float]:
    """EXACT pairwise F1 on labeled same-block pairs at near-linear
    cost — the hot-block-safe evaluator.

    ``pairwise_f1`` materializes every labeled pair; a 20k-copy
    boilerplate block alone is C(20k,2) ≈ 2×10^8 pairs, which is
    quadratic evaluation cost for a pipeline that is itself linear on
    that block (exact collapse). This computes the identical counts by
    decomposition; every labeled pair falls in exactly one family:

    * **md5 family** (pairs sharing the content-md5 key, i.e. same
      bytes): per md5 group, truth and predicted cluster must both be
      uniform (verified); the group then contributes C(n,2) TPs —
      counted analytically. Non-uniform groups (md5 collisions /
      split-identical-content bugs) invalidate the decomposition, so
      the evaluator RAISES instead of reporting a silently-wrong F1;
      quantify with the dense evaluator on a capped corpus.
    * **sketch family** (pairs sharing a representative sketch key but
      differing in md5): generated at REPRESENTATIVE level — two reps
      r1, r2 sharing a block contribute n1×n2 doc pairs, all with the
      same (is_match, pred) status because md5 groups are truth- and
      cluster-uniform (checked above) — so counts expand by n1×n2
      without materializing doc pairs.

    Returns the same dict as ``pairwise_f1`` (plus
    ``mixed_md5_groups``), and equals it exactly when md5 groups are
    uniform — asserted in tests on corpora where both are computable.
    """
    j = (
        exact.select("doc_id", "content_md5", "rep_id")
        .join(truth, "doc_id")
        .join(clusters, "doc_id")
    )
    g = j.groupBy("content_md5").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("truth_key").alias("nd_truth"),
        F.countDistinct("cluster_id").alias("nd_cluster"),
        F.first("truth_key").alias("tk"),
        F.first("cluster_id").alias("cid"),
        F.first("rep_id").alias("rep_id"),
    )
    uniform = g.where((F.col("nd_truth") == 1) & (F.col("nd_cluster") == 1))
    mixed = g.where((F.col("nd_truth") > 1) | (F.col("nd_cluster") > 1))
    n_mixed = mixed.count()
    if n_mixed:
        # A non-uniform md5 group means a split-within-identical-content
        # bug (or an md5 collision): the rep-level expansion below would
        # then be WRONG for every cross-block pair touching the group,
        # silently overstating F1 exactly when the pipeline is broken.
        # Refuse rather than report a wrong number — the dense
        # evaluator (pairwise_f1 on a capped corpus) quantifies it.
        raise ValueError(
            f"{n_mixed} md5 group(s) are not truth/cluster-uniform; the "
            "decomposition is invalid — run pairwise_f1 on a capped "
            "corpus to quantify the damage"
        )

    # Docs dropped from the clustering would silently vanish from the
    # joined view and inflate F1; a lossy pipeline must fail the eval.
    n_dropped = exact.select("doc_id").join(
        clusters.select("doc_id"), "doc_id", "left_anti"
    ).count()
    if n_dropped:
        raise ValueError(
            f"{n_dropped} doc(s) missing from the clustering — pairwise "
            "metrics over the surviving rows would overstate quality"
        )

    # md5 family, uniform groups: same md5 ⇒ same truth text ⇒ match
    # unless the (unique-per-doc) singleton key, which can't repeat.
    md5_tp = int(
        uniform.where(F.col("n") >= 2)
        .agg(F.coalesce(F.sum(F.col("n") * (F.col("n") - 1) / 2), F.lit(0)))
        .collect()[0][0]
    )

    # sketch family at rep level: md5 groups proven uniform above, so a
    # rep pair's n1*n2 doc pairs all share one (is_match, pred) status
    reps = uniform.select(
        F.col("rep_id").alias("rid"), "n", "tk", "cid", "content_md5"
    )
    rk = rep_keys.select(F.col("doc_id").alias("rid"), "block_key")
    a = rk.alias("a")
    b = rk.alias("b")
    rep_pairs = (
        a.join(b, "block_key")
        .where(F.col("a.rid") < F.col("b.rid"))
        .select(F.col("a.rid").alias("r1"), F.col("b.rid").alias("r2"))
        .distinct()
    )
    i1 = reps.select(
        F.col("rid").alias("r1"), F.col("n").alias("n1"), F.col("tk").alias("tk1"),
        F.col("cid").alias("c1"), F.col("content_md5").alias("m1"),
    )
    i2 = reps.select(
        F.col("rid").alias("r2"), F.col("n").alias("n2"), F.col("tk").alias("tk2"),
        F.col("cid").alias("c2"), F.col("content_md5").alias("m2"),
    )
    weighted = (
        rep_pairs.join(i1, "r1")
        .join(i2, "r2")
        .where(F.col("m1") != F.col("m2"))  # md5 family owns equal-md5 pairs
        .select(
            (F.col("n1") * F.col("n2")).cast("long").alias("w"),
            (
                (F.col("tk1") == F.col("tk2")) & ~F.col("tk1").startswith("single:")
            ).alias("is_match"),
            (F.col("c1") == F.col("c2")).alias("pred"),
        )
    )
    r = weighted.agg(
        F.sum(F.when(F.col("pred") & F.col("is_match"), F.col("w")).otherwise(0)).alias("tp"),
        F.sum(F.when(F.col("pred") & ~F.col("is_match"), F.col("w")).otherwise(0)).alias("fp"),
        F.sum(F.when(~F.col("pred") & F.col("is_match"), F.col("w")).otherwise(0)).alias("fn"),
        F.coalesce(F.sum("w"), F.lit(0)).alias("n_pairs"),
    ).collect()[0]
    tp = md5_tp + int(r["tp"] or 0)
    fp = int(r["fp"] or 0)
    fn = int(r["fn"] or 0)
    precision = tp / (tp + fp) if tp + fp else 1.0
    recall = tp / (tp + fn) if tp + fn else 1.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    return {
        "precision": precision,
        "recall": recall,
        "f1": f1,
        "tp": tp,
        "fp": fp,
        "fn": fn,
        "n_labeled_pairs": md5_tp + int(r["n_pairs"] or 0),
        "mixed_md5_groups": n_mixed,
    }
