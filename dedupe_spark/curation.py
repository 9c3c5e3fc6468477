"""End-to-end training-corpus curation: the LLM-data counterpart of
the ER pipeline, composing the catalog's operators into one job.

  docs(doc_id, text, lang)
    ─ C0 hygiene:  OPTIONAL text cleanup before anything hashes the
                   text — corpus-boilerplate strip (bounded wordcount +
                   literal-filter projection), intra-doc repetition
                   removal, PII scrub (operators/repetition.py,
                   functions/pii.py). Runs FIRST so that dedup keys,
                   quality scores and token budgets all see the text
                   that will actually ship in the shards.
    ─ C1 score:    heuristic quality per doc (functions/text.py)
    ─ C2 exact:    md5 collapse, KEEP-BEST copy (quality desc, doc_id
                   asc) — the 10^6-copy boilerplate block costs one
                   groupBy, never pairwise work
    ─ C3 near:     MinHash-LSH band keys → skew-safe candidate pairs →
                   doc-major token-Jaccard refine (each survivor
                   shingled ONCE, candidates refined with the JVM
                   array kernel) → connected components → keep the
                   best-quality doc per near-dup cluster
    ─ C4 gate:     per-language quality gate (broadcast
                   approx-percentile thresholds — no stratum sort)
    ─ C5 shards:   token counting + token-budget shard packing
                   (distributed prefix sum)

Every stage is a lazy DataFrame transform; nothing is collected. The
shuffles are: one md5 groupBy (C2), the band-key join + doc_id
attach joins + CC rounds (C3), one tiny threshold aggregate (C4), and
the prefix-sum window pair (C5) — each individually audited by the
catalog queries this job composes.
"""

from __future__ import annotations

import itertools
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dedupe_spark.functions.similarity import (
    jaccard_from_shingles,
    shingle_hashes_udf,
)
from dedupe_spark.functions.text import quality_score, token_count
from dedupe_spark.operators.blocking import block_keys
from dedupe_spark.operators.cc import assign_all
from dedupe_spark.operators.packing import pack_shards
from dedupe_spark.operators.pairs import generate_pairs
from dedupe_spark.operators.quality import quantile_gate
from dedupe_spark.sources.checkpoints import materialize


# per-invocation scratch suffix: two curate_corpus results held at the
# same time must not alias one scratch dir (the second write would
# corrupt the first result's still-lazy plan); the cost is one small
# scratch dir per invocation under /tmp, reclaimed on process exit
_SCRATCH_SEQ = itertools.count()


@dataclass
class CurationConfig:
    n_bands: int = 32
    rows_per_band: int = 3
    hot_threshold: int = 1000
    salt_buckets: int = 16
    # token-Jaccard refine threshold for a candidate pair to count as
    # a near-duplicate (0.8 is the standard MinHash-dedup operating
    # point, cf. Lee et al. 2021)
    jaccard_threshold: float = 0.8
    # per-language kept fraction by quality (1.0 disables the gate)
    keep_top: float = 1.0
    # tokens per training shard
    shard_tokens: int = 100_000
    # C0 text hygiene (all off by default — opt-in cleanup)
    scrub_pii: bool = False
    dedup_within_doc: bool = False
    # strip units present in >= this fraction of docs (None = off)
    boilerplate_doc_frac: float | None = None
    # C3.5 semantic dedup (None = off): cosine threshold for SemDeDup
    # paraphrase removal over the input's `embedding` column — catches
    # templated rewrites whose token sets the lexical C3 can't see.
    # 0.95 is the paper's conservative operating point.
    semantic_eps: float | None = None
    # quantizer cells for C3.5 (None = auto, ~10k vectors/cell)
    semantic_cells: int | None = None
    # unit granularity for the C0 unit operators: split regex + re-join
    # literal. LINES are the production unit (repetition.py's contract —
    # C4/RefinedWeb dedup lines/spans, not words): at token granularity
    # dedup_within_doc would delete every repeated word in a document
    # and boilerplate_doc_frac would strip common stopwords from every
    # doc. Whitespace units (r"\s+", " ") remain available for
    # newline-free fixtures only.
    hygiene_unit_sep: str = "\n"
    hygiene_join_sep: str = "\n"


def curate_corpus(
    spark: SparkSession,
    docs: DataFrame,
    config: CurationConfig | None = None,
    scratch_dir: str | None = None,
) -> dict[str, DataFrame]:
    """Curate ``docs(doc_id, text, lang)`` → deduped, gated, sharded.

    Returns the stage DataFrames: ``hygiene`` (post optional C0
    cleanup), ``scored``, ``exact`` (post exact dedup), ``near_edges``,
    ``deduped`` (post near dedup), optionally ``semantic_groups`` /
    ``semantic`` (post C3.5 SemDeDup paraphrase removal — requires an
    ``embedding`` column on the input and ``semantic_eps`` set),
    ``gated``, ``shards`` (final docs with ``shard_id``), and
    ``shard_report`` (per-shard doc/token rollup). Deterministic at any
    parallelism — ids, hashes, and tie-breaks are all
    content/key-driven.

    ``scratch_dir`` routes the materialized intermediates to shared
    storage — REQUIRED on a multi-node cluster (the default local
    tempdir is only visible to one machine; ADVICE r3).
    jobs/curate_corpus.py always passes it.
    """
    cfg = config or CurationConfig()
    out: dict[str, DataFrame] = {}
    seq = next(_SCRATCH_SEQ)
    # original input, BEFORE the C0 text projections: C3.5 joins the
    # `embedding` column back from here by doc_id
    emb_src = docs

    # C0 — text hygiene (optional, projections only). Order matters:
    # boilerplate removal sees the raw corpus (its doc-frequency count
    # must not be skewed by intra-doc dedup), then repeated units go,
    # then PII placeholders land last so the earlier unit ops never
    # split or count a '<EMAIL>' token.
    if cfg.boilerplate_doc_frac is not None:
        from dedupe_spark.operators.repetition import remove_boilerplate_units

        docs = remove_boilerplate_units(
            docs,
            sep=cfg.hygiene_unit_sep,
            join_sep=cfg.hygiene_join_sep,
            min_doc_frac=cfg.boilerplate_doc_frac,
        ).select("doc_id", F.col("clean_text").alias("text"), "lang")
    if cfg.dedup_within_doc:
        from dedupe_spark.operators.repetition import dedup_units

        docs = docs.withColumn(
            "text",
            dedup_units(F.col("text"), cfg.hygiene_unit_sep, cfg.hygiene_join_sep),
        )
    if cfg.scrub_pii:
        from dedupe_spark.functions.pii import scrub_pii

        docs = docs.withColumn("text", scrub_pii(F.col("text")))
    out["hygiene"] = docs

    # C1 — quality scoring (pure JVM expressions)
    scored = docs.select(
        "doc_id", "text", "lang",
        F.round(quality_score(F.col("text")), 6).alias("quality"),
    )
    out["scored"] = scored

    # C2 — exact dedup, keep-best copy (same shape as canonical_docs)
    w_exact = Window.partitionBy("_md5").orderBy(
        F.col("quality").desc(), F.col("doc_id").asc()
    )
    # materialized (checkpoint-to-scratch, not .persist — no storage
    # leak): C3 consumes `exact` from FOUR plan branches (band keys,
    # both text-attach joins, the CC node set, the cluster join); an
    # unmaterialized plan re-runs the md5 window per branch
    exact = materialize(
        scored.withColumn("_md5", F.md5("text"))
        .withColumn("_rn", F.row_number().over(w_exact))
        .where(F.col("_rn") == 1)
        .drop("_md5", "_rn"),
        f"curation_exact_{seq}",
        scratch_dir=scratch_dir,
    )
    out["exact"] = exact

    # C3 — near-dup suppression on the exact survivors
    keys = block_keys(
        exact.select("doc_id", "text"),
        use_minhash=True,
        use_simhash=False,
        n_bands=cfg.n_bands,
        rows_per_band=cfg.rows_per_band,
    )
    pairs, _capped = generate_pairs(
        keys, hot_threshold=cfg.hot_threshold, salt_buckets=cfg.salt_buckets
    )
    # doc-major Jaccard refine: shingle-hash each exact-survivor ONCE
    # (the s3 sketches' numpy hasher) — materialized, both pair-side
    # joins consume it — and refine candidates with the JVM array
    # kernel instead of re-tokenizing texts per pair in Python. Values
    # identical to token_jaccard barring a 64-bit shingle-hash
    # collision (~1e-12/pair).
    sh_tbl = materialize(
        exact.select("doc_id", shingle_hashes_udf(F.col("text")).alias("sh")),
        f"curation_shingles_{seq}",
        scratch_dir=scratch_dir,
    )
    near_edges = (
        pairs.join(
            sh_tbl.select(F.col("doc_id").alias("id1"), F.col("sh").alias("sh1")), "id1"
        )
        .join(
            sh_tbl.select(F.col("doc_id").alias("id2"), F.col("sh").alias("sh2")), "id2"
        )
        .withColumn("_j", jaccard_from_shingles(F.col("sh1"), F.col("sh2")))
        .where(F.col("_j") >= cfg.jaccard_threshold)
        .select(F.col("id1").alias("src"), F.col("id2").alias("dst"))
    )
    out["near_edges"] = near_edges
    clusters = assign_all(
        exact.select(F.col("doc_id").alias("node")), near_edges
    ).select(F.col("node").alias("doc_id"), "cluster_id")
    w_near = Window.partitionBy("cluster_id").orderBy(
        F.col("quality").desc(), F.col("doc_id").asc()
    )
    deduped = (
        exact.join(clusters, "doc_id")
        .withColumn("_rn", F.row_number().over(w_near))
        .where(F.col("_rn") == 1)
        .drop("_rn", "cluster_id")
    )
    out["deduped"] = deduped

    # C3.5 — semantic dedup (optional; SemDeDup shape): paraphrases and
    # templated rewrites share an embedding neighborhood but not a token
    # set, so they sail through C3's Jaccard refine. Runs on the C3
    # SURVIVORS only (the lexical stages already shrank the corpus), with
    # embeddings joined back from the ORIGINAL input — the hygiene
    # projections deliberately carry text columns only.
    if cfg.semantic_eps is not None:
        from dedupe_spark.operators.semantic import semantic_dedup

        if "embedding" not in emb_src.columns:
            raise ValueError(
                "CurationConfig.semantic_eps requires an `embedding` "
                "column (array<float/double>) on the input docs"
            )
        vecs = deduped.select(F.col("doc_id").alias("vec_id")).join(
            emb_src.select(F.col("doc_id").alias("vec_id"), "embedding"),
            "vec_id",
        )
        groups = semantic_dedup(
            vecs,
            eps=cfg.semantic_eps,
            n_cells=cfg.semantic_cells,
            scratch_dir=scratch_dir,
            hot_threshold=cfg.hot_threshold,
            salt_buckets=cfg.salt_buckets,
        )
        out["semantic_groups"] = groups
        keep = groups.where(F.col("kept")).select(F.col("vec_id").alias("doc_id"))
        deduped = deduped.join(keep, "doc_id", "left_semi")
        out["semantic"] = deduped

    # C4 — per-language quality gate (scale path: broadcast thresholds)
    gated = (
        quantile_gate(deduped, "quality", "lang", keep_top=cfg.keep_top)
        if cfg.keep_top < 1.0
        else deduped
    )
    out["gated"] = gated

    # C5 — token counting + shard packing. pack_shards consumes its
    # input from three plan branches (min/max bounds, bucket partials,
    # final join) — materialize so the dedup+gate chain runs once
    counted = materialize(
        gated.withColumn("n_tokens", token_count(F.col("text"))),
        f"curation_counted_{seq}",
        scratch_dir=scratch_dir,
    )
    shards = pack_shards(
        counted, order_col="doc_id", weight_col="n_tokens",
        budget=cfg.shard_tokens,
    )
    out["shards"] = shards
    out["shard_report"] = shards.groupBy("shard_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
    )
    return out
