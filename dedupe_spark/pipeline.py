"""End-to-end entity-resolution pipeline (SURVEY.md §7.1), resumable.

Stage graph (each stage a pure DataFrame transform, committed via
StageIO so a killed job resumes from the last completed stage without
recomputing scored pairs — north_rule):

  pages ─ S1 extract ─ docs
        ─ S2 exact:   md5 groupBy → exact clusters, one representative
                      per distinct content (NO pairwise work for exact
                      duplicates — the hot boilerplate block collapses
                      to a single representative here, which is the
                      single most important scale decision in the whole
                      pipeline: a 10^6-copy boilerplate page costs one
                      groupBy, not 10^12 pairs)
        ─ S3 keys:    MinHash-LSH + SimHash band keys on representatives
        ─ S4 pairs:   salted/skew-split canonical self-join
        ─ S5 scored:  JW / Levenshtein / Jaccard / TF-cosine features
                      + logistic comparator scores (one stage commit)
        ─ S7 cluster: large-star/small-star CC over
                      (match edges ∪ doc→representative star edges)
        ─ S8 report:  cluster rollups

Reference lineage: EP1 refresh() (Dedupe.java:81-200) restated as one
declarative DAG — the Solr facet is S2/S3's groupBy, the per-block
query loop is S4's join, the md5-on-demand is S5, tag propagation
(DedupeJar.java:321-383) generalizes to S7.
"""

from __future__ import annotations

import logging
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dedupe_spark.functions.text import content_hash
from dedupe_spark.operators import scoring
from dedupe_spark.operators.blocking import block_keys
from dedupe_spark.operators.cc import assign_all
from dedupe_spark.operators.extract import extract_docs
from dedupe_spark.operators.pairs import attach_texts, generate_pairs
from dedupe_spark.sources.checkpoints import StageIO

log = logging.getLogger(__name__)

# Canonical stage order; valid --stop-after values (s8_report ≡ full run).
STAGES = (
    "s1_docs",
    "s2_exact",
    "s3_keys",
    "s4_pairs",
    "s5_scored",
    "s7_clusters",
    "s8_report",
)


@dataclass
class PipelineConfig:
    n_bands: int = 32
    # rows_per_band=3 (not 4): measured at 400k pages, r=4 misses ~2 of
    # 52k planted near-dup clusters whose shortest-doc pairs sit at
    # Jaccard ≈ 0.5 (per-pair band-collision prob ~0.8 at J=0.47);
    # r=3 lifts that to ~0.97, recovers every cluster, and costs only
    # +0.8% scored pairs (3.19M vs 3.17M) — see STATUS.md round 2.
    rows_per_band: int = 3
    hot_threshold: int = 1000
    salt_buckets: int = 16
    max_block_size: int | None = 100_000
    threshold: float = scoring.DEFAULT_THRESHOLD
    weights: dict = field(default_factory=lambda: dict(scoring.DEFAULT_WEIGHTS))
    bias: float = scoring.DEFAULT_BIAS
    use_simhash: bool = True
    # recall-critical preset knobs: extra predicate-key families
    # (url-domain needs `url` on the docs; sampled n-grams add ~len/mod
    # keys per doc — both off by default, minhash+simhash reach F1=1.0
    # on the planted corpus without them)
    use_ngrams: bool = False
    use_domain: bool = False
    # corpus-level IDF weighting for the tf_cosine feature (SURVEY §2.8
    # HashingTF+IDF target): one bounded-cardinality aggregation over
    # the representatives builds a ~512 KB IDF vector, broadcast to the
    # feature UDF. Off by default — the pair-local log-TF cosine
    # reaches F1=1.0 on the planted corpus without it, and skipping the
    # extra corpus pass is the cheaper default.
    use_global_idf: bool = False
    # crawl-level URL dedup ahead of S1: keep only the newest fetch per
    # CANONICAL url (functions/urls.py — www/port/fragment/tracking-param
    # variants and refetches collapse before any content work). Off by
    # default: the synthetic corpus has one fetch per url, and real
    # crawls opt in.
    crawl_url_dedup: bool = False
    # meta-blocking CNP prune (operators/metablocking.py): when set,
    # s4 keeps a pair only if it ranks in the top-k CBS-weighted edges
    # of at least one endpoint. Duplicate pairs co-occur in MANY band
    # blocks (high CBS) while coincidental co-blockers share one or
    # two, so a small k removes the weakly-vouched tail of the
    # candidate set BEFORE the expensive feature stage — the knob to
    # reach for when a 100-TB corpus's pairs-scored budget, not
    # recall, is the binding constraint. Off by default (the planted
    # corpus needs every candidate scored for the F1=1.0 gate; k=2
    # preserves it there — see test_pipeline).
    meta_blocking_cnp_k: int | None = None


class PipelineRun(dict[str, DataFrame]):
    """The stage frames one run reached, keyed by stage name.

    ``skipped[stage]`` is True where the stage was read from its commit
    (a resume) and False where this run built it."""

    def __init__(self) -> None:
        super().__init__()
        self.skipped: dict[str, bool] = {}


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    work_dir: str,
    config: PipelineConfig | None = None,
    stop_after: str | None = None,
) -> PipelineRun:
    """Run (or resume) the pipeline. Every stage commits through
    ``StageIO``, so a rerun reads each committed stage instead of
    building it; its lineage is the stage before it.

    ``stop_after`` ends the run after that stage (tests use it to
    simulate a kill after stage k); any value outside ``STAGES`` raises.
    """
    if stop_after is not None and stop_after not in STAGES:
        raise ValueError(f"stop_after={stop_after!r} is not a stage; expected one of {STAGES}")
    cfg = config or PipelineConfig()
    io = StageIO(spark, work_dir)
    out = PipelineRun()

    if cfg.crawl_url_dedup:
        from dedupe_spark.functions.urls import dedup_fetches

        pages = dedup_fetches(pages)

    # S2: exact-duplicate collapse. rep_id = min doc_id per content hash.
    # Texts are NOT re-stored here (they live in s1): at 100 TB the text
    # column dominates the table, and s2's consumers need only ids and
    # hashes — representatives re-join their text from s1 on demand.
    def build_exact() -> DataFrame:
        hashed = out["s1_docs"].withColumn("content_md5", content_hash(F.col("text")))
        w_min = hashed.groupBy("content_md5").agg(F.min("doc_id").alias("rep_id"))
        return hashed.join(w_min, "content_md5").select(
            "doc_id", "url", "lang", "n_chars", "content_md5", "rep_id"
        )

    def reps() -> DataFrame:
        rep_cols = ["doc_id", "url", "text"] if cfg.use_domain else ["doc_id", "text"]
        return (
            out["s2_exact"].where(F.col("doc_id") == F.col("rep_id"))
            .select("doc_id")
            .join(out["s1_docs"].select(*rep_cols), "doc_id")
        )

    def build_keys() -> DataFrame:
        return block_keys(
            reps(),
            use_minhash=True,
            use_simhash=cfg.use_simhash,
            use_ngrams=cfg.use_ngrams,
            use_domain=cfg.use_domain,
            n_bands=cfg.n_bands,
            rows_per_band=cfg.rows_per_band,
        )

    def build_pairs() -> DataFrame:
        p, capped = generate_pairs(
            out["s3_keys"],
            hot_threshold=cfg.hot_threshold,
            salt_buckets=cfg.salt_buckets,
            max_block_size=cfg.max_block_size,
            cnp_k=cfg.meta_blocking_cnp_k,
        )
        n_capped = capped.count()
        if n_capped:
            # never silent (SURVEY.md §7.4) — surfaced in logs + metrics
            log.warning(
                "%d blocks exceeded max_block_size=%s and were capped",
                n_capped,
                cfg.max_block_size,
            )
        return p

    # S5: features + scores in ONE materialized stage — the expensive
    # compute is the feature UDFs; the affine+sigmoid score is one more
    # column, and a separate commit would double the write of the
    # largest intermediate. Resume-from-here still never recomputes a
    # scored pair (north_rule). Features are the per-pair text UDFs
    # (scoring.pair_features), run on the s4 candidates only — the
    # same s5 as the catalog's q_er_pipeline_clusters.
    def build_scored() -> DataFrame:
        r = reps()
        idf = None
        if cfg.use_global_idf:
            from dedupe_spark.functions.similarity import compute_idf

            # IDF over the representatives — the population the pairs
            # are drawn from; computed only when s5 actually builds
            # (a resume with s5 committed never pays the corpus pass)
            idf = compute_idf(r)
        feats = scoring.pair_features(
            attach_texts(out["s4_pairs"], r), idf=idf, sc=spark.sparkContext
        )
        return scoring.score_pairs(feats, cfg.weights, cfg.bias)

    def build_clusters() -> DataFrame:
        exact = out["s2_exact"]
        match_edges = scoring.matches(out["s5_scored"], cfg.threshold).select(
            F.col("id1").alias("src"), F.col("id2").alias("dst")
        )
        star_edges = exact.where(F.col("doc_id") != F.col("rep_id")).select(
            F.col("doc_id").alias("src"), F.col("rep_id").alias("dst")
        )
        nodes = exact.select(F.col("doc_id").alias("node"))
        return assign_all(nodes, match_edges.unionByName(star_edges)).select(
            F.col("node").alias("doc_id"), "cluster_id"
        )

    def build_report() -> DataFrame:
        return (
            out["s7_clusters"].groupBy("cluster_id")
            .agg(F.count(F.lit(1)).alias("members"))
            .where(F.col("members") >= 2)
        )

    builds = {
        "s1_docs": lambda: extract_docs(pages),
        "s2_exact": build_exact,
        "s3_keys": build_keys,
        "s4_pairs": build_pairs,
        "s5_scored": build_scored,
        "s7_clusters": build_clusters,
        "s8_report": build_report,
    }
    lineage = "pages"
    for name in STAGES:
        out[name], out.skipped[name] = io.run_stage(name, builds[name], lineage=lineage)
        if name == stop_after:
            break
        lineage = name
    return out
