"""Physical-plan audit: print .explain("formatted") for key queries and
flag missing optimizations (no parquet filter pushdown where expected,
unpruned scans, missing broadcast on small dims).

Usage: python scripts/audit_plans.py [query ...]
"""

from __future__ import annotations

import io
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, ".")

SF_DIR = "/root/testdata/sf0.01"

# name → (expected substrings, forbidden substrings)
EXPECTATIONS = {
    "facet_source_en": (["PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]"], []),
    "distinct_sources_large": (["PushedFilters: [IsNotNull(n_chars), GreaterThan(n_chars,300)"], []),
    "label_join_nation": (["BroadcastHashJoin"], ["SortMergeJoin"]),
    "anti_join_customers": (["BroadcastHashJoin", "LeftAnti"], []),
    "agg_lineitem_pricing": (["PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate,"], []),
    "block_discovery": (["HashAggregate"], []),
    "semi_join_candidates": (["LeftSemi"], []),
    "topk_longest_docs": (["TakeOrderedAndProject"], []),
    "rank_docs_per_lang": (["Window"], ["CartesianProduct"]),
    "running_value_per_user": (["Window", "PushedFilters: [IsNotNull(user_id), LessThan(user_id,50)"], []),
    "rollup_orders": (["Expand", "HashAggregate"], []),
    "ann_topk": (["BroadcastNestedLoopJoin"], ["CartesianProduct"]),
    # scale paths must be bucketed equi-joins, never cross products
    "embedding_near_dup_lsh": ([], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    "audio_near_dups": ([], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    "image_near_dups": ([], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    "ngram_jaccard_pairs": ([], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    # temporal operators: single window / equi-join — the inequality
    # must live in a residual Filter, never a join condition
    "asof_purchase_view": (
        ["Window", "PushedFilters: [IsNotNull(event_type), EqualTo(event_type,purchase)"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin"],
    ),
    "range_error_context": ([], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    # hot-split asof: chunked windows + broadcast carry stitch, still no
    # inequality join anywhere
    "asof_hot_split": (
        ["Window", "BroadcastHashJoin"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin"],
    ),
    # derived-id left re-entry: NULL-safe anti-join, never a cartesian
    "range_left_dups": ([], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    "duplicate_shingles": (["HashAggregate", "Generate"], ["CartesianProduct"]),
    # repetition metric: one shuffle on (doc_id, ...) then a window
    "rep_ngram_fraction": (["Window", "HashAggregate"], ["CartesianProduct"]),
    # pure scalar filter — no shuffle, no join, no aggregate anywhere
    "stratified_sample": ([], ["Exchange", "CartesianProduct", "HashAggregate"]),
    # shingle equi-join; contamination must never cross-product
    "split_contamination": (["LeftSemi"], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    # both window frames share the md5_s partitioning: exactly one shuffle
    "canonical_docs": (["Window"], ["CartesianProduct"]),
    "corpus_length_profile": ([], ["CartesianProduct", "Generate"]),
    # two-phase prefix sum: offsets broadcast back, no cartesian
    "token_shard_packing": (["Window", "BroadcastHashJoin"], ["CartesianProduct"]),
    # all higher-order fns — no explode (Generate), single groupBy shuffle
    "lexical_diversity": ([], ["CartesianProduct", "Generate", "Window"]),
    "token_entropy": (["Generate"], ["CartesianProduct", "Window"]),
    # shingle-key equi-join; pairwise overlap must never cross-product
    "source_overlap": ([], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    # pure scalar regex/array chain + one groupBy — no join, no window
    "url_canonical_dedup": ([], ["CartesianProduct", "Window", "Generate"]),
    # df-capped shingle equi-join; containment must never cross-product
    "shingle_containment_pairs": (["LeftSemi"], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    # md5 groupBy + equi-join back — no window, no cartesian
    "dedup_rate_by_source": ([], ["CartesianProduct", "Window"]),
    # single lang-partitioned window; no join
    "quality_percentile_filter": (["Window"], ["CartesianProduct", "SortMergeJoin"]),
    # one full-outer equi-join on doc_id; never cartesian
    "recrawl_diff": ([], ["CartesianProduct", "BroadcastNestedLoopJoin", "Window"]),
    # single-pass aggregate — no join, no window, no explode
    "table_profile": ([], ["CartesianProduct", "Window", "Generate", "SortMergeJoin"]),
    # posexplode + bounded-cardinality groupBy; no join
    "embedding_centroids": (["Generate"], ["CartesianProduct", "SortMergeJoin", "Window"]),
    # full curation chain: every join is keyed (md5/band/doc_id/lang) —
    # a cartesian anywhere in the composition is a bug
    "curation_pipeline": ([], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    # one source-partitioned window; no join
    "domain_balance_cap": (["Window"], ["CartesianProduct", "SortMergeJoin"]),
    # first-seen agg + shingle-key equi-join; no window, no cartesian
    "shingle_novelty": ([], ["CartesianProduct", "BroadcastNestedLoopJoin", "Window"]),
    # corpus total is a driver scalar, NOT a 1-row crossJoin — BNLJ banned
    "bigram_surprisal": ([], ["CartesianProduct", "BroadcastNestedLoopJoin", "Window"]),
    # chained regexp projection — rides the scan, no shuffle of any kind
    "pii_scrub": ([], ["Exchange", "CartesianProduct", "HashAggregate", "Generate", "Window"]),
    # split→array_distinct→join projection — no shuffle, no explode
    "intra_doc_dedup": ([], ["Exchange", "CartesianProduct", "HashAggregate", "Generate", "Window"]),
    # corpus pass after the driver-side blocklist build: literal
    # array_contains filter projection — no join/shuffle on the big side
    "boilerplate_removal": ([], ["Exchange", "CartesianProduct", "HashAggregate", "Generate", "Window", "SortMergeJoin", "BroadcastHashJoin"]),
    # SemDeDup: cell-scoped equi-join pairs + CC — never a cross product
    "semantic_dedup_groups": ([], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    # blocking graph: per-block equi-joins + map-side-combined CBS agg,
    # never a cross product. The query materializes the graph, so its
    # own plan is the WEP filter (mean as a driver literal) over that
    # scan; the graph build is audited on its own below.
    "meta_blocking_graph": (["BroadcastHashJoin", "HashAggregate"], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    "meta_blocking_pairs": ([], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    # two-phase rank: per-bucket windows + broadcast offsets; the
    # neighborhood is a rank equi-join — no inequality join anywhere
    "sorted_neighborhood_pairs": (["Window", "BroadcastHashJoin"], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    # literal-weight scoring is a pure projection over the block
    # equi-join — no window, no explode, no cross product
    "fellegi_sunter_scores": ([], ["CartesianProduct", "BroadcastNestedLoopJoin", "Window", "Generate"]),
    # survivorship: cluster-partitioned windows + equi-join recombine
    "golden_records": (["Window"], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    # FS decision bands / pattern profile: block equi-join + one
    # map-side-combined groupBy over literal projections
    "fellegi_sunter_decisions": (["HashAggregate"], ["CartesianProduct", "BroadcastNestedLoopJoin", "Window", "Generate"]),
    "fs_pattern_profile": (["HashAggregate"], ["CartesianProduct", "BroadcastNestedLoopJoin", "Window", "Generate"]),
}


def main() -> int:
    from dedupe_spark.queries import QUERIES, meta_blocking_graph
    from dedupe_spark.session import get_spark

    # plans a catalog query materializes before its returned frame
    plans = {**QUERIES, "meta_blocking_graph": meta_blocking_graph}

    only = set(sys.argv[1:])
    spark = get_spark("audit", extra_conf={"spark.ui.showConsoleProgress": "false"})
    bad = []
    for name, (want, forbid) in EXPECTATIONS.items():
        if only and name not in only:
            continue
        df = plans[name](spark, SF_DIR)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        missing = [w for w in want if w not in plan]
        present = [f for f in forbid if f in plan]
        # column pruning check: ReadSchema should not include every column.
        # Count TOP-LEVEL fields: split on commas at angle-bracket depth 0
        # (a plain ':' count over a non-greedy match truncates nested
        # types like array<float> and under-reports those scans).
        schemas = re.findall(r"ReadSchema: struct<(.*)", plan)

        def n_top_fields(s: str) -> int:
            depth, fields = 0, 0
            for ch in s:
                if ch == "<":
                    depth += 1
                elif ch == ">":
                    if depth == 0:
                        break
                    depth -= 1
                elif ch == "," and depth == 0:
                    fields += 1
            return 0 if s.startswith(">") else fields + 1

        status = "OK " if not missing and not present else "FAIL"
        print(f"{name:26s} {status}  read_cols={[n_top_fields(s) for s in schemas]}")
        if missing:
            print(f"    missing: {missing}")
        if present:
            print(f"    forbidden present: {present}")
        if missing or present:
            bad.append(name)
            print(plan[:3000])
    print(f"\n{len(bad)} plan problems" + (f": {bad}" if bad else ""))
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
