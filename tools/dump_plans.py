#!/usr/bin/env python
"""Regenerate PLANS.md: for each headline query, the physical-plan
properties that matter at scale (scan pushdown, join strategies,
aggregation modes, window limits, exchange count), extracted from
.explain("formatted") at sf0.001. Run from the repo root:

    python tools/dump_plans.py > PLANS.md
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.001"

QUERIES_TO_DUMP = [
    "q01_pricing_summary",
    "q02_filter_project",
    "q08_exact_quartiles",
    "q10_join_broadcast_star",
    "q15_star_revenue_by_region",
    "q17_asof_join",
    "q19_subqueries",
    "q20_window_topk_per_group",
    "q25_top10_orders",
    "q33_sessionize",
    "q39_unpivot_metrics",
    "q50_dedup_exact",
    "q52_minhash_lsh",
    "q60_cosine_topk",
    "q67_deterministic_split",
    "q79_repetition_quality",
    "q85_shingle_dup_frac",
    "q86_corpus_shards",
    "q87_bm25_search",
    "q88_right_cross_join",
    "q89_grouped_collect",
    "q91_hybrid_retrieval",
    "q90_training_pipeline",
    "q95_gapfill_locf",
    "q96_median_mode",
    "q97_interval_overlap",
    "q98_fuzzy_blocked",
    "q99_sliding_window_batch",
    "q100_scd2_upsert",
    "q103_tpch_q3",
    "q104_tpch_q7",
    "q105_tpch_q13",
    "q106_data_quality_audit",
    "q107_incremental_agg",
    "q108_pagerank_integer",
    "q114_pii_redaction",
    "q115_stratified_sample",
    "q117_percentile_exact",
    "q118_skew_exact_distinct",
    "q119_rare_bigram_score",
    "q120_graph_triangles",
    "q121_strict_funnel",
    "q124_tpch_q5",
    "q125_tpch_q10",
    "q126_tpch_q18",
    "q116_doc_chunking",
    "q129_dedup_verified_pairs",
    "q131_image_resize",
    "q132_negative_sampling",
    "q133_budget_selection",
    "q135_ann_recall",
    "q137_colf_v2_roundtrip",
    "q138_tpch_q4",
    "q139_tpch_q6",
    "q140_tpch_q8",
    "q141_tpch_q9",
    "q142_tpch_q15",
    "q143_tpch_q16",
    "q144_tpch_q17",
    "q145_tpch_q19",
    "q146_tpch_q21",
    "q147_tpch_q22",
    "q148_colf_delete",
    "q149_colf_merge",
    "q150_oov_rate",
    "q151_knn_label",
    "q152_table_profile",
    "q153_colf_v3_striped",
    "q154_table_profile_sketch",
    "q155_colf_v3_cow",
    "q156_bucketed_join",
    "q157_zorder_pruning",
    "q158_heavy_hitters",
    "q160_schema_evolution",
    "q162_anomaly_zscore",
    "q163_sorted_layout",
    "q169_zorder_rank",
    "q171_colf_partitioned",
    "q173_colf_bounds_merge",
    "q175_tpch_q2",
    "q176_tpch_q11",
    "q177_tpch_q12",
    "q178_tpch_q20",
    "q179_colf_spec_evolution",
    "q180_colf_bucket_transform",
    "q182_colf_sorted_maintenance",
    "q210_sequence_packing",
    "q214_colf_stats_planning",
]

INTERESTING = re.compile(
    r"PushedFilters: \[[^\]]*[A-Za-z][^\]]*\]|ReadSchema: \S+|"
    r"BroadcastHashJoin|SortMergeJoin|BroadcastNestedLoopJoin|ShuffledHashJoin|"
    r"WindowGroupLimit|Expand|Generate")


def main() -> None:
    from columnar_format_spark.session import get_spark
    import columnar_format_spark.queries  # noqa: F401
    from columnar_format_spark.registry import QUERIES

    spark = get_spark(app_name="dump-plans", cpus=8)
    print("# PLANS — physical-plan properties of the headline queries")
    print()
    print("Auto-generated by `python tools/dump_plans.py` (explain(\"formatted\")")
    print(f"at {SF}); regenerate after plan-affecting changes. The")
    print("pinned assertions live in tests/test_plans.py — this file is the")
    print("human-readable evidence.")
    for name in QUERIES_TO_DUMP:
        df = QUERIES[name].fn(spark, SF)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        joins = sorted({m for m in re.findall(
            r"BroadcastHashJoin|SortMergeJoin|BroadcastNestedLoopJoin|ShuffledHashJoin",
            plan)})
        semi = "LeftSemi" in plan
        n_exchange = len(re.findall(r"\(\d+\) Exchange", plan))
        n_agg = len(re.findall(r"\(\d+\) (?:Object)?HashAggregate", plan))
        pushed = re.findall(r"PushedFilters: \[([^\]]+)\]", plan)
        pushed = [p for p in pushed if p.strip()]
        schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
        wgl = "WindowGroupLimit" in plan
        expand = re.search(r"\(\d+\) Expand", plan) is not None
        python_nodes = bool(re.search(r"BatchEvalPython|ArrowEvalPython|MapInPandas|"
                                      r"FlatMapGroupsInPandas|PythonMapInArrow", plan))
        print(f"\n## {name}\n")
        print(f"- exchanges: {n_exchange}; aggregate nodes: {n_agg}"
              f" (partial+final pairs)")
        if joins:
            print(f"- join strategies: {', '.join(joins)}"
                  + (" (incl. LeftSemi rewrites)" if semi else ""))
        if pushed:
            print(f"- pushed filters: {'; '.join(pushed[:3])}")
        if schemas:
            cols = [s.split(",")[0].split(":")[0] + ",…(" + str(s.count(":")) + " cols)"
                    if s.count(":") > 1 else s for s in schemas[:3]]
            print(f"- scan schemas (pruned): {'; '.join(cols)}")
        if wgl:
            print("- WindowGroupLimit: top-k computed with per-partition heaps")
        if expand:
            print("- Expand: grouping-sets/unpivot expansion in one pass")
        print(f"- Python nodes in plan: {'yes (by design)' if python_nodes else 'none'}")
    spark.stop()


if __name__ == "__main__":
    main()
