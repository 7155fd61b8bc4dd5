"""Regenerate PLANS.md: formatted physical plans of the headline queries,
annotated with the properties that matter at scale (pushdown, pruning,
broadcast, codegen spans). Usage: python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

AUDIT = [
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_regional_revenue",
    "j1_pending_antijoin",
    "a1_daily_sentiment_gold",
    "a2_w1_daily_category_gold",
    "dedup_minhash_lsh_candidates",
    "simsearch_lsh_topk",
    "simsearch_ivf_topk",
    "simsearch_recall",
    "dedup_simhash_lsh_candidates",
    "text_quality_scores",
    "mm_decode_features",
    "events_sessionization",
    "ev_asof_last_purchase",
    "ev_range_errors_near_clicks",
    "bucketed_order_revenue",
    "events_multires_rollup",
    "curation_pipeline",
    "text_repetition_filters",
    "text_pii_redaction",
    "text_sequence_packing",
    "text_pack_greedy",
    "mm_frame_sample",
    "dedup_exact_substring_pairs",
    "events_funnel",
    "simsearch_sq8_topk",
    "flagship_enrichment_gold",
    "events_cohort_retention",
    "w_customer_rfm_segments",
    "text_shard_manifest",
    "text_token_rarity_scores",
    "text_chunking",
    "training_data_build",
    "j_salted_hotkey_events",
    "snk_incremental_gold",
    "q_expectations_report",
    "text_quality_model_scores",
    "dedup_fingerprint_quality_decisions",
    "dedup_candidate_triangles",
    "snk_merge_upsert_delete",
    "simsearch_pq_adc_topk",
    "simsearch_ivfpq_topk",
    "snk_cdc_apply_changes",
    "j_bloom_pruned_urgent_revenue",
    "text_postings_phrase_search",
    "text_adaptive_source_filter",
    # r8 additions
    "simsearch_bq_topk",
    "text_bm25_topk",
    "text_heavy_hitters",
    "snk_targeted_delete",
    "dedup_prefix_jaccard_pairs",
    "sql_api_error_cascades",
    # r9 additions
    "simsearch_clustered_tier_recall",
    "simsearch_clustered_residual_ivfpq",
    "simsearch_clustered_rpq_rerank",
    "text_lm_perplexity_filter",
    # late r9: BPE training (the audited plan is the per-iteration pair
    # count — zero joins, partial agg; plus the vocab top-k serve), OOV
    # coverage (broadcast vocab), integer-lattice k-means (codegen
    # assignment scan + broadcast l1 join-back)
    "text_bpe_vocab_top",
    "text_vocab_oov_rate",
    "emb_kmeans_sq8_stats",
    # continuation r9: sketch family (HLL partial-agg register build;
    # KMV WindowGroupLimit-pruned bottom-k) and the JL two-stage serve
    "text_hll_shingle_cardinality",
    "text_kmv_source_overlap",
    "simsearch_rp_recall",
    "snk_zorder_layout_stats",
    "emb_cluster_labels",
    "dedup_fuzzy_decontamination",
    "agg_quantile_histogram_sketch",
    # r10: snapshot drift (one scan, stack unpivot, partial-agg histogram)
    "text_snapshot_drift",
    # r11: keyed drift (same shape + source key) and the skew-bounded
    # range join (error side pre-aggregated per (user, second) BEFORE the
    # equi-join — the audited property is the extra HashAggregate below
    # the join input)
    "text_snapshot_drift_by_source",
    # r12: the versioned-table chain (audited properties: the snapshot
    # read is a plain parquet scan over the manifest's explicit file
    # list — pushdown/pruning intact — and the COW merge's key probe is
    # a broadcast semi-join, not a shuffle)
    "vt_time_travel_chain",
    "vt_change_feed_versions",
    "ev_range_errors_near_clicks",
]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from airdatapipeline_spark.registry import QUERIES
    from airdatapipeline_spark.session import get_spark, query_scope

    spark = get_spark("plan-audit")
    out = [
        "# PLANS — physical-plan audit of the headline queries",
        "",
        f"Generated by `python tools/plan_audit.py {sf_dir}`. For each query:",
        "the formatted plan Catalyst produced, trimmed to the lines that prove",
        "the scale properties (scans with pushdown/pruned schemas, exchanges,",
        "join strategies, Python boundaries).",
        "",
    ]
    keep = re.compile(
        r"(Scan parquet|PushedFilters|ReadSchema|PartitionFilters|Exchange|"
        r"BroadcastHashJoin|SortMergeJoin|BroadcastExchange|HashAggregate|"
        r"TakeOrderedAndProject|MapInPandas|FlatMapGroupsInPandas|Window|"
        r"CartesianProduct|BroadcastNestedLoop|\(\d+\) )"
    )
    for name in AUDIT:
        with query_scope(spark):
            plan = QUERIES[name](spark, sf_dir)._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
            )
        lines = [l for l in plan.splitlines() if keep.search(l)]
        out.append(f"## {name}\n")
        out.append("```")
        out.extend(lines[:40])
        out.append("```")
        out.append("")
    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"PLANS.md written ({len(AUDIT)} queries)")


if __name__ == "__main__":
    main()
