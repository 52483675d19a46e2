"""Dump the physical plans of the bench headliners to PLANS.md.

Evidence file for plan review: pushed filters, pruned scan schemas,
broadcast vs shuffle joins, TakeOrderedAndProject — the properties
tests/test_plans.py asserts, in full, for human inspection.  Regenerate
after planner-affecting changes: ``python tools/plan_dump.py``.
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

PLAN_QUERIES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q4_priority_semi",
    "q10_returned_items",
    "q19_discounted_revenue",
    "filter_semi_join",
    "top_k",
    "dedup_exact",
    "dedup_minhash_lsh",
    "similarity_ann_topk",
    "temporal_asof_join",
    "temporal_range_join",
    "integrity_dangling_bloom",
    "pipeline_clean_corpus",
    "pipeline_pack_documents",
    "q2_min_cost_supplier",
    "q8_market_share",
    "q13_customer_distribution",
    "q17_small_quantity_revenue",
    "q21_waiting_suppliers",
    "q22_idle_customers",
    "text_repetition_scores",
    "pipeline_shuffle_shards",
    "events_retention_cohorts",
    "text_duplicate_spans",
    "text_remove_spans",
    "pipeline_temperature_mixture",
    "temporal_scd2_history",
    "text_winnowing",
    "text_classifier_score",
    "text_unigram_logprob",
    "events_session_transcripts",
    "events_anomaly_zscore",
    "qlang_llm_chain",
    "text_bm25_search",
    "dedup_jaccard_prefix_join",
    "qlang_text_search",
    "pipeline_chunk_documents",
    "text_term_drift",
    "text_bigram_logprob",
    "source_jsonl_roundtrip",
    "stats_analyze_columns",
    "diag_key_skew",
    "join_bloom_prefiltered",
    "writes_upsert_merge",
    "pipeline_negative_pairs",
    "join_salted_skew",
    "pipeline_quantile_buckets",
    "pipeline_data_card",
    "stats_incremental_sketches",
    "dedup_edit_distance",
    "store_mv_refresh",
    "link_customer_records",
    "link_resolve_entities",
    "dedup_soft_weights",
    "pipeline_mixture_plan",
    "text_cooccurrence",
    "text_pmi_collocations",
    "graph_random_walks",
    "store_join_refresh",
    "qagg_pivot_events",
    "events_unpivot_metrics",
    "graph_distance_histogram",
    "similarity_quantize_int8",
    "similarity_label_centroids",
    "similarity_nearest_centroid",
    "similarity_classification_report",
    "writes_mask_columns",
    "text_ranking_metrics",
    "sketch_join_size",
    "events_trend_fit",
    "pipeline_impute_values",
    "pipeline_split_leakage",
    "qagg_window_ranks",
    "pipeline_weighted_draws",
    "writes_validate_rows",
    "pipeline_winsorize",
    "pipeline_chi_square_drift",
    # round-5 additions
    "dedup_edit_distance_auto",
    "link_customer_records",
    "similarity_indexed_ann",
    "similarity_ivfpq_topk",
    "qlang_snapshot_read",
    "dialogue_turn_dedup",
    "dialogue_role_token_stats",
    "dialogue_assemble",
    "qagg_rollup_events",
    "qagg_cube_documents",
    # round-6 additions
    "qlang_row_policy",
    "qlang_dialogue_chain",
    "dialogue_pack_budget",
    "qagg_grouping_sets",
    "events_json_extract_agg",
    "similarity_indexed_ann",
    "hop_out_in",  # stats-fed BroadcastHashJoin from parquet-footer hints
    "integrity_resolve_duplicates",
    "qagg_having_filter",
    # round-7: scale-shape evidence — partitioned windows, skew keys, recall
    "pipeline_pack_documents_sharded",  # hashpartitioning(source), no global sort
    "dialogue_pack_budget_sharded",  # per-shard prefix sum
    "graph_cc_skewed",  # hub-adjacency two-phase CC
    "hop_out_skewed",  # hop compiler under the Zipf hub: broadcast frontier, no pair blowup
    "text_index_extend",  # delta-segment append commit
    "similarity_ann_recall",  # semi-join recall over two top-k frames
    # round-7 session-10: summary-statistics tier
    "stats_grouped_quantiles",  # one hash agg, no window
    "stats_corr_matrix",  # single-row co-moment agg + stack
    "stats_frequent_items",  # count agg + 1-row broadcast total
    "pipeline_sample_per_key",  # Partial WindowGroupLimit before the exchange
    "blob_multi_hash",  # one projection, all digests in the scan stage
    "text_indexed_search",  # In(term,…) pushed into the postings scan
    "similarity_ivf_search",  # In(cell,…) pushed into the inverted-list scan
    "dedup_neardup_probe",  # broadcast batch bands vs stored buckets
    "store_mor_read",  # base ∪ delta segments anti-joined against broadcast tombstones
    "text_index_term_filter",  # StringStartsWith pushed into the terms scan
    "quality_constraint_report",  # one-scan constraint agg + referential join
    "temporal_forward_fill",  # LOCF partitioned window, no global sort
    # round-8: composite value index
    "value_index_lookup",  # In(value,…) pushed into the value-sorted entries scan
    "value_index_range",  # gte/lte pushed, footer min/max prunes row groups
    "qlang_value_lookup",  # byIndexedValue init step routed through the index
    "value_index_catchup",  # CDC inserts → churn-sized delta segment, corpus never rescanned
    "store_cdf_changes",  # narrow (key,hash) full-outer diff, payload never shuffles
    "store_cdf_replay",  # broadcast touched-keys anti-join + upsert union
    # round-8 session 12: GraphQL facade — a compiler front-end, so the plan
    # must look exactly like the equivalent JSON-chain plan
    "graphql_filter_sort",  # filter input object → pushed parquet predicates
    "graphql_hop_projection",  # registered-hop dispatch → stats-planned join
    "events_window_funnel",  # ONE hash exchange under the stacked window chain
    "qlang_window_funnel",  # filter step pushed BELOW the funnel exchange
    "events_window_funnel_strict",  # stacked lead() windows + WindowGroupLimit on one exchange
    "events_funnel_count",  # Arrow grouped-map over the type-filtered narrow projection
    "events_funnel_sessionized",  # sessionize sort + composite-key funnel: two exchanges
    # round-10: mutation-churn maintenance — tombstone anti-joins must be
    # broadcast (churn-sized sidecar), the index base never shuffles
    "value_index_catchup_tombstone",  # broadcast tombstone anti-join + one delta segment
    # round-11: retention sweep (metadata-only gate), JPEG Arrow map, set algebra
    "value_index_retention_vacuum",  # post-sweep read: plain base scan, no segment unions left
    "multimodal_jpeg_decode",  # ArrowEvalPython/mapInPandas map-only, no shuffle
    "events_set_ops_exact",  # ONE hash exchange: flags agg + scalar final agg
    "maintain_indexes_fleet",  # fleet sweep: per-family extends, all churn-sized
    "events_window_funnel_strict_hot",  # 20x interloper load on ONE user-key exchange
    "store_skipping_read",  # scan lists ONLY manifest-kept files; residual filter pushed to parquet
    "store_time_travel",  # plain pinned-version scan — resolution is pure metadata
    # round-12: skipping scale tier — OR trees prune as a union of
    # disjunct candidates; past-threshold manifests prune via a Spark job
    # so the final scan binds only kept files (never an O(files) driver parse)
    "store_skipping_or_read",  # OR-of-date-ranges: two slices' files only, exact residual
    "store_skipping_manifest_scale",  # 5,000+-file table: candidate files only in the scan
    "store_skipping_bloom_read",  # bloom-pruned scan binds the owning file(s) only
    "store_skipping_bloom_cap",  # capped blooms still prune; manifest header bounded
]


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR_PLANS", "/root/testdata/sf0.01")
    from scalligraph_spark.session import get_spark
    from scalligraph_spark.suite import SUITE

    spark = get_spark(app_name="plan_dump", master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")

    out = [
        "# Physical plans (auto-generated by tools/plan_dump.py)",
        "",
        f"Scale dir: `{sf_dir}`.  What to look for: `PushedFilters` /",
        "`ReadSchema` on every parquet scan (pushdown + pruning),",
        "`BroadcastHashJoin` on dimension joins, `LeftSemi`/`LeftAnti` for",
        "exists-filters, `TakeOrderedAndProject` for top-k, and no",
        "`CartesianProduct` anywhere.  Two allowed",
        "`BroadcastNestedLoopJoin` shapes: the keyless SINGLE-ROW broadcast",
        "a scalar-subquery join compiles to (q22's global-average row, the",
        "weighted-draws totals row) — a 1-row build side is O(n), not a",
        "nested loop in any meaningful sense — and the card(a)×card(b)",
        "CATEGORY GRID of pipeline_chi_square_drift, which is",
        "definitionally the full contingency cross product over two",
        "category-marginal tables (bounded by label cardinalities, never",
        "data-sized).  Every data-sized multi-row join is hash-based.",
        "",
    ]
    n_plans = 0
    for name in PLAN_QUERIES:
        q = SUITE.get(name)
        if q is None:
            continue
        df = q.spark(spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        out.append(f"## {name}\n\n{q.doc}\n\n```\n{buf.getvalue().rstrip()}\n```\n")
        n_plans += 1
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md with {n_plans} plans")
    return 0


if __name__ == "__main__":
    sys.exit(main())
