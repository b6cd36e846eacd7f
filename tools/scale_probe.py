"""Scale-up probe: run representative queries on a key-shifted N×
replica of sf0.1 and report wall-time ratios vs sf0.1.

The point is falsifying the 100 TB story at the scale this container
can hold: a query whose cost is a single scan + keyed shuffles should
grow ≲ N×; anything super-linear flags an all-pairs or global-state
smell. Facts (lineitem/orders/events/documents/embeddings) are
replicated with shifted keys; dimensions stay fixed (the realistic
shape — fact growth dominates).

Usage: python tools/scale_probe.py [factor] [out_dir]
Prints one ratio line per query and a final JSON summary.
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from pgsink_spark.session import get_spark

BASE = "/root/testdata/sf0.1"
SHIFT = 10_000_000

PROBES = [
    "d5_tpch_q1",
    "tpch_q21_suppliers_kept_waiting",
    "d64_gaps_islands",
    "d45_resample_locf",
    "dsir_importance",
    "text_kn_bigram",
    "retrieval_rrf",
    "bm25_search",
    "dedup_exact",
    "mm_keyframes",
    "d22_asof_join",
    "d8_rank_topk",
    "mm_phash_neardup",
    "text_pmi_pairs",
    "graph_pagerank",
    "graph_triangles",
    "dedup_incremental_probe",
    "mine_hard_negatives",
    "graph_linkpred",
    # the r10/r11 size-gated single-task kernel families: at probe
    # factors above the gates these run the DISTRIBUTED branches, so
    # the probe is the standing rot-check the r10 verdict asked for
    "graph_kcore",
    "graph_label_propagation",
    "graph_bfs_distance",
    "graph_modularity",
    "dedup_ngram_jaccard",
    "dedup_cluster",
    "mdm_survivorship",
    "mm_phash_clusters",
    "diversity_kcenter",
    "text_bpe_pairs",
    "d69_rolling_zscore",
    "privacy_k_anonymity",
    "corpus_mixture_reweight",
    "d70_ohlc_resample",
    "d71_attribution",
    "d72_mad_outliers",
    "eval_langid_metrics",
    "eval_score_auc",
    "eval_calibration",
    "text_bigram_perplexity",
    "text_subword_encode",
    "export_webdataset",
    "privacy_dp_counts",
    "d74_cusum_changepoints",
    "text_keyword_chi2",
    # round-5b additions
    "a19_scd2_history",
    "a20_scd2_pointintime",
    "cdc_time_travel",
    "d75_weighted_median",
    "d76_benford_audit",
    "dedup_containment",
    "dedup_minhash_err_gate",
    "retrieval_ndcg",
    "privacy_l_diversity",
    "corpus_perplexity_buckets",
    "d77_mode_per_group",
    "src_ndjson_roundtrip",
    "src_csv_roundtrip",
    "src_orc_roundtrip",
    "d78_psi_drift",
    "d79_ks_drift",
    "src_json_schema_drift",
    "stream_static_join",
    # round-5c additions
    "dedup_jaro_winkler",
    "quant_int8_gate",
    "text_zipf_audit",
    "sample_domain_cap",
    "privacy_t_closeness",
    "curation_quantile_filter",
    "d80_asof_tolerance",
    "d81_cms_heavy_hitters",
    "stream_funnel",
    "stream_band_neardup",
    "text_bpe_learn",
    "diversity_kcenter",
    # round-5d additions
    "d82_corr_matrix",
    "d83_seq_match",
    "d84_kmv_setops",
    "export_epoch_shuffle",
    "graph_kcore",
    "stream_topk",
    "stream_session_window",
    "stream_interval_join_outer",
    "d85_bloom_join_reduce",
    "d86_holt_forecast",
    "d87_rolling_distinct",
    "d88_kmv_reach",
    "d89_trend_robust",
    "mdm_survivorship",
    "corpus_temperature_sample",
    # round-6: the r5 verdict's four newest iterative/stateful
    # operators get an explicit 100× row (tools/scale_probe.py 100)
    "dedup_duplicate_spans",
    # round-6 additions
    "d90_skyline_pareto",
    "dedup_blocking_audit",
    "graph_label_propagation",
    "retrieval_mrr",
    "decontaminate_ngram_overlap",
    "src_xml_roundtrip",
    "corpus_source_overlap",
    # round-7 additions
    "corpus_ngram_novelty",
    "graph_bfs_distance",
    "quality_borda_fusion",
    "sample_reservoir_hash",
    "retrieval_phrase_search",
    "retrieval_boolean_query",
    "d91_session_bounce",
    "corpus_term_burstiness",
    "graph_modularity",
    "d92_rfm_segments",
    "export_manifest_checksums",
    "ivm_topk_view",
    "d93_funnel_conversion_lag",
    "corpus_simpson_diversity",
    "src_parquet_partition_prune",
    "mm_image_resize",
    "d94_join_skew_audit",
    "cdc_slot_gap_audit",
    "ann_ivf_probe_curve",
    "d95_market_basket",
    "sample_stratified_quota",
    "privacy_pseudonymize_ri",
    "mm_audio_resample",
    "d96_sequence_pairs",
    # round-7 session-2 additions
    "eval_confusion_matrix",
    "eval_cohens_kappa",
    "d97_seasonal_decompose",
    "d98_window_funnel",
    "text_hapax_ratio",
    "text_stopword_profile",
    "ann_range_search",
    "src_parquet_schema_merge",
    "corpus_dup_rate_by_source",
    "graph_jaccard_edges",
    "d99_winsorized_stats",
    "stream_hopping_window",
    "retrieval_fuzzy_match",
    "retrieval_snippet_extract",
    "export_curriculum_order",
    "graph_assortativity",
    "d100_interarrival_histogram",
    "privacy_risk_histogram",
    "corpus_source_purity",
    "d101_survival_curve",
    "retrieval_term_proximity",
    "text_oov_rate",
    "eval_mcnemar",
    "d102_rolling_slope",
    "d103_bag_set_ops",
    "curation_filter_impact",
    "dedup_lsh_band_curve",
    "pipeline_stage_metrics",
    "d104_sql_api_views",
    "stream_complete_totals",
    "eval_bootstrap_replicates",
    "src_csv_malformed_quarantine",
    "text_feature_hashing",
    "graph_transitivity",
    "corpus_token_coverage",
    "cdc_cross_table_snapshot",
    "sample_kish_neff",
    "graph_local_bridges",
    "corpus_length_gini",
    "graph_hub_cap_audit",
    # r2-vintage flagships, probe rows added round 8 ahead of their
    # round-9 driver re-check
    "ann_bruteforce_topk",
    "dedup_cluster",
    "dedup_cluster_cap_audit",
    "dedup_embedding_pairs",
    "dedup_embedding_collapse_audit",
    "dedup_embedding_dup_branch",
    "dedup_simhash_pairs",
    "text_fingerprint",
    "d20_similarity_topk",
    # round-9: the r3-vintage window rows that never had probe rows —
    # all expected linear (keyed aggs, windows, row-local transforms);
    # probed so the bound is measured, not asserted
    "tpch_q12_priority_lateness",
    "mm_decode_stats",
    "mm_audio_stats",
    "mm_audio_windows",
    "ivm_join_view",
    "ivm_agg_view",
    "ivm_minmax_view",
    "stream_sessionize",
    "stream_ewma_anomalies",
    "pack_sequences",
    "pack_sequences_greedy",
    "chunk_documents",
    "dedup_paragraph",
    "text_ngram_topk",
    "domain_mix_sample",
    "quality_lm_score",
    "quality_model_score",
    "contamination_check",
    "pii_redact",
    "sample_weighted",
    "a18_view_asof",
    "d46_unpivot",
    "d47_distribution_windows",
    "d48_profile_documents",
    "d49_funnel",
    "d50_cohort_retention",
    "d51_transition_matrix",
    "d52_share_of_total",
    "d53_month_over_month",
    "d54_recursive_series",
    # round-9 second sweep: the 14 rows that headed the round-10 driver
    # window + the never-probed streaming block
    "d55_lateral_topn",
    "d56_time_range_frame",
    "d57_table_diff",
    "d58_histogram",
    "quality_gopher_rules",
    "tfidf_top_terms",
    "dedup_dupfrac_ngram",
    "d59_grouped_percentiles",
    "d60_grouped_moments",
    "stream_interval_join",
    "d61_distribution_windows",
    "d62_regression_agg",
    "semdedup_cluster_prune",
    "stream_tumbling_agg",
    "stream_scd2",
    "stream_sample_evictions",
    "stream_dedup_replay",
    "stream_attribution",
    "stream_rolling_zscore",
    "stream_cusum",
    # round-9 third sweep: the r2-vintage relational/curation block
    "d21_text_group",
    "d23_session_gap",
    "b8_array_agg",
    "d36_sliding_window",
    "d37_json_struct_map",
    "d38_lateral_explode",
    "d39_scalar_subquery",
    "d40_conditional_agg",
    "d41_regex_translate",
    "d42_range_frame",
    "d43_keyed_running_sum",
    "d44_salted_join",
    "sample_hash_10pct",
    "train_test_split",
    "stratified_sample",
    "pipeline_curation",
    "text_repetition",
    "text_lang_id",
    "text_quality_score",
    "text_token_count",
    "ivm_distinct_view",
    # round-9 fourth sweep: §2.B/D control + relational remainder
    "d24_percentiles", "d25_set_ops", "d26_cube", "d27_date_arithmetic",
    "d28_grouping_sets", "d29_window_frames", "d32_pivot",
    "d33_string_agg", "d34_exists_combo",
    "d1_filter_pushdown", "d2_join_agg_topk", "d2b_broadcast_join",
    "d3_outer_join_agg", "d4_range_join", "d6_count_distinct",
    "d7_rollup", "d9_lag_lead", "d10_running_sum", "d11_topk_order",
    "d12_intersect", "d13_string_fns", "d14_date_trunc",
    "d15_array_fns", "d16_json_fns", "d17_tumbling_window",
    "d18_distinct_dedup", "d19_udf_parity", "d35_approx_distinct",
    "a3_total_order", "a5_keyset_scan", "a16_compaction_view",
    "a17_claim_predicate", "b1_filter_limit", "b2_inner_join",
    "b3_left_join_inlist", "b4_latest_per_key", "b5_anti_join_diff",
    "b6_semi_join", "b7_include_exclude", "b11_scalar_fns",
    "b12_arith_update", "b13_count", "b8_array_agg",
    "d63_interpolate_linear", "cdc_refresh_endstate",
    "dedup_fuzzy_blocked", "mm_frame_stats", "mm_frame_sample",
    "pipeline_curate_pack",
    # round-9 fifth sweep: the TPC-H module at 100x (= SF-10 scale)
    "tpch_q02_min_cost_supplier", "tpch_q04_order_priority",
    "tpch_q06_forecast_revenue", "tpch_q07_volume_shipping",
    "tpch_q08_market_share", "tpch_q09_product_profit",
    "tpch_q10_returned_items", "tpch_q11_important_stock",
    "tpch_q13_order_distribution", "tpch_q14_promo_revenue",
    "tpch_q15_top_supplier", "tpch_q16_supplier_relationship",
    "tpch_q17_small_qty_revenue", "tpch_q18_large_volume_customer",
    "tpch_q19_discounted_revenue", "tpch_q20_potential_promotion",
    "tpch_q22_global_sales_opportunity", "d30_tpch_q3", "d31_tpch_q5",
    "dedup_ngram_jaccard", "dedup_minhash_lsh", "dedup_simhash",
]


def build_replica(spark, factor: int, out: str) -> None:
    if os.path.exists(os.path.join(out, "_DONE")):
        return
    os.makedirs(out, exist_ok=True)

    def copies(df, shift_exprs):
        parts = []
        for k in range(factor):
            d = df
            for col, fn in shift_exprs.items():
                d = d.withColumn(col, fn(k))
            parts.append(d)
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)
        return u

    def shifted(col, k):
        return F.col(col) + F.lit(k * SHIFT)

    tbl = lambda name: spark.read.parquet(f"{BASE}/{name}.parquet")  # noqa: E731

    # facts: keys shift per copy; text varies so exact-dup collapse
    # doesn't erase the scale-up for text operators
    copies(
        tbl("documents"),
        {
            "doc_id": lambda k: shifted("doc_id", k),
            "text": lambda k: F.concat(
                F.col("text"), F.lit(f" variant{k}")
            ),
        },
    ).write.mode("overwrite").parquet(f"{out}/documents.parquet")
    copies(
        tbl("embeddings"),
        {"vec_id": lambda k: shifted("vec_id", k)},
    ).write.mode("overwrite").parquet(f"{out}/embeddings.parquet")
    copies(
        tbl("events"),
        {
            "event_id": lambda k: shifted("event_id", k),
            "user_id": lambda k: F.col("user_id") + F.lit(k * 1_000_000),
        },
    ).write.mode("overwrite").parquet(f"{out}/events.parquet")
    copies(
        tbl("orders"),
        {"o_orderkey": lambda k: shifted("o_orderkey", k)},
    ).write.mode("overwrite").parquet(f"{out}/orders.parquet")
    copies(
        tbl("lineitem"),
        {"l_orderkey": lambda k: shifted("l_orderkey", k)},
    ).write.mode("overwrite").parquet(f"{out}/lineitem.parquet")
    for dim in ("part", "supplier", "nation", "customer", "region"):
        tbl(dim).write.mode("overwrite").parquet(f"{out}/{dim}.parquet")
    with open(os.path.join(out, "_DONE"), "w") as f:
        f.write("ok")


def time_query(spark, fn, sf_dir: str, runs: int = 2) -> float:
    best = None
    for _ in range(runs):
        spark.catalog.clearCache()
        gc.collect()
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    return best


def main() -> None:
    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 5
    out = (
        sys.argv[2]
        if len(sys.argv) > 2
        else f"/tmp/pgsink_scale_{factor}x"
    )
    import __spark_entry__ as em

    qs = em.queries()
    spark = get_spark("scale-probe")
    build_replica(spark, factor, out)

    only = set(sys.argv[3:])
    results = {}
    for name in [p for p in PROBES if not only or p in only]:
        fn = qs[name]
        fn(spark, "/root/testdata/sf0.001")  # plan/codegen warm
        t1 = time_query(spark, fn, BASE)
        tn = time_query(spark, fn, out)
        results[name] = {
            "sf01_s": round(t1, 3),
            "nx_s": round(tn, 3),
            "ratio": round(tn / t1, 2),
        }
        print(
            f"{name:35s} sf0.1={t1:6.2f}s {factor}x={tn:6.2f}s "
            f"ratio={tn / t1:.2f}"
        )
    print(json.dumps({"factor": factor, "results": results}))


if __name__ == "__main__":
    main()
