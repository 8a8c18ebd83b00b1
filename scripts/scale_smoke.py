"""Scale smoke test: replicate the sf0.1 testdata K times (keys
shifted so every join stays consistent; texts/embeddings perturbed so
dedup/similarity don't see artificial exact duplicates) and time the
bench headline queries on the K-times corpus.

The point is the SHAPE of the scaling, not the absolute numbers: a
query whose runtime grows ~K-fold (or less, where overhead dominates)
survives scale-up; superlinear growth flags a plan that would fall
over at 100 TB.

Run: python scripts/scale_smoke.py [K] [out_dir]
Prints one JSON line on stdout comparing per-query seconds at 1x vs
Kx; the untimed memo ingest cost (all memo families) per corpus goes
to stderr.
"""

from __future__ import annotations

import json
import pathlib
import shutil
import sys

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))

import pyspark.sql.functions as F

import bench
from iq_to_hdl_migration_spark.queries import load_all
from iq_to_hdl_migration_spark.sources.tables import TABLES, load_table

BASE_SF_DIR = "/root/testdata/sf0.1"
KEY_OFFSET = 100_000_000  # larger than any base key


def replicate(spark, k_replicas: int, out_dir: str) -> None:
    for t in TABLES:
        # load_table normalizes events.ts (TIMESTAMP(NANOS) -> micros);
        # replicas are written with micros ts, which load_table passes
        # through unchanged on re-read
        base = load_table(spark, BASE_SF_DIR, t)
        key_cols = [c for c in base.columns
                    if c.endswith("key") or c in ("event_id", "user_id",
                                                  "doc_id", "vec_id",
                                                  "table_id")]
        parts = []
        for k in range(k_replicas):
            rep = base
            for c in key_cols:
                rep = rep.withColumn(c, F.col(c) + F.lit(k * KEY_OFFSET))
            if "text" in rep.columns and k > 0:
                rep = rep.withColumn(
                    "text", F.concat(F.col("text"), F.lit(f" r{k}")))
            if "embedding" in rep.columns and k > 0:
                rep = rep.withColumn(
                    "embedding",
                    F.expr(f"transform(embedding, x -> x + {k}e-6)"))
            parts.append(rep)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out.write.mode("overwrite").parquet(f"{out_dir}/{t}.parquet")


# scale-interesting non-bench queries timed alongside the headliners
EXTRA = [
    "events_markov_transitions", "events_peak_concurrency",
    "events_type_affinity", "dedup_survivorship",
    "ship_latency_by_nation", "text_vocab_stats",
    "events_session_conversion", "docs_cross_source_duplication",
    "attribution_first_click", "split_train_test",
    # round-4 additions
    "text_winnowing_fingerprints", "text_winnowing_match_pairs",
    "v11_content_diff_report", "sim_embedding_quantize_stats",
    "events_session_windows_native", "curation_funnel_report",
    # round-5 additions
    "text_contamination_13gram", "text_bm25_topk",
    "mlprep_sequence_packing", "s13_hosparams_rules_intersection",
    "mix_temperature_sampling", "sim_label_centroid_cosine",
    "text_contamination_neardup",
    "mix_apply_downsample", "dedup_threshold_sweep",
    "mlprep_seqlen_percentiles", "dq_referential_integrity",
    "sketch_hll_portable_distinct_orders", "sim_quantized_topk",
    "sim_ivf_fixedpoint_topk", "graph_user_pagerank_fixedpoint_top20",
    "dedup_containment_pairs", "curation_grand_funnel",
    "text_winnowing_similarity", "orders_backlog_daily",
    "events_gap_powerlaw_histogram", "nation_trade_balance",
    "sketch_hll_portable_rollup", "sim_ann_recall_matrix",
    # round-6 additions (bench-flagged ones are picked up automatically)
    "scd2_user_type_history", "sketch_kmv_join_cardinality",
    "skew_key_diagnostics", "retention_cascade_audit",
    "entity_resolution_clusters", "drift_snapshot_report",
    # round-9 additions (non-bench, scale-interesting)
    "mlprep_curriculum_interleave", "dq_winsorized_value_stats",
    "sim_embedding_outlier_report", "events_sequential_patterns",
    "dedup_jaccard_calibration", "mm_frame_dedup_crossvideo",
    "sim_embedding_drift_report", "graph_khop_reach",
    "text_bigram_pmi_topk", "curation_filter_attrition",
    "events_uplift_by_segment", "events_funnel_dropoff_time",
]

# Per-round ROTATION (r9 advice #7): ~30 additional names each round
# so every data-scaled registry query draws a 5x measurement at least
# once per ~5 rounds. The catalog-ops/ddl/schema families (f*/j*/a*/
# o*/v*/s7/s12/ddl_*) are exempt by construction: their inputs are the
# fixed packaged rule tables, which the replicator does not scale, so
# a 5x timing of them measures constant data. Swap this list out each
# round; SCALE.md records which rotation ran when.
ROTATION = [
    # round-13 rotation: r13 additions and cap-affected names first,
    # then the never-swept tail across events/orders/stream/text/
    # sample/sim/dq/mm/trend families
    "graph_cap_rank_mass_profile", "graph_copurchase_cap_census",
    "graph_edge_weight_histogram", "customer_rfm_segments",
    "orders_reorder_interval_histogram", "text_hapax_ratio_by_source",
    "dq_date_coverage_by_month", "events_fano_factor_hourly",
    "graph_degree_census",
    "orders_calendar_seasonality", "corpus_char_class_profile",
    # never-swept tail
    "assessment_report", "bucketed_colocated_join_revenue",
    "class_balance_weights", "corpus_bigram_diversity",
    "corpus_token_budget", "customer_balance_position",
    "customer_order_cadence", "decile_binned_revenue",
    "dedup_cluster_size_histogram", "doc_length_quartiles_by_lang",
    "docs_lang_source_independence", "dq_pk_uniqueness_audit",
    "events_ab_test_report", "events_burst_users",
    "events_entry_exit_paths", "events_hourly_seasonality",
    "events_json_typed", "events_new_vs_returning",
    "fuzzy_name_pairs", "lineitem_discount_curve",
    "mm_frame_samples", "mm_resize_meta",
    "mode_priority_by_status", "nation_pareto_8020",
    "ols_qty_vs_discount_by_brand", "orders_basket_size_distribution",
    "orders_monthly_growth", "part_supply_redundancy",
    "q19_bracketed_revenue", "q22_idle_rich_customers",
    "sample_stratified_docs", "sim_ann_multiprobe2_topk",
    "sim_embedding_stats", "stream_user_gini",
    "supplier_hhi_by_nation", "trend_holt_forecast_monthly_revenue",
]
# Round-13 direct tail sweep (docs/SCALE.md): these 40 names were
# timed OUTSIDE the rotation via scale_curvature --time at 1x and 5x,
# completing 5x coverage of every data-scaled registry name. Recorded
# here (not added to EXTRA) so coverage reconstruction counts them
# without growing the per-round sweep.
SWEPT_DIRECT = [
    "events_dau_overlap_jaccard", "orders_cumulative_share",
    "orders_quarter_share", "q20_bulk_part_suppliers",
    "q6_revenue_forecast", "q_anti_customers_without_orders",
    "q_intersect_except_custkeys", "q_lineitem_stats",
    "q_nation_revenue_dense_top3", "q_nation_revenue_rank",
    "q_union_order_events", "sample_bottomk_per_lang",
    "sim_quantized_l2_histogram", "skew_split_hot_join_revenue",
    "snapshot_incremental_view_maintenance",
    "snapshot_time_travel_audit", "stats_mad_quantity_by_flag",
    "stats_price_quantiles", "stream_ab_test",
    "stream_boilerplate_gate", "stream_bot_score",
    "stream_bottomk_sample", "stream_dsir_gate",
    "stream_enriched_counts", "stream_fano_factor",
    "stream_haar_energy", "stream_lifecycle_stages",
    "stream_market_basket", "stream_mix_downsample",
    "stream_purchase_click_join", "stream_scd2_history",
    "stream_session_windows_native", "text_bpe_token_estimate",
    "text_contamination_scan", "text_token_topk",
    "trend_mann_kendall_monthly_revenue",
    "trend_spearman_acf_monthly_revenue", "graph_user_pagerank_top20",
    "sim_ann_recall", "sim_ivf_topk",
    # round-14 direct sweeps (docs/SCALE.md "Round 14"): the four
    # 10x-curvature heavy hitters re-measured and the five r14
    # additions timed at 1x and 5x in their birth round
    "dedup_ngram_jaccard_pairs", "graph_part_copurchase_communities",
    "graph_kcore_census", "customer_rfm_segments",
    "text_zipf_rank_profile", "dedup_partner_fanout_census",
    "mlprep_packing_span_histogram", "customer_ltv_decile_profile",
    "dq_numeric_overflow_audit", "sim_ivf_balance_census",
]

EXTRA = EXTRA + ROTATION


def sweep_names(reg) -> list[str]:
    """The sweep set: the bench headliners plus EXTRA."""
    return sorted(set(bench.headliners(reg)).union(EXTRA))


def time_queries(spark, sf_dir: str, names: list[str]) -> dict[str, float]:
    """Warm-up + one timed collect per name. The untimed warm-up
    collect builds the stored structures each name reads, so memo
    consumers are measured on their warm read without warming the
    families no name in the slice reads."""
    reg = load_all()
    return {name: round(bench.best_of(spark, reg[name], sf_dir, n=1), 3)
            for name in names}


def main() -> None:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 5
    out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/scale_smoke"
    spark = bench.session("scale-smoke")
    replicate(spark, k, out_dir)
    names = sweep_names(load_all())
    base = time_queries(spark, BASE_SF_DIR, names)
    big = time_queries(spark, out_dir, names)
    ratios = {n: round(big[n] / base[n], 2) if base[n] > 0 else None
              for n in base}
    print(json.dumps({"k": k, "base_sec": base, "k_sec": big,
                      "ratio": ratios,
                      "total_ratio": round(sum(big.values())
                                           / sum(base.values()), 2)}))
    shutil.rmtree(out_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
