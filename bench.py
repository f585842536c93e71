"""Headline benchmark: times every flagship query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line the driver records as BENCH_r{N}.json.

Covers every operator family from SURVEY.md §2: TPC-H-style analytics,
ES-DSL translation, reference ETL surface, dedup/similarity, text ops,
and the batch-equivalent streaming aggregation.

PINNED PROTOCOL (round 8) — so round-over-round deltas stay
attributable:
- ONE SparkSession for the whole run; HEADLINE is append-only, so
  every query keeps its list position (and therefore its
  session-age) across rounds. New queries append at the end.
- Warmup at sf0.001 (JIT + Python-worker spawn) before timing.
- Median of N=3 consecutive runs per query (SPARK_GRAFT_BENCH_RUNS);
  min/max land in BENCH_FULL.json.
- BENCH_FULL.json records per-query `t_offset` = seconds since the
  first timed query, so late-session drift (GC/heap growth as the
  list grows round-over-round) is distinguishable from plan
  regressions: a plan regression reproduces in isolation
  (SPARK_GRAFT_BENCH_KEYS=<name>), session drift does not.
- A query's time is plan build plus collect; BENCH_FULL.json `layers`
  records the median run's split and its job and stage counters
  (scripts/keyrun.py), read after the timed region.
- The box itself swings ~10% run-to-run: compare within-run ratios,
  not absolute seconds, across rounds.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from parquet_generator_spark.session import get_spark  # noqa: E402
from scripts.keyrun import KeyRunner, median_run  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402

HEADLINE = [
    # analytics engine
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "q6_forecast_revenue",
    "topk_per_group",
    "sessionize",
    "q2_cheapest_supplier",
    "q4_order_priority",
    "q10_returned_items",
    "rollup_agg",
    "percentiles_exact",
    "window_running",
    "asof_join",
    "range_join_bucketed",
    "skew_salted_agg",
    "skew_salted_join",
    "approx_sketches",
    "anti_join_inactive",
    "pivot_daily_revenue",
    "q7_nation_trade",
    "q8_market_share",
    "q14_promo_revenue",
    "q15_top_supplier",
    "q18_large_orders",
    "q19_disjunctive",
    "q22_idle_customers",
    "cube_agg",
    "above_avg_orders",
    "ntile_deciles",
    "q9_product_profit",
    "q11_important_parts",
    "q12_priority_lines",
    "q13_customer_distribution",
    "q16_supplier_variety",
    "q17_small_quantity",
    "q20_bulk_suppliers",
    "q21_waiting_suppliers",
    "set_ops",
    # reference ETL surface
    "terms_agg",
    "match_phrase_filter",
    "date_range_scan",
    "json_decode",
    # ES-DSL translation
    "dsl_term",
    "dsl_range",
    "dsl_bool",
    "dsl_nested_bool",
    "dsl_exists_prefix_wildcard",
    "dsl_filter_agg",
    "dsl_range_agg",
    "dsl_percentiles",
    "dsl_composite",
    "dsl_date_histogram",
    "dsl_stats",
    "dsl_multi_metric",
    "dsl_filters_buckets",
    "dsl_top_hits",
    "dsl_terms_nested",
    "dsl_composite_paged",
    "dsl_significant_terms",
    "dsl_derivative",
    "dsl_moving_avg",
    "dsl_bucket_script_selector",
    "dsl_bucket_sort",
    "dsl_avg_bucket",
    "dsl_date_histogram_zerofill",
    "dsl_match_msm",
    "dsl_terms_order_metric",
    "dsl_multi_match",
    "dsl_fuzzy",
    "dsl_global_agg",
    "json_props_agg",
    "dsl_date_range_agg",
    "dsl_extended_stats",
    "dsl_percentile_ranks",
    "dsl_missing_agg",
    "sql_interface",
    "stream_static_enrich",
    # training-data pipeline
    "dedup_exact",
    "dedup_minhash",
    "dedup_simhash",
    "dedup_embedding",
    "dedup_embedding_lsh",
    "span_dedup",
    "tfidf_topterms",
    "bm25_topk",
    "seq_packing",
    "source_temperature_sample",
    "char_entropy",
    "cooccurrence_pmi",
    "audio_header_parse",
    "rolling_window_features",
    "embedding_quantize",
    "source_overlap",
    "zipf_slope",
    "dup_ngram_fraction",
    "embedding_norm_outliers",
    "event_transitions",
    "first_touch_attribution",
    "dsl_function_score",
    "dsl_collapse",
    "bpe_merge_candidates",
    "ann_bruteforce",
    "ann_lsh",
    "ann_ivf",
    "retrieval_eval",
    "dedup_clusters",
    "ngram_topk",
    "text_scrub",
    "quality_filter_pipeline",
    "train_test_split",
    "multimodal_frames",
    "media_header_parse",
    "multimodal_meta",
    "text_quality",
    "text_tokens",
    "text_langid",
    "text_fingerprint",
    "vocab_coverage",
    "embedding_centroids",
    "decontaminate",
    "doc_chunks",
    "semantic_dedup",
    "gopher_quality",
    "funnel_stages",
    "cohort_retention",
    "knn_classify",
    "stratified_sample",
    "corpus_prep_pipeline",
    "embedding_group_stats",
    "grouping_sets_agg",
    "unpivot_melt",
    "window_ranks",
    "corr_stats",
    "forward_fill",
    "dsl_histogram",
    # round-5 additions: DSL fourth tranche + seventh pipeline wave
    "dsl_weighted_avg",
    "dsl_top_metrics",
    "dsl_rare_terms",
    "dsl_serial_diff",
    "dsl_stats_bucket",
    "dsl_cumulative_cardinality",
    "dsl_adjacency_matrix",
    "dsl_multi_terms",
    "dsl_auto_date_histogram",
    "dsl_runtime_field",
    "dsl_search_after",
    "bigram_logprob",
    "lexical_diversity",
    "robust_length_outliers",
    "embedding_dim_stats",
    "kmeans_clusters",
    "peak_concurrency",
    "incremental_dedup",
    "dedup_keep_best",
    "dedup_containment",
    "embedding_top_component",
    "data_mixture_report",
    "feature_hash_retrieval",
    "table_profile",
    "quantile_normalize",
    "weighted_median",
    "dsl_terms_include",
    "dsl_significant_text",
    "dsl_more_like_this",
    "scd2_customer_merge",
    "dedup_pagerank",
    "top_paths",
    "drift_psi",
    "time_weighted_avg",
    "ohlc_daily",
    "linear_interpolate",
    "rfm_segmentation",
    "dsl_histogram_zerofill",
    "time_to_convert",
    "stream_stream_join",
    # streaming (batch-equivalent forms)
    "stream_windowed_agg",
    "stream_session_window",
    "stream_dedup",
    "stream_near_dedup",
    "stream_sliding_agg",
    # round 6
    "dsl_nested",
    "dsl_nested_agg",
    "table_profile_approx",
    "image_decode_stats",
    "dsl_boxplot",
    "dsl_mad",
    "dsl_string_stats",
    "dsl_t_test",
    "dsl_matrix_stats",
    "ngram_novelty",
    "tokenizer_fertility",
    "gini_source_balance",
    "simhash_bit_balance",
    "knn_eval_confusion",
    "minhash_estimate_error",
    "winsorize_lengths",
    "charset_profile",
    "js_divergence_sources",
    "dsl_percentiles_bucket",
    "dsl_normalize",
    "dsl_sampler",
    "dsl_filters_other_bucket",
    "dsl_date_histogram_offset",
    "dsl_geo_distance",
    "dsl_geo_bounding_box",
    "dedup_threshold_sweep",
    "ivf_recall_curve",
    "stream_window_distinct",
    "cluster_purity",
    "dedup_cluster_size_dist",
    "dsl_has_child",
    "dsl_has_parent",
    "dsl_geotile_grid",
    # round 7
    "dsl_query_string",
    "dsl_simple_query_string",
    "dsl_match_phrase_prefix",
    "dsl_dis_max_boosting",
    "dsl_geohash_grid",
    "span_dedup_maximal",
    "dsl_span_near",
    "dsl_terms_set",
    "dsl_random_score",
    "dsl_pinned",
    "ccnet_quality_buckets",
    "knn_classify_ivf",
    "dsl_geo_centroid",
    "boilerplate_prefix_groups",
    "length_log_histogram",
    "windowed_topk_types",
    "dsl_rank_feature",
    "dsl_script_score",
    "dsl_distance_feature",
    "dsl_percolate",
    "dsl_geo_shape",
    "embedding_pq",
    "dsl_wrapper",
    "dsl_ip_range",
    "dsl_intervals",
    "dsl_span_near_multi",
    "dsl_knn",
    "dsl_rescore",
    "jpeg_header_parse",
    "dsl_scripted_metric",
    "dedup_embedding_lsh_hi",
    "dsl_ip_prefix",
    "dsl_term_suggest",
    "dsl_highlight",
    "dsl_diversified_sampler",
    "dsl_categorize_text",
    "basket_lift",
    "dsl_date_math",
    "dsl_terms_lookup",
    "dsl_completion_suggest",
    "hapax_doc_flags",
    "length_quality_heatmap",
    "lsh_bands_planner",
    "dsl_phrase_suggest",
    "dsl_field_caps",
    "dsl_rate",
    "dsl_span_first",
    "doc_keywords",
    "dsl_geo_bounds",
    "dsl_reverse_nested",
    "dsl_children_agg",
    "stream_scripted_metric",
    "dsl_sort_script",
    "dsl_frequent_item_sets",
    "gif_header_parse",
    "dsl_geo_line",
    "tiff_header_parse",
    "colbert_maxsim",
    "dsl_moving_percentiles",
    "dsl_change_point",
    "mp4_header_parse",
    "webp_header_parse",
    "readability_scores",
    "url_domain_stats",
    "dsl_bucket_correlation",
    "dsl_bucket_count_ks_test",
    "dsl_parent_id",
    "dsl_sparse_vector",
    "dsl_rank_eval",
    "dsl_combined_fields",
    "dsl_match_bool_prefix",
    "dsl_min_max_sum_bucket",
    "dsl_msearch",
    "dsl_search_template",
    "dsl_rrf",
    "dsl_geo_polygon",
    "dedup_edit_distance",
    "url_dedup_normalized",
    "pii_density",
    "url_blocklist_filter",
    "benford_digits",
    "pareto_cumshare",
    "yoy_growth",
    "dsl_terms_partition",
    "dsl_geo_distance_rings",
    "dsl_span_or_not",
    "dsl_hybrid_score",
    "matryoshka_overlap",
    "lang_source_chi2",
    "exif_orientation_parse",
    "dsl_rule_query",
    "dq_referential_audit",
    "incremental_agg_merge",
    "dsl_ltr_rescore",
    "dsl_retriever_pipeline",
    "dsl_explain_score",
    "stream_windowed_topk",
    "dsl_composite_mixed",
    "dsl_multi_knn",
    "hard_negative_mining",
    "dsl_collapse_inner_hits",
    "embedding_outlier_mahalanobis",
    "lexicon_filter_stats",
    "dsl_terms_missing",
    "skew_key_report",
    "dsl_date_histogram_tz",
    "dsl_moving_fn_max",
    "dsl_terms_min_doc_count",
    "dup_rate_by_source",
    "hourly_seasonality",
    # round 9
    "dsl_match_analyzer",
    "dsl_match_synonyms",
    "bpe_vocab_train",
    "bpe_encode_stats",
    "jpeg_decode_stats",
    "quality_model_score",
    "dsl_match_phrase_analyzer",
    "dsl_multi_match_analyzer",
    "source_ngram_overlap",
    "k_anonymity_audit",
    "dsl_counter_rate",
    "dsl_tsds_downsample",
    "corpus_data_card",
    # round 10
    "dsl_date_math_now",
    "ann_ivfpq",
    "dsl_match_porter",
    "text_tokens_cjk",
    "dsl_match_phrase_porter",
    "langid_margin",
    "domain_cap_sample",
    "epoch_plan",
    "dsl_time_series",
    "dsl_range_field",
    "decontaminate_bloom",
    "dsl_variable_width_histogram",
    "dsl_script_score_painless",
    "esql_pipeline",
    # round 11
    "ann_ivfpq_served",
    "esql_pipeline_ts",
    "esql_mv_expand",
    "esql_dissect",
    "dsl_match_analyzer_de",
    "dsl_match_analyzer_fr",
    "dsl_scripted_metric_loop",
    "dsl_match_phrase_analyzer_de",
    "esql_rename_drop",
    "dsl_match_analyzer_es",
    "esql_enrich",
    "esql_grok",
    "esql_case_like",
    "esql_mv_funcs",
    "esql_stats_percentiles",
    "esql_inlinestats",
    "esql_lookup_join",
    "esql_date_extract",
    "esql_change_point",
    "dsl_match_analyzer_it",
    "esql_bucket_numeric",
    "esql_stats_where",
    "esql_top_agg",
    "esql_math_funcs",
    "gopher_repetition",
    "repetition_runs",
    "ann_ivfpq_appended",
    "changelog_apply",
    "esql_weighted_avg",
    "esql_values_agg",
    "esql_string_funcs",
    "esql_sort_nulls",
    "context_window_fill",
    "hash_sample",
    "esql_keep_wildcard",
    "quality_prune_curve",
    "temperature_sweep",
    # round-11 tranche eight (continuation session)
    "dsl_match_analyzer_pt",
    "dsl_match_analyzer_sv",
    "dsl_match_analyzer_da",
    "dsl_match_analyzer_no",
    "esql_fork",
    "esql_cidr_match",
    "esql_sample",
    "c4_line_filters",
    "dsir_importance_weights",
    "filter_ablation_grid",
    "quality_classifier_gd",
    "dedup_index_served",
    "dsl_match_lang_routed",
    "audio_pcm_stats",
    "ann_int8_rescore",
    # round 12
    "esql_rate",
    "dedup_index_appended",
    "dsl_match_analyzer_stored",
    "dsl_match_phrase_analyzer_stored",
    "dsl_scripted_metric_while",
    "dsl_match_analyzer_nl",
    "dsl_match_analyzer_ro",
    "esql_knn",
    "chat_template_pack",
    "esql_fuse",
    "dsl_match_analyzer_ru",
    # round 13: language twelve + stored-analysis class, FUSE forms,
    # downsample-on-write serving, ROW/SHOW, linear retriever
    "dsl_match_analyzer_fi",
    "esql_fuse_docs",
    "esql_fuse_linear",
    "dsl_tsds_downsample_served",
    "esql_row",
    "esql_show",
    "dsl_retriever_linear",
    # round-13 continuation: languages 13-14, rollup-served rates,
    # weighted rrf (append-only order protocol)
    "dsl_match_analyzer_hu",
    "dsl_match_analyzer_ar",
    "dsl_rate_served",
    "esql_rate_served",
    "esql_rate_week_served",
    "dsl_rrf_weighted",
]

# brute-force exactness twins with a labeled production path; at
# sf >= 1 these report on their own line instead of the headline
# total (dedup_ngram_jaccard is excluded from HEADLINE entirely)
QUADRATIC_BASELINES = ["knn_classify"]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf"))
    except ValueError:
        sf = -1.0

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    qs = entrymod.queries()
    runner = KeyRunner(spark)
    runner.warm_up(qs)

    # Median-of-N per query (N=3 default): single-shot totals swung
    # +/-25% run-to-run on a loaded box, which made per-query
    # regressions unreadable round-over-round. The three runs are
    # consecutive per query, so the median reports the warm steady
    # state; min/max land in BENCH_FULL.json for variance reading.
    n_runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    # optional subset, e.g. the expensive-query scale checkpoint:
    # SPARK_GRAFT_BENCH_KEYS="dedup_containment,span_dedup" python bench.py
    keys_env = os.environ.get("SPARK_GRAFT_BENCH_KEYS", "")
    headline = [k.strip() for k in keys_env.split(",") if k.strip()] \
        if keys_env else HEADLINE
    timings: dict[str, float] = {}
    mins: dict[str, float] = {}
    maxs: dict[str, float] = {}
    rows: dict[str, int] = {}
    errors: dict[str, str] = {}
    offsets: dict[str, float] = {}
    layers: dict[str, dict] = {}
    t_session = time.perf_counter()
    for name in headline:
        offsets[name] = round(time.perf_counter() - t_session, 1)
        t0 = time.perf_counter()
        try:
            runs = [runner.run_key(name, qs[name], sf_dir)
                    for _ in range(n_runs)]
        except Exception as exc:  # one bad query must not kill the run
            timings[name] = round(time.perf_counter() - t0, 3)
            errors[name] = f"{type(exc).__name__}: {exc}"[:200]
            print(f"# {name}: ERROR {errors[name]}", file=sys.stderr)
            continue
        med = median_run(runs)
        timings[name] = round(med.total_s, 3)
        mins[name] = round(min(r.total_s for r in runs), 3)
        maxs[name] = round(max(r.total_s for r in runs), 3)
        rows[name] = len(med.rows)
        # the median run's build/execute split and stage counters
        layers[name] = {k: round(v, 4) for k, v in med.layers.items()}
        print(f"# {name}: median {timings[name]:.3f}s "
              f"(min {mins[name]:.3f}s, {rows[name]} rows)", file=sys.stderr)

    # Documented-quadratic exactness baselines distort the sf>=1
    # sweep headline (knn_classify is 17% of the r10 sf1 total while
    # its production twin knn_classify_ivf is 15s-class): at sweep
    # scale they move to a separate reported line so the headline
    # measures plan quality; at the sf0.1 gate they stay in-total.
    quad = {}
    if sf >= 1.0:
        for k in QUADRATIC_BASELINES:
            if k in timings:
                quad[k] = timings.pop(k)
    total = round(sum(timings.values()), 3)
    full = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "mins": mins,
        "maxs": maxs,
        "n_runs": n_runs,
        "rows": rows,
        "sf": sf,
        "order": headline,
        "t_offset": offsets,
        "layers": layers,
    }
    if quad:
        full["quadratic_baselines"] = quad
        full["quadratic_total"] = round(sum(quad.values()), 3)
    if errors:
        full["errors"] = errors
    # Full per-query detail goes to BENCH_FULL.json next to this
    # script (untracked scratch output); stdout gets ONE compact
    # line. The driver stores only the last 2000 chars of stdout, so
    # the printed line must fit well under that or the round's
    # BENCH_r{N}.json records parsed=null (round-2 lesson). The file
    # write must never take the stdout line down with it.
    full_path = os.environ.get("SPARK_GRAFT_BENCH_OUT") or os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_FULL.json")
    try:
        with open(full_path, "w") as fh:
            json.dump(full, fh, indent=1, sort_keys=True)
    except OSError as exc:
        print(f"# BENCH_FULL.json write failed: {exc}", file=sys.stderr)

    out = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": {k: round(v, 1) for k, v in timings.items()},
        "sf": sf,
        "n_queries": len(timings),
        "n_runs": n_runs,
        "stat": "median",
    }
    if quad:
        out["quadratic_total"] = round(sum(quad.values()), 2)
        out["quadratic_baselines"] = sorted(quad)
    if errors:
        out["n_errors"] = len(errors)
    line = json.dumps(out, separators=(",", ":"))
    # Drop the cheapest per-query entries first until the line fits —
    # the slow queries are the ones worth reading against BASELINE.
    by_time = sorted(timings, key=timings.get)
    while len(line) > 1900 and by_time:
        dropped = by_time.pop(0)
        del out["queries"][dropped]
        out["queries_truncated"] = True
        line = json.dumps(out, separators=(",", ":"))
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
