package graft
import graft.engine.LocalSession
/** Measures warm wall-time for representative operators across scale
  * factors — evidence that the plans scale linearly (SCALING.md). */
object ScalingCurve {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession()
    spark.sparkContext.setLogLevel("ERROR")
    val sfs = Seq("sf0.001", "sf0.01", "sf0.1")
    val queries = Seq("agg_sum_group", "join_star", "win_rank", "join_asof",
      "ts_session", "dedup_near", "vec_cosine_pairs", "ann_ivf", "text_tokens",
      "ann_topk", "ts_sliding", "tfidf_keywords", "split_train_val",
      "emb_quantize", "dedup_clusters", "simhash_near",
      "merge_scd2", "merge_scd2_incremental", "contamination_check",
      "text_pii_redact", "agg_heavy_hitters", "corpus_pipeline", "pack_sequences", "ann_kmeans",
      "funnel_steps", "retention_cohort", "peak_concurrency",
      "layout_zorder", "agg_cms_sketch", "dedup_edit_nn",
      "graph_pagerank", "agg_median_exact", "agg_bloom_filter",
      "agg_incremental_merge",
      "dedup_spans", "text_boilerplate", "corpus_epochs", "shuffle_shards",
      "ann_pq", "graph_triangles", "join_asof_salted",
      "retention_cohort_approx", "dedup_clusters_star",
      "vocab_coverage", "sample_balanced", "skew_diagnose", "text_lm_score",
      "join_incremental", "graph_reachability", "ts_changepoint",
      "peak_concurrency_dense", "join_band",
      "fn_gtfs_day", "text_url_normalize", "dedup_url",
      "join_interval_overlap", "win_streak", "agg_entropy", "ts_ewma",
      "graph_neighbor_jaccard", "multimodal_frames",
      "text_bm25", "text_posting_lists", "text_repetition",
      "agg_histogram", "ts_autocorr", "ts_seasonal_dow",
      "join_asof_tolerance", "agg_bitmap_presence", "agg_winsorize",
      "ts_calendar_gaps",
      // r7 wave (data-dependent keys only — the transit/GTFS fixture
      // ops run on constant verification data and have no SF curve)
      "tokenizer_pair_counts", "sample_temperature", "dedup_containment",
      "dedup_clusters_incremental", "set_except_all", "set_intersect_all",
      "join_anti_null_aware", "agg_percentile_cont", "agg_corr",
      "agg_skew_kurtosis", "path_patterns", "markov_transitions",
      "text_collocations", "corpus_quality_funnel", "win_distinct_running",
      "interval_coverage", "cdc_apply",
      // r7 third wave (schedule_coverage / gtfs_feed_validate /
      // source_fixed_width / gtfs_transfers / delay_propagation are
      // constant-fixture — no curve by construction)
      "ts_cross_correlation", "store_reconcile", "join_spatial_grid",
      "basket_pairs", "graph_k_core", "graph_shortest_path",
      "emb_gram", "sink_partitioned", "graph_label_spread", "sql_tpch_q3",
      "attribution_last_touch", "funnel_time_to_convert",
      "multimodal_dedup", "interval_gaps", "ts_linear_forecast",
      "tokenizer_bpe_merges", "text_classifier_perceptron",
      // r7 fourth wave (source_schema_evolution is constant-fixture)
      "emb_pca_power", "ts_anomaly_mad", "ab_test_zscore",
      "corpus_token_allocation", "dedup_golden_record", "contamination_emb",
      // r8 wave (station_trips_stops / source_quarantine /
      // delay_line_percentiles / station_headway_adherence are
      // constant-fixture — no curve by construction)
      "sql_tpch_q1", "sql_tpch_q4", "sql_tpch_q5", "sql_tpch_q16",
      "sql_window_topk",
      "sample_consistent", "dedup_semantic", "win_moving_median",
      "graph_components", "ab_test_ks", "ann_recall_curve",
      "tokenizer_apply", "text_lang_id_eval", "dedup_rate_by_source",
      "fn_bitwise", "corpus_release", "layout_hilbert", "agg_gini",
      // r9 wave (station_trips_stops-class constant-fixture keys
      // excluded by construction; sink_layout_hilbert includes its
      // write pass in the timing — it IS a write-path operator)
      "sql_tpch_q17", "sql_tpch_q19", "sql_tpch_q22", "sql_cte_setop",
      "sink_layout_hilbert", "quality_gopher_rules", "text_heaps_curve",
      "dedup_shingle_stats", "corpus_curriculum", "rank_fusion_rrf",
      "ab_test_mannwhitney", "join_bloom_prefilter", "graph_degree_dist",
      "sql_tpch_q10", "sql_tpch_q14", "ts_holt_linear",
      "sql_tpch_q18", "emb_norm_stats", "graph_assortativity", "sql_tpch_q15",
      // r9 snapshot-commit keys (r10, ADVICE — they scale with sf:
      // part / embeddings tables, not constant fixtures) + r10 wave
      // (sink_compact includes both its writes in the timing — it IS
      // a write-path operator, sink_layout_hilbert's precedent)
      "pareto_front", "emb_threshold_curve",
      "sql_tpch_q9", "sink_compact",
      "sql_tpch_q6", "sql_tpch_q7", "sql_tpch_q8", "sql_tpch_q12",
      "sql_tpch_q13", "sql_tpch_q21",
      "dedup_minhash_accuracy", "emb_outlier", "emb_dim_variance",
      "dedup_exact_substring", "graph_closeness", "sink_versioned",
      "sink_bucketed", "sql_recursive_cte", "sql_pivot",
      // r10 second wave (all scale with sf: events/documents/orders
      // tables; sink_vacuum and source_version_diff include their
      // builds in the timing — write-path operators, sink_versioned's
      // precedent)
      "ts_decompose", "attribution_position", "sample_weighted",
      "graph_modularity", "source_version_diff", "dq_expectations",
      "sql_unnest", "ts_holt_winters", "sink_vacuum",
      "ab_test_welch", "ts_acf", "sql_group_by_all",
      "graph_louvain_round", "ab_test_chi2", "text_readability",
      "dq_profile", "sql_rollup_grouping", "ab_bootstrap_ci",
      "graph_hits", "ab_test_srm", "sql_lateral", "emb_knn_graph",
      "agg_hhi", "graph_random_walks", "graph_louvain_sweep",
      "text_zipf_curve",
      // r11 wave (all scale with sf)
      "graph_walk_pairs", "dq_profile_approx", "emb_pca_deflate",
      "graph_louvain_coarsen", "ab_cuped", "ab_power_mde",
      "emb_project_pca", "graph_walk_biased", "feat_target_encode",
      "ts_ar1", "dedup_simhash_accuracy", "interval_merge",
      "multimodal_quality", "graph_coreness", "ab_sequential",
      "graph_rich_club", "ts_forecast_backtest", "agg_anova",
      "text_code_detect", "corpus_mix_kl", "ab_ratio_delta",
      // r12 wave (all scale with sf; sink_walk_corpus's one-time
      // corpus write happens in the WARM pass — idempotent per
      // (session, sf) — so its curve prices the steady-state
      // bucketed read-back, and the write cost itself is
      // graph_random_walks' curve, which builds the same table)
      "corpus_mix_kl_target", "sink_walk_corpus", "graph_walk_pmi",
      "graph_betweenness", "emb_pca_topk", "graph_walk_embed",
      "graph_edge_betweenness", "graph_conductance", "ts_theil_sen",
      "multimodal_near_dup", "dq_freshness", "dedup_soft_weights",
      "ab_bayes_mc",
      // r13 wave (all scale with sf; sink_brandes_deps' one-time
      // write happens in the WARM pass like sink_walk_corpus's, so
      // its curve prices the steady-state bucketed read-back and
      // graph_betweenness' curve prices the pass itself)
      "sink_brandes_deps", "graph_girvan_split", "sink_louvain_labels",
      "graph_walk_embed_k2", "dq_freshness_sla", "sample_soft_weighted",
      "dedup_lsh_scurve", "graph_embed_link_auc", "ts_cusum",
      "agg_median_weighted", "surv_kaplan_meier", "dq_drift_psi",
      "rank_ndcg", "corpus_dsir", "eval_calibration",
      "surv_nelson_aalen", "rank_mrr", "attribution_markov",
      "eval_pr_curve", "feat_woe_iv", "ab_diff_in_diff",
      "surv_logrank", "eval_roc_auc", "attribution_shapley",
      "eval_cohens_kappa", "eval_mcnemar",
      // r14 wave (walk generators now read their session sinks —
      // these curves price the steady-state bucketed read-back;
      // the link evals ride the fixed 8k-pair probe)
      "graph_random_walks", "graph_walk_biased", "sink_walk_biased",
      "rank_link_hits_at_k", "rank_link_auc_by_degree",
      "graph_girvan_rounds", "sample_dsir", "quality_lm_perplexity",
      // r15 wave (sink_backbone's one-time write happens in the WARM
      // pass like every session sink, so its curve prices the
      // steady-state read-back + gate rollup; graph_walk_embed /
      // _k4 read the widened embedding sink — steady state is the
      // bucketed scan; the tokenizer K ops scan the corpus once then
      // run 16 vocab-sized rounds)
      "sink_backbone", "sink_ebc", "tokenizer_train_k",
      "tokenizer_apply_k", "graph_walk_embed_k4", "tokenizer_merge_curve",
      "sink_bpe_history",
      // r16 wave (sink_girvan_trace's one-time build happens in the
      // WARM pass like every session sink; its curve — and
      // graph_girvan_rounds', now a projection of it — prices the
      // steady-state 3-row bucketed read + gate rollup; the louvain
      // l2 + ANN model sinks likewise price steady-state reads, and
      // graph_louvain_coarsen / ann_kmeans / ann_pq price the serve
      // paths off their sinks)
      "sink_girvan_trace", "sink_louvain_l2", "sink_kmeans_model",
      "sink_pq_codebook")
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    // optional dev filter: trailing args restrict the run to named
    // queries (Verify's pattern — unknown names fail loudly)
    val only = args.toSet
    val unknown = only.diff(SparkEntry.queries.keySet)
    require(unknown.isEmpty, s"unknown query name(s): ${unknown.mkString(", ")}")
    queries.filter(q => only.isEmpty || only(q)).foreach { q =>
      val fn = SparkEntry.queries(q)
      val times = sfs.map { sf =>
        val dir = s"/root/testdata/$sf"
        fn(spark, dir).count() // warm codegen for this query shape
        val t0 = System.nanoTime(); fn(spark, dir).count()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"CURVE $q%-18s ${times.map(t => f"$t%7.3f").mkString(" ")}")
      // same inter-query hygiene as Bench: drop localCheckpoint
      // residue so the next curve isn't taxed by this one's blocks
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    spark.stop()
  }
}
