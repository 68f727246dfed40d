package graft

/** Plan auditor: prints formatted physical plans for representative queries
  * and flags the properties that matter at 100 TB — parquet filter/column
  * pushdown, broadcast vs sort-merge joins, whole-stage codegen coverage.
  * Run: sbt 'runMain graft.ExplainAudit [queryName ...]'
  */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    // AQE off: it hides codegen ids before execution
    val spark = Harness.session("4", Map("spark.sql.adaptive.enabled" -> "false"))
    val names = if (args.nonEmpty) args.toSeq
      else Seq("q1_agg", "q3_join_agg", "q4_anti_join", "p7_values_map",
        "r3_one_to_many", "a1_a6_group_modes", "adtl_onetoone", "t_text_profile",
        "d_minhash_lsh", "s_cosine_topk", "d_lsh_jaccard_verify",
        "v_schema_validate", "s_ivfpq_topk", "t_bm25_topk",
        "t_repetition_filter", "q_stratified_sample", "q_asof_join",
        "q_range_join", "q_corpus_pipeline", "t_lm_score",
        "t_pack_sequences", "q_token_budget", "q_shuffle_shards",
        "d_semdedup", "d_exact_substr", "t_nb_quality",
        "q_importance_resample", "q_training_mix", "q_zorder_layout",
        "d_paragraph_dedup", "q_incremental_dedup", "q_leakage_safe_split",
        "s_sq8_topk", "t_lang_id", "t_c4_clean", "t_gopher_quality",
        "t_heavy_hitters", "t_hll_distinct", "q_page_rank",
        "d_containment", "s_centroid_outliers", "t_novelty", "t_entropy",
        "q_corpus_diff", "q_canonical_source", "s_matryoshka_recall",
        "q_dedup_report", "t_quality_report", "q_quality_pipeline",
        "q_ccnet_buckets", "q_canonical_quality", "t_subword_tokenize",
        "q_decon_bloom", "s_tfidf_pairs", "q_event_attribution",
        "t_bpe_train", "q_epoch_upsample", "t_tokenizer_card",
        "t_unicode_nfc", "q_json_props",
        "q_event_funnel", "q_cohort_retention", "q_event_transitions",
        "s_filtered_ann", "t_keywords_tfidf", "q_rollup_agg",
        "q_pivot_wide", "q_apply_changes", "q_sliding_window",
        "q_triangle_count", "t_token_pmi", "v_partitioned_write",
        "q_anomaly_zscore", "q_quantile_normalize", "q_scd2_history",
        "q_gap_fill", "q_decay_score", "t_lexical_diversity",
        "t_readability", "t_boolean_search", "q_fuzzy_match",
        "d_prefix_jaccard", "q_profile_table", "q_group_topk",
        "q_time_weighted_avg", "q_entity_resolution", "q_label_prop",
        "q_histogram", "q_group_mode", "q_corr_matrix", "q_benford",
        "q_jw_linkage", "q_interval_union", "q_wilson_ci", "q_assoc_rules", "q_ks_test",
        "q_emd_drift", "q_cohen_kappa", "q_reliability_bins", "q_calibration",
        "q_search_eval",
        "q_autocorr", "q_seasonal_profile", "q_item_cosine",
        "q_l_diversity", "t_pii_scrub", "q_active_users",
        "q_seasonal_outliers", "q_robust_scale", "q_weighted_sample",
        "q_histogram_2d", "t_ctfidf_terms", "q_skew_profile",
        "q_dp_counts", "q_group_regression", "q_theil_sen",
        "q_trimmed_mean", "t_invisible_chars",
        "q_bh_fdr", "q_sprt", "q_perm_test", "t_script_mix",
        "t_zipf_fit", "t_term_burstiness", "q_ewma", "q_adamic_adar",
        "q_fk_audit", "q_best_split", "q_cuped", "q_path_trigrams",
        "q_holt", "t_hll_overlap", "q_bootstrap_ci", "q_funnel_latency",
        // round-12 waves
        "d_repeat_spans_any", "t_keyness_g2", "q_change_point",
        "q_attribution", "q_chi2_test", "q_ess",
        // round-13/14 waves
        "q_profile_table_approx", "q_session_stats", "t_vocab_coverage",
        "s_centroid_drift", "t_bpe_encode", "q_session_native",
        "q_t_closeness", "s_silhouette")
    Harness.select(names).foreach { case (name, fn) =>
      println(s"\n========== $name ==========")
      val df = fn(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      println(plan)
      // quick property flags
      val hasPushedFilters = plan.contains("PushedFilters: [") &&
        !plan.matches("(?s).*PushedFilters: \\[\\].*")
      println(s"--- flags: broadcastJoin=${plan.contains("BroadcastHashJoin")}" +
        s" sortMergeJoin=${plan.contains("SortMergeJoin")}" +
        s" wholeStageCodegen=${plan.contains("codegen id")}" +
        s" pushedFilters=$hasPushedFilters")
    }
    spark.stop()
  }
}
