package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-headroom evidence: replicate sf0.1 N× (shifted ids) and time the
  * most expensive gate queries at the larger scale, to confirm the plans
  * stay near-linear at 10× (and, for the flagship pipelines, 100×) data.
  *
  * Replication is designed so output sizes grow LINEARLY with the data —
  * otherwise the measurement conflates plan scaling with data-property
  * changes:
  *  - document text goes through a per-copy AFFINE substitution cipher
  *    (letter i → a·i+b mod 26, a coprime to 26 — 312 distinct members, so
  *    copies stay pairwise-distinct well past 100×; copy 0 is identity and
  *    copies 1-25 coincide with the former Caesar family). An injective
  *    letter map preserves every within-copy shingle/fingerprint relation
  *    while cross-copy shingle sets stay disjoint (straight copies would
  *    make every doc an N-way near-duplicate and the candidate-pair count
  *    quadratic by construction);
  *  - embeddings get a per-copy deterministic SIGN-FLIP isometry (copy 0 is
  *    identity): flipping a pseudo-random half of the dimensions preserves
  *    every within-copy cosine exactly (the same orthogonal transform is
  *    applied to both sides of any pair) while cross-copy cosines collapse
  *    toward 0; labels shift per copy so bucketed operators see each copy
  *    as a disjoint shard — near-dup candidates and output grow linearly;
  *  - orders replicate with shifted keys (row-linear operators only).
  *
  * Usage: runMain graft.ScaleBench <srcSfDir> <workDir> <copies> [q1 q2 …]
  * An explicit query list restricts the run (and the replication to just
  * the tables those queries read — the 100× flagship mode).
  * Prints one JSON line {"metric":"scale_total", ...} like Bench; a query
  * that throws is listed under "failed" only, and the run exits 1.
  */
object ScaleBench {

  private val Queries = Seq(
    "s_ivf_kmeans_topk", "d_minhash_lsh", "d_lsh_jaccard_verify", "d_simhash",
    "s_cosine_topk", "adtl_onetomany", "d_embed_neardup", "q_clean_corpus",
    "d_ngram_jaccard", "d_ngram_jaccard_bounded", "m_media_feature",
    "adtl_apply_dates", "r3_one_to_many", "q_stream_window",
    "d_embed_neardup_probes", "d_cells1024_probe2", "d_embed_srp_lsh",
    "t_winnow_overlap", "s_pq_adc_topk", "s_ivfpq_topk", "t_bm25_topk",
    "d_dup_clusters", "t_repetition_filter", "q_asof_join", "q_range_join",
    "t_chunk_docs", "q_corpus_pipeline", "t_pack_sequences",
    // q_token_budget's OUTPUT is budget-capped (constant rows at any
    // scale) but its work is the full-corpus scan + per-stratum prefix
    // sum — the time, not the rows, is the scaling evidence. The same
    // holds for q_importance_resample (fixed 200-row sample, full-corpus
    // scoring scan + top-k).
    "q_token_budget", "q_shuffle_shards", "d_exact_substr",
    "q_training_mix", "q_zorder_layout",
    // d_semdedup's gate pins a FIXED 1500-vector slice (constant work at
    // any sf — its rows_ratio reads 1.0 by construction); the honest
    // scaling form is d_semdedup_scale: full table at 1024 cells, the
    // d_cells1024_probe2 family taken to the CC + survivor decision.
    "d_semdedup", "d_semdedup_scale",
    "t_lm_score", "t_nb_quality", "q_importance_resample",
    // round-9 additions: ANN recall evidence (brute-force ground truth ×
    // fixed query set — the corpus side scales, the query side doesn't),
    // cluster-balanced sampling (kmeans assign + distributed per-cell
    // rank), temperature mixing (budget derivation + prefix sum), and the
    // cross-source contamination matrix (distinct (source,fp) collapse)
    "s_ann_recall", "q_cluster_sample", "q_temperature_mix",
    "t_overlap_matrix",
    // round-9 second wave: paragraph-level (disjoint-segment) dedup,
    // incremental batch-vs-corpus dedup, leakage-safe (CC-keyed) splits,
    // and int8 scalar-quantized ADC search
    "d_paragraph_dedup", "q_incremental_dedup", "q_leakage_safe_split",
    "s_sq8_topk",
    // round-9 third wave: char-trigram NB language ID, C4 line cleaning,
    // Gopher quality rules, Count-Min heavy hitters, HLL distinct
    // sketches, and 3-iteration weighted PageRank over the order graph
    "t_lang_id", "t_c4_clean", "t_gopher_quality", "t_heavy_hitters",
    "t_hll_distinct", "q_page_rank",
    // round-9 fourth wave: asymmetric containment pairs, embedding
    // centroid outliers, n-gram novelty, token entropy
    "d_containment", "s_centroid_outliers", "t_novelty", "t_entropy",
    // round-9 fifth wave: snapshot diff, canonical-source dedup
    // election, matryoshka truncation recall, the two data-card reports
    "q_corpus_diff", "q_canonical_source", "s_matryoshka_recall",
    "q_dedup_report", "t_quality_report", "q_quality_pipeline",
    "q_ccnet_buckets", "q_canonical_quality", "t_subword_tokenize",
    // round-9 sixth wave: Bloom-prefiltered decontamination (the
    // blocklist-too-big-to-broadcast route) and posting-list TF-IDF
    // cosine pairs (df-prune-capped self-join)
    // t_bpe_train's merge table is constant-size output; the scaling work
    // is the word-count shuffle feeding the capped collect
    "q_decon_bloom", "s_tfidf_pairs", "t_bpe_train",
    "q_event_attribution", "q_epoch_upsample", "t_tokenizer_card",
    "t_unicode_nfc", "q_json_props", "q_hybrid_dedup",
    // round-9 seventh wave: behavioral analytics (funnel/retention/
    // transitions — user-keyed shuffle families over the replicated
    // event log), per-doc tf-idf keywords (posting prune + rank window),
    // filtered ANN (fixed query set, scaling corpus), ROLLUP grouping
    // sets and explicit-list pivot
    "q_event_funnel", "q_cohort_retention", "q_event_transitions",
    "t_keywords_tfidf", "s_filtered_ann", "q_rollup_agg", "q_pivot_wide",
    // CDC merge (full-outer key shuffle over the replicated snapshot +
    // a snapshot-sized change batch) and the in-plan sliding-window
    // expansion; v_schema_merge is a sink round-trip, benched in Bench
    // like the other sinks rather than here
    "q_apply_changes", "q_sliding_window",
    // degree-ordered triangle counting (wedge join bounded at sqrt(m)
    // out-degree) and df-capped token-PMI pairs
    "q_triangle_count", "t_token_pmi",
    // round-9 eighth wave: kNN-graph self-join (per-cell quadratic by
    // design), feature-hashing TF-IDF, Welch A/B readout, rolling
    // window features, percentile winsorization
    "s_knn_graph", "t_hashing_tfidf", "q_ab_ttest",
    "q_rolling_features", "t_winsorize",
    // round-9 ninth wave: grouped z-scores (moment agg + broadcast-back
    // scan), summary-windowed percent-rank, SCD2 compaction (user-keyed
    // window family), gap fill (in-plan grid generate), decay scoring
    // (narrow scan + one key shuffle), lexical diversity / readability
    // (zero-shuffle folds), conjunctive search (codegen scan), and the
    // blocked-triangle fuzzy linkage (quadratic-in-block by design —
    // per-copy brand suffixes keep replicated blocks disjoint so pairs
    // grow linearly)
    "q_anomaly_zscore", "q_quantile_normalize", "q_scd2_history",
    "q_gap_fill", "q_decay_score", "t_lexical_diversity", "t_readability",
    "t_boolean_search", "q_fuzzy_match",
    // round-9 tenth wave: prefix-filter set-similarity join (candidate
    // traffic = sum of prefix-gram df² — affine shards keep gram sets
    // copy-disjoint so it scales with the per-copy df profile), the
    // one-job table profile, O(k)-state grouped top-k, and the
    // lead-window time-weighted average
    "d_prefix_jaccard", "q_profile_table", "q_group_topk",
    "q_time_weighted_avg",
    // round-13: the HLL profile twin — the no-Expand recurring-profile
    // plan whose register shuffle is constant-size at any scale
    "q_profile_table_approx",
    // round-9 eleventh wave: composed entity resolution (pairs-sized CC
    // fixpoint over copy-disjoint brand blocks), 2-round label
    // propagation on the co-purchase graph, dense-grid histogram,
    // summary-window mode, one-job correlation matrix, Benford audit
    "q_entity_resolution", "q_label_prop", "q_histogram", "q_group_mode",
    "q_corr_matrix", "q_benford",
    // round-9 twelfth wave: mergeable HLL shard sketches, URL domain
    // report (planted URLs scale with docs), k-anonymity group audit
    "t_hll_merge", "t_url_extract", "q_k_anonymity",
    // round-9 thirteenth wave: RRF hybrid fusion (rank-bounded windows),
    // golden-record survivorship (one entity groupBy), churn labels
    // (week-summary lead window)
    "q_rrf_fusion", "q_golden_record", "q_churn_labels",
    // adoption curve (first-seen collapse) + concentration/Gini (count-
    // value summary windows)
    "q_cumulative_distinct", "q_concentration",
    // composed feature mart: one materialized base + five summary passes
    "q_user_feature_mart",
    // round-10 wave: robust median/MAD outliers (two summary-window
    // medians + broadcast joins), per-key CUSUM drift (dense-grid window
    // family), and the O(k)-state mergeable bottom-k quantile sketch
    "q_mad_outliers", "q_cusum_drift", "t_quantile_sketch",
    // per-key cap (O(cap)-state agg + winners join) and Heaps vocabulary
    // growth (token-keyed first-seen + distributed prefix sums)
    "q_domain_cap", "t_vocab_growth",
    // PSI distribution drift (one (group,bin) shuffle + bins-sized
    // windows) and rank-biased overlap (two O(k) rankings + depth grid)
    "q_psi_drift", "q_rank_overlap",
    // Jaro-Winkler blocked linkage (quadratic-in-block triangle, codegen
    // kernel + lossless length prune), per-key interval union (one key
    // shuffle + bounded window), Wilson CI (count-only group shuffle)
    "q_jw_linkage", "q_interval_union", "q_wilson_ci",
    // basket-keyed association rules (per-basket quadratic bounded by
    // order width; two count shuffles + item joins)
    "q_assoc_rules",
    // two-sample KS drift: one (group,value) count shuffle + summary
    // windows over the value domain
    "q_ks_test",
    // round-10 eval wave: Wasserstein drift (same ECDF machinery + a
    // lead window), kappa (one cell shuffle + label-domain joins),
    // calibration (one bin shuffle), TREC scorecard (judgment-bounded
    // windows + k-bounded per-system shuffles)
    "q_emd_drift", "q_cohen_kappa", "q_calibration", "q_search_eval",
    // round-10 survival/association wave: Kaplan-Meier (one (group,time)
    // count shuffle + time-domain windows), Spearman (two rank-summary
    // joins + one exact-moment agg), JSD categorical drift (one
    // (group,category) shuffle), Cramér's V (one cell shuffle +
    // label-domain marginal grid)
    "q_kaplan_meier", "q_spearman", "q_jsd_drift", "q_cramers_v",
    // round-10 model-eval/feature wave: AUC + Mann-Whitney (one
    // (group,score) count shuffle each, score-domain windows), mutual
    // information (one cell shuffle + label-domain joins), equal-freq
    // bins (count shuffle + value-domain window + join-back), LOO
    // target encoding (category sums broadcast onto a scoring scan),
    // lift table (count shuffle + score-domain and bucket windows)
    "q_auc_roc", "q_mann_whitney", "q_mutual_info", "q_equal_freq_bins",
    "q_target_encode", "q_lift_table",
    // round-11 tail: lag-k ACF + seasonal profile (one (key,bucket)
    // shuffle each, bucket-grid summary joins), item-item cosine (the
    // guarded basket self-join), l-diversity (one cell shuffle)
    "q_autocorr", "q_seasonal_profile", "q_item_cosine", "q_l_diversity",
    // round-11 second wave: PII scrub (pure scan), active users
    // (window-constant × cells explode + multi-distinct), seasonal
    // outliers (dense series + residual-domain medians), robust scaling
    // (value-domain quantile picks + broadcast-back scan)
    "t_pii_scrub", "q_active_users", "q_seasonal_outliers",
    "q_robust_scale",
    // round-11 third wave: weighted sampling (O(k)-state agg), 2-D
    // histogram (one cell shuffle), c-TF-IDF (class-term shuffle +
    // summary-frame rank window)
    "q_weighted_sample", "q_histogram_2d", "t_ctfidf_terms",
    // round-11 fourth wave: skew profile (key count shuffle + count-
    // domain ECDF), DP counts (one count shuffle + noise projection)
    "q_skew_profile", "q_dp_counts",
    // round-11 fifth wave: OLS fit (one moment shuffle), Theil-Sen
    // (bounded pairwise self-join of the bucket frame), trimmed mean
    // (value-domain cuts), invisible-char audit (pure scan)
    "q_group_regression", "q_theil_sen", "q_trimmed_mean",
    "t_invisible_chars",
    // round-11 sixth wave: BH-FDR (one (family,p) count shuffle +
    // p-domain windows over the MWU test family), SPRT (distributed
    // prefix sums + two struct-argmin reductions), randomization test
    // (b-replicate explode map-combined to (group,rep) cells)
    "q_bh_fdr", "q_sprt", "q_perm_test",
    // round-11 seventh wave: script mix (pure scan), Zipf fit (one
    // (class,term) shuffle + tf-domain prune + bounded head rank),
    // burstiness (one (term,doc) shuffle + term agg)
    "t_script_mix", "t_zipf_fit", "t_term_burstiness",
    // round-11 eighth wave: EWMA (dense series + per-key bounded
    // aggregate fold), Adamic-Adar (degree-guarded wedge self-join),
    // FK audit (key-frame anti-join + 1-row reductions)
    "q_ewma", "q_adamic_adar", "q_fk_audit",
    // round-11 ninth wave: stump screening (one melt scan +
    // value-domain candidate windows), CUPED (moment shuffle +
    // broadcast-back scoring scan), path trigrams (bucketed lead
    // windows + path-domain rank)
    "q_best_split", "q_cuped", "q_path_trigrams",
    // round-11 tenth wave: Holt smoothing (dense series + bounded
    // two-state fold), HLL overlap (register-frame pairwise merges +
    // the exact-intersection honesty join)
    "q_holt", "t_hll_overlap",
    // round-11 eleventh wave: Poisson bootstrap (linear-in-b explode
    // map-combined to (group,rep) cells + replicate-mean ECDF), funnel
    // latency (the reachedFrames gating chain + latency-domain ECDF)
    "q_bootstrap_ci", "q_funnel_latency",
    // round-12: the composed CC near-dedup (pairs -> connected
    // components -> anti-join survivors) — a flagship user path whose
    // machinery d_dup_clusters covers but whose COMPOSITION was
    // unmeasured at 10x (round-11 verdict item 4); and the any-length
    // repeated-span removal (gram shuffle + in-plan interval-merge fold)
    "q_drop_near_dups", "d_repeat_spans_any",
    // round-12 second wave: G2 keyness (one term-count shuffle +
    // broadcast totals), change point (dense series + bucket-domain
    // windows + struct argmax), multi-touch attribution (user-keyed
    // path join + (user,conversion) window family)
    "t_keyness_g2", "q_change_point", "q_attribution",
    // round-12 third wave: chi2 independence (cell shuffle + marginal
    // grid), Kish ESS (one map-combinable group aggregation)
    "q_chi2_test", "q_ess",
    // round-13: the two priciest adtl-core gates promoted to scale
    // evidence (round-12 verdict item 6) — the combinedType groupBy's
    // numeric-aware min_by/max_by + file-order list/set collects
    "adtl_groupby_combined",
    // round-13 second wave: gap sessionization (bucket-stitched flags +
    // per-user prefix sum), Good-Turing/Chao1 coverage (one token-count
    // shuffle), embedding centroid drift (one cell shuffle)
    "q_session_stats", "t_vocab_coverage", "s_centroid_drift",
    // round-14: the sessionization STREAMING twin enters the audit in
    // the round after it shipped (round-13 verdict item 6) — staged
    // parquet replay, per-user O(1) state, closed-session emission
    "q_session_rows_stream",
    // round-14 second wave: native session_window twin (one sorted
    // reducer per user — the documented hot-key contrast), BPE
    // train→encode composition, t-closeness grids,
    // broadcast-amplified centroid silhouette
    "q_session_native", "t_bpe_encode", "q_t_closeness", "s_silhouette",
    // round 15: the pinned count-join twins (PairEngine.Auto picks the
    // triangle at gate scale, so these are the 1×-vs-10× evidence that
    // BOTH exact pair engines scale — at 10× the Auto gates ride the
    // count join anyway and the twins measure it deduplicated from the
    // dispatch decision) and the null-key funnel convention gate
    "d_jaccard_countjoin", "d_containment_countjoin", "q_funnel_nullkey",
    // round-15 second wave: MassiveText line/para repetition (zero
    // shuffles — the fold must stay scan-bound), corpus-wide boilerplate
    // strip (broadcast membership + one doc-key rebuild exchange),
    // token-weighted quartiles (cells-not-rows window)
    "t_dup_lines", "t_boilerplate_strip", "q_weighted_quantile",
    // round-15 third wave: lang-ID margin/abstain (the runner-up rides
    // the same one-scan kernel — must stay scan-bound beside t_lang_id)
    // and the sequence-packing audit (distributed prefix sum, no global
    // sort)
    "t_lang_id_margin", "q_sequence_pack")

  /** Default queries for `--skew` runs: the operators whose straggler
    * bounds the skewed replication is built to exercise — LSH bucket caps
    * (d_lsh_jaccard_verify), two-stage salting (q_salted_agg), the
    * giant-component shape for connected components (the hot content
    * shard merges every copy of shard 0 into ONE cluster holding most
    * pair endpoints — d_dup_clusters), and the hot-join-key shape for the
    * as-of carry-forward window (~half of surviving click/error history
    * lands on one user — q_asof_join). */
  private val SkewQueries =
    Seq("d_lsh_jaccard_verify", "q_salted_agg", "d_dup_clusters",
      "q_asof_join", "d_exact_substr",
      // the composed mix on the skewed corpus: the hot content shard
      // stresses its ExactSubstr gram shuffle, and the per-source budget /
      // packing prefix sums must survive one source holding ~all tokens
      // (hot stratum = one runningSum partition family)
      "q_training_mix",
      // ~half of all events on one user: the bucket-stitched transition
      // windows must NOT serialize the hot user through one task
      "q_event_transitions")

  /** Tables each benched query scans — replication writes only what the
    * selected queries read (a 100× lineitem is wasted work for a
    * documents-only flagship run). */
  private val TablesFor: Map[String, Set[String]] = Map(
    "s_ivf_kmeans_topk" -> Set("embeddings"), "s_ivf_topk" -> Set("embeddings"),
    "s_cosine_topk" -> Set("embeddings"), "d_embed_neardup" -> Set("embeddings"),
    "d_embed_neardup_probes" -> Set("embeddings"),
    "d_cells1024_probe2" -> Set("embeddings"),
    "d_embed_srp_lsh" -> Set("embeddings"),
    "s_pq_adc_topk" -> Set("embeddings"), "s_ivfpq_topk" -> Set("embeddings"),
    "t_bm25_topk" -> Set("documents"), "d_dup_clusters" -> Set("documents"),
    "t_repetition_filter" -> Set("documents"),
    "t_chunk_docs" -> Set("documents"),
    "q_corpus_pipeline" -> Set("documents"),
    "t_pack_sequences" -> Set("documents"),
    "q_token_budget" -> Set("documents"),
    "q_shuffle_shards" -> Set("documents"),
    "d_exact_substr" -> Set("documents"),
    "q_training_mix" -> Set("documents"),
    "t_lm_score" -> Set("documents"), "t_nb_quality" -> Set("documents"),
    "q_importance_resample" -> Set("documents"),
    "d_semdedup" -> Set("embeddings"),
    "d_semdedup_scale" -> Set("embeddings"),
    "q_zorder_layout" -> Set("events"),
    "d_minhash_lsh" -> Set("documents"), "d_lsh_jaccard_verify" -> Set("documents"),
    "d_simhash" -> Set("documents"), "q_clean_corpus" -> Set("documents"),
    "d_ngram_jaccard" -> Set("documents"), "d_ngram_jaccard_bounded" -> Set("documents"),
    "m_media_feature" -> Set("documents"),
    "t_winnow_overlap" -> Set("documents"),
    "adtl_onetomany" -> Set("orders"),
    "adtl_apply_dates" -> Set("orders", "lineitem"),
    "r3_one_to_many" -> Set("orders", "lineitem"),
    "q_stream_window" -> Set("events"),
    "q_asof_join" -> Set("events"), "q_range_join" -> Set("events"),
    "s_ann_recall" -> Set("embeddings"),
    "q_cluster_sample" -> Set("embeddings"),
    "q_temperature_mix" -> Set("documents"),
    "t_overlap_matrix" -> Set("documents"),
    "d_paragraph_dedup" -> Set("documents"),
    "q_incremental_dedup" -> Set("documents"),
    "q_leakage_safe_split" -> Set("documents"),
    "s_sq8_topk" -> Set("embeddings"),
    "t_lang_id" -> Set("documents"), "t_c4_clean" -> Set("documents"),
    "t_gopher_quality" -> Set("documents"),
    "t_heavy_hitters" -> Set("documents"),
    "t_hll_distinct" -> Set("documents"),
    "q_page_rank" -> Set("orders", "lineitem"),
    "d_containment" -> Set("documents"),
    "s_centroid_outliers" -> Set("embeddings"),
    "t_novelty" -> Set("documents"), "t_entropy" -> Set("documents"),
    "q_corpus_diff" -> Set("documents"),
    "q_canonical_source" -> Set("documents"),
    "s_matryoshka_recall" -> Set("embeddings"),
    "q_dedup_report" -> Set("documents"),
    "t_quality_report" -> Set("documents"),
    "q_quality_pipeline" -> Set("documents"),
    "q_ccnet_buckets" -> Set("documents"),
    "q_canonical_quality" -> Set("documents"),
    "t_subword_tokenize" -> Set("documents"),
    "q_event_funnel" -> Set("events"),
    "q_cohort_retention" -> Set("events"),
    "q_event_transitions" -> Set("events"),
    "t_keywords_tfidf" -> Set("documents"),
    "s_filtered_ann" -> Set("embeddings"),
    "q_rollup_agg" -> Set("lineitem"),
    "q_pivot_wide" -> Set("events"),
    "q_apply_changes" -> Set("documents"),
    "q_sliding_window" -> Set("events"),
    "q_triangle_count" -> Set("lineitem"),
    "t_token_pmi" -> Set("documents"),
    "s_knn_graph" -> Set("embeddings"),
    "t_hashing_tfidf" -> Set("documents"),
    "q_ab_ttest" -> Set("events"),
    "q_rolling_features" -> Set("events"),
    "t_winsorize" -> Set("documents"),
    "q_anomaly_zscore" -> Set("documents"),
    "q_quantile_normalize" -> Set("documents"),
    "q_scd2_history" -> Set("events"),
    "q_gap_fill" -> Set("events"),
    "q_decay_score" -> Set("events"),
    "t_lexical_diversity" -> Set("documents"),
    "t_readability" -> Set("documents"),
    "t_boolean_search" -> Set("documents"),
    "q_fuzzy_match" -> Set("part"),
    "d_prefix_jaccard" -> Set("documents"),
    "q_profile_table" -> Set("lineitem"),
    "q_profile_table_approx" -> Set("lineitem"),
    "q_group_topk" -> Set("orders"),
    "q_time_weighted_avg" -> Set("events"),
    "q_entity_resolution" -> Set("part"),
    "q_label_prop" -> Set("lineitem", "part"),
    "q_histogram" -> Set("documents"),
    "q_group_mode" -> Set("events"),
    "q_corr_matrix" -> Set("lineitem"),
    "q_benford" -> Set("lineitem"),
    "t_hll_merge" -> Set("documents"),
    "t_url_extract" -> Set("documents"),
    "q_k_anonymity" -> Set("customer"),
    "q_rrf_fusion" -> Set("documents"),
    "q_golden_record" -> Set("part"),
    "q_churn_labels" -> Set("events"),
    "q_cumulative_distinct" -> Set("events"),
    "q_concentration" -> Set("events"),
    "q_user_feature_mart" -> Set("events"),
    "q_mad_outliers" -> Set("documents"),
    "q_cusum_drift" -> Set("events"),
    "t_quantile_sketch" -> Set("events"),
    "q_domain_cap" -> Set("documents"),
    "t_vocab_growth" -> Set("documents"),
    "q_psi_drift" -> Set("events"),
    "q_rank_overlap" -> Set("documents"),
    "q_jw_linkage" -> Set("part"),
    "q_interval_union" -> Set("events"),
    "q_wilson_ci" -> Set("events"),
    "q_assoc_rules" -> Set("lineitem"),
    "q_ks_test" -> Set("events"),
    "q_emd_drift" -> Set("events"),
    "q_cohen_kappa" -> Set("documents"),
    "q_calibration" -> Set("documents"),
    "q_search_eval" -> Set("lineitem"),
    "q_kaplan_meier" -> Set("events"),
    "q_spearman" -> Set("lineitem"),
    "q_jsd_drift" -> Set("events"),
    "q_cramers_v" -> Set("part"),
    "q_auc_roc" -> Set("documents"),
    "q_mann_whitney" -> Set("events"),
    "q_mutual_info" -> Set("part"),
    "q_equal_freq_bins" -> Set("documents"),
    "q_target_encode" -> Set("orders"),
    "q_lift_table" -> Set("documents"),
    "q_autocorr" -> Set("events"),
    "q_seasonal_profile" -> Set("events"),
    "q_item_cosine" -> Set("lineitem"),
    "q_l_diversity" -> Set("events"),
    "t_pii_scrub" -> Set("documents"),
    "q_active_users" -> Set("events"),
    "q_seasonal_outliers" -> Set("events"),
    "q_robust_scale" -> Set("documents"),
    "q_weighted_sample" -> Set("orders"),
    "q_histogram_2d" -> Set("lineitem"),
    "t_ctfidf_terms" -> Set("documents"),
    "q_skew_profile" -> Set("lineitem"),
    "q_dp_counts" -> Set("events"),
    "q_group_regression" -> Set("events"),
    "q_theil_sen" -> Set("events"),
    "q_trimmed_mean" -> Set("documents"),
    "t_invisible_chars" -> Set("documents"),
    "q_bh_fdr" -> Set("events"),
    "q_sprt" -> Set("events"),
    "q_perm_test" -> Set("events"),
    "t_script_mix" -> Set("documents"),
    "t_zipf_fit" -> Set("documents"),
    "t_term_burstiness" -> Set("documents"),
    "q_ewma" -> Set("events"),
    "q_adamic_adar" -> Set("lineitem"),
    "q_fk_audit" -> Set("lineitem", "orders"),
    "q_best_split" -> Set("lineitem"),
    "q_cuped" -> Set("events"),
    "q_path_trigrams" -> Set("events"),
    "q_holt" -> Set("events"),
    "t_hll_overlap" -> Set("documents"),
    "q_bootstrap_ci" -> Set("events"),
    "q_funnel_latency" -> Set("events"),
    "q_drop_near_dups" -> Set("documents"),
    "d_repeat_spans_any" -> Set("documents"),
    "t_keyness_g2" -> Set("documents"),
    "q_change_point" -> Set("events"),
    "q_attribution" -> Set("events"),
    "q_chi2_test" -> Set("part"),
    "q_ess" -> Set("events"),
    "adtl_groupby_combined" -> Set("events"),
    "q_session_stats" -> Set("events"),
    "q_session_rows_stream" -> Set("events"),
    "q_session_native" -> Set("events"),
    "t_bpe_encode" -> Set("documents"),
    "q_t_closeness" -> Set("customer"),
    "s_silhouette" -> Set("embeddings"),
    "t_vocab_coverage" -> Set("documents"),
    "s_centroid_drift" -> Set("embeddings"))

  /** Per-copy affine substitution cipher: i → a·i+b (mod 26), a drawn from
    * the 12 units mod 26 by k/26, b = k mod 26. Injective per copy,
    * pairwise-distinct for k < 312, identity at k = 0. */
  private[graft] def affine(k: Int): (String, String) = {
    val lower = "abcdefghijklmnopqrstuvwxyz"
    val units = Seq(1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)
    val a = units((k / 26) % units.length)
    val b = k % 26
    val mapped = (0 until 26).map(i => lower((a * i + b) % 26)).mkString
    (lower + lower.toUpperCase, mapped + mapped.toUpperCase)
  }

  val AllTables: Set[String] =
    Set("documents", "embeddings", "orders", "lineitem", "events", "part",
      "customer")

  /** Replicate `src` tables into `out`.
    *
    * `skew = true` produces a deliberately SKEWED universe instead of the
    * uniform one, to prove the straggler bounds hold (the uniform runs
    * can't show that — every shard is the same size):
    *  - documents: on top of the `copies` affine shards, shard 0's text is
    *    re-appended IDENTITY-ciphered `copies-1` more times under shifted
    *    ids — one content shard is `copies`× hotter than the rest (hot
    *    fingerprints, hot LSH band buckets; near-dup output grows by the
    *    duplicate-pair count of the hot shard, time must not blow up);
    *  - events: ~half of ALL rows get their event_type overridden to one
    *    hot key — the heavy-hitter shape two-stage salting exists for.
    *  Embeddings/orders/lineitem replicate uniformly either way. */
  def replicate(spark: SparkSession, src: String, out: String, copies: Int,
      tables: Set[String] = AllTables, skew: Boolean = false): Unit = {
    if (tables("documents")) {
      val docs = spark.read.parquet(s"$src/documents.parquet")
      val nDocs = docs.agg(max("doc_id")).head.getLong(0) + 1
      val hotExtra = if (skew) copies - 1 else 0
      (0 until copies + hotExtra).map { k =>
        val (from, to) = affine(if (k < copies) k else 0) // extras: identity of shard 0
        docs.select(
          (col("doc_id") + lit(k.toLong * nDocs)).as("doc_id"),
          translate(col("text"), from, to).as("text"),
          col("lang"), col("source"), col("n_chars"))
      }.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$out/documents.parquet")
    }

    if (tables("embeddings")) {
      val emb = spark.read.parquet(s"$src/embeddings.parquet")
      val nVecs = emb.agg(max("vec_id")).head.getLong(0) + 1
      val nLabels = emb.agg(max("label")).head.getInt(0) + 1
      (0 until copies).map { k =>
        val sign =
          if (k == 0) (x: org.apache.spark.sql.Column, i: org.apache.spark.sql.Column) => x
          else (x: org.apache.spark.sql.Column, i: org.apache.spark.sql.Column) =>
            (x * (lit(1) - lit(2) * pmod(xxhash64(i, lit(k)), lit(2)).cast("int"))
              .cast("float")).cast("float")
        emb.select(
          (col("vec_id") + lit(k * nVecs)).as("vec_id"),
          transform(col("embedding"), (x, i) => sign(x, i)).as("embedding"),
          (col("label") + lit(k * nLabels)).cast("int").as("label"))
      }.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    }

    if (tables("orders") || tables("lineitem")) {
      val orders = spark.read.parquet(s"$src/orders.parquet")
      val nOrders = orders.agg(max("o_orderkey")).head.getLong(0) + 1
      if (tables("orders"))
        (0 until copies).map { k =>
          orders.withColumn("o_orderkey", col("o_orderkey") + lit(k * nOrders))
        }.reduce(_ unionByName _)
          .write.mode("overwrite").parquet(s"$out/orders.parquet")

      // lineitem shifts l_orderkey by the same stride as orders so each copy
      // joins exactly its own orders copy — join output grows linearly
      if (tables("lineitem")) {
        val lineitem = spark.read.parquet(s"$src/lineitem.parquet")
        (0 until copies).map { k =>
          lineitem.withColumn("l_orderkey", col("l_orderkey") + lit(k * nOrders))
        }.reduce(_ unionByName _)
          .write.mode("overwrite").parquet(s"$out/lineitem.parquet")
      }
    }

    // part: shifted keys; brands get a per-copy suffix (copy 0 identity)
    // so the fuzzy-linkage blocking key stays copy-disjoint — straight
    // brand copies would grow every block copies× and the in-block pair
    // count quadratically, conflating plan scaling with data properties
    // (the same reasoning as the documents affine cipher)
    if (tables("part")) {
      val part = spark.read.parquet(s"$src/part.parquet")
      val nParts = part.agg(max("p_partkey")).head.getLong(0) + 1
      (0 until copies).map { k =>
        part
          .withColumn("p_partkey", col("p_partkey") + lit(k * nParts))
          .withColumn("p_brand",
            if (k == 0) col("p_brand")
            else concat(col("p_brand"), lit(s"#c$k")))
      }.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$out/part.parquet")
    }

    // customer: shifted keys, quasi-identifier columns unchanged — the
    // k-anonymity audit sees the same group set with copies× the rows
    // per group (row-flat output, time is the scaling evidence)
    if (tables("customer")) {
      val cust = spark.read.parquet(s"$src/customer.parquet")
      val nCust = cust.agg(max("c_custkey")).head.getLong(0) + 1
      (0 until copies).map { k =>
        cust.withColumn("c_custkey", col("c_custkey") + lit(k * nCust))
      }.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$out/customer.parquet")
    }

    // events: read RAW (ts keeps its on-disk physical form — nanos-long or
    // TIMESTAMP_NTZ; Tables.events normalizes either on re-read, so no
    // conversion here), shift event and user ids; timestamps repeat per
    // copy, so windowed aggregations keep the same groups with 10× the
    // rows per group
    if (tables("events")) {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val events = spark.read.parquet(s"$src/events.parquet")
      val nEvents = events.agg(max("event_id")).head.getLong(0) + 1
      val nUsers = events.agg(max("user_id")).head.getLong(0) + 1
      val replicated = (0 until copies).map { k =>
        events
          .withColumn("event_id", col("event_id") + lit(k * nEvents))
          .withColumn("user_id", col("user_id") + lit(k * nUsers))
      }.reduce(_ unionByName _)
      // heavy-hitter keys: ~half of all rows collapse onto one event_type
      // (the salted-agg shape) and, independently, ~half onto one user_id
      // (the as-of-join hot-history shape — the carry-forward window sorts
      // each key's history in one task, so user 0 carries ~half the rows)
      val out0 = if (!skew) replicated else replicated
        .withColumn("event_type",
          when(pmod(xxhash64(col("event_id")), lit(2L)) === 0, lit("hot"))
            .otherwise(col("event_type")))
        .withColumn("user_id",
          when(pmod(xxhash64(col("event_id"), lit(7L)), lit(2L)) === 0, lit(0L))
            .otherwise(col("user_id")))
      out0.write.mode("overwrite").parquet(s"$out/events.parquet")
    }
  }

  /** workDir provenance marker: a directory replicated with different
    * (src, copies, skew) must never be silently mixed into a run — that
    * corrupts the linearity evidence. Missing marker + pre-existing tables
    * is treated the same way (unknown provenance → re-replicate). */
  private def markerPath(work: String) =
    java.nio.file.Paths.get(work, "_graft_replica.json")

  private def writeMarker(work: String, src: String, copies: Int,
      skew: Boolean): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(work))
    java.nio.file.Files.write(markerPath(work),
      s"""{"src":"$src","copies":$copies,"skew":$skew}""".getBytes("UTF-8"))
  }

  private def markerMatches(work: String, src: String, copies: Int,
      skew: Boolean): Boolean =
    java.nio.file.Files.exists(markerPath(work)) &&
      new String(java.nio.file.Files.readAllBytes(markerPath(work)),
        "UTF-8") == s"""{"src":"$src","copies":$copies,"skew":$skew}"""

  def main(args: Array[String]): Unit = {
    // tools/final_artifacts.sh asserts heavies ⊆ artifact keys with this
    // (the round-8/round-10 staleness bug: artifacts generated before the
    // last operator wave silently missed the newest heavies)
    if (args.contains("--list-heavies")) {
      Queries.foreach(println); return
    }
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val work = if (args.length > 1) args(1) else "/tmp/graft_sf1"
    val copies = if (args.length > 2) args(2).toInt else 10
    val (flags, queryArgs) = args.drop(3).partition(_ == "--skew")
    val skew = flags.nonEmpty
    val selected = Harness.select(
      if (queryArgs.nonEmpty) queryArgs.toSeq
      else if (skew) SkewQueries
      else Queries)
    val needed = selected.flatMap(q => TablesFor.getOrElse(q._1, AllTables)).toSet
    // Split policy sized to the WORKLOAD, not the default: these operators
    // are CPU-dense per scanned byte (strftime ladders, gram explodes,
    // per-value md5), so a default 128 MB split holds ~45 s of work — the
    // task-granularity knob a cluster operator turns for exactly this
    // profile. 8 MB keeps scan tasks in single-digit seconds; per-task cost
    // is split-size-fixed, so this does not change the linearity evidence
    // (both 1× and N× run under it).
    val spark = Harness.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"),
      Map("spark.sql.files.maxPartitionBytes" -> "8m"))

    // provenance check: replicas from a different (src, copies, skew) — or
    // of unknown origin — are re-created, never mixed in
    val present = AllTables.filter(t =>
      new java.io.File(s"$work/$t.parquet").exists())
    val trusted = markerMatches(work, src, copies, skew)
    if (present.nonEmpty && !trusted)
      System.err.println(s"[scalebench] workDir $work has " +
        s"${if (java.nio.file.Files.exists(markerPath(work))) "a DIFFERENT"
        else "no"} replica marker for (src=$src, copies=$copies, " +
        s"skew=$skew) - re-replicating the needed tables")
    val missing =
      if (trusted) needed.filterNot(present)
      else needed
    if (missing.nonEmpty) replicate(spark, src, work, copies, missing, skew)
    if (!trusted) writeMarker(work, src, copies, skew)

    Harness.warmUp(spark, work)

    // per-task durations per query: the straggler evidence — a bounded
    // max/median ratio under skew means no single task carries the hot key
    val taskTimes = TaskTimes.install(spark)

    val runs = selected.map { case (name, fn) =>
      taskTimes.clear()
      val run = Harness.run(fn(spark, work))
      run.left.foreach(e => System.err.println(s"[scalebench] $name failed: ${e.getMessage}"))
      (name, run, taskTimes.stages())
    }
    // a query that throws is listed under "failed" only: no time, rows or
    // stage readout, and the run exits 1
    val failed = runs.collect { case (name, Left(_), _) => name }
    val results = runs.collect { case (name, Right(t), stages) =>
      // Straggler bound PER STAGE: max/median of task durations within one
      // stage answers "does one task carry the load while its peers idle?".
      // A query-global median is meaningless for iterative queries (CC runs
      // a tiny convergence aggregate per round — hundreds of ~ms tasks
      // dragging the median down made healthy runs read as 30-50×). Only
      // stages whose slowest task is ≥ 200 ms matter: a 3-task metadata
      // stage with a 1 ms median proves nothing about scale.
      val significant = stages.filter(_.maxMs >= 200L)
      val (ratio, worstStage) =
        if (significant.isEmpty) (1.0, "")
        else {
          val s = significant.maxBy(s => s.maxMs.toDouble / math.max(1L, s.medianMs))
          val med = math.max(1L, s.medianMs)
          (s.maxMs.toDouble / med,
            s"${s.label} [stage ${s.id}: ${s.tasks} tasks, max ${s.maxMs} ms, median $med ms]")
        }
      // name the stage OWNING the longest task too: the ratio-based
      // worst_stage can be a different (micro-task) stage, leaving the
      // real straggler anonymous — the round-11 q_entity_resolution 37 s
      // task was unnamed in the artifact
      val (maxTaskSec, maxTaskStage) = stages.headOption
        .fold((0.0, ""))(s => (s.maxMs / 1e3, s"${s.label} [stage ${s.id}]"))
      (name, t.secs, t.rows, ratio, maxTaskSec, worstStage, maxTaskStage)
    }
    type R = (String, Double, Long, Double, Double, String, String)
    def j[A](f: R => A): String =
      results.map(r => "\"" + r._1 + "\":" + f(r)).mkString("{", ",", "}")
    def jq(s: String): String =
      "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val total = results.map(_._2).sum
    def r2(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    // straggler_metric_version 2 = PER-STAGE max/median over stages whose
    // slowest task is >= 200 ms, empty = 1.0 (since round 8; version 1 was
    // a query-global max/median with empty = 0.0 — the two are NOT
    // comparable, and cross-round tooling must check this field before
    // comparing task_max_over_median values)
    println(s"""{"metric":"scale_total","value":$total,"unit":"sec","copies":$copies,"skew":$skew,"straggler_metric_version":2,"queries":${j(_._2)},"rows":${j(_._3)},"task_max_over_median":${j(r => r2(r._4))},"task_max_sec":${j(r => r2(r._5))},"worst_stage":${j(r => jq(r._6))},"max_task_stage":${j(r => jq(r._7))},"failed":${failed.map(jq).mkString("[", ",", "]")},"src":"$src"}""")
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
