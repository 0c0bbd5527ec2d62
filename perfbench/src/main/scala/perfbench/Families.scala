package perfbench

/** Which module family each `SparkEntry.queries` entry exercises, for the
  * per-family split of catalog time. `check` refuses to run when the map
  * and the catalog disagree, so an added, renamed or removed query cannot
  * silently fall out of the per-layer numbers.
  */
object Families {
  val byFamily: Seq[(String, Seq[String])] = Seq(
    "cdc" -> Seq(
      "cdc_pipeline", "cdc_variant_pipeline", "cdc_changes", "cdc_changes_nested",
      "cdc_prev_image", "cdc_erase_replay", "cdc_table_filter", "cdc_redact",
      "cdc_redact_map", "cdc_tiering", "cdc_fallback_join", "cdc_op_counts",
      "cdc_scd2", "cdc_pit_join", "cdc_snapshot", "cdc_agg_refresh",
      "cdc_json_decode", "cdc_variant_get", "cdc_type_census", "cdc_key_inventory",
      "cdc_key_first_seen", "cdc_type_first_seen", "cdc_generic_roundtrip",
      "cdc_key_promotion"),
    "ops.Relational" -> Seq(
      "ops_sessionize", "ops_set_ops", "ops_except_all", "ops_approx_distinct",
      "ops_quantile_sketch", "q1_pricing", "ops_star_join_agg", "ops_top_customers",
      "ops_regression", "ops_rollup", "ops_cube", "ops_anti_join", "ops_semi_join",
      "ops_pivot", "ops_histogram", "ops_scalar_subquery", "ops_order_count_dist",
      "ops_funnel", "ops_window_funnel", "ops_cohort_retention", "ops_mad_outliers",
      "ops_full_outer", "ops_dau_wau", "ops_cum_users", "ops_revenue_share",
      "ops_transition_matrix", "ops_unpivot", "ops_grouping_sets", "ops_rank_suite",
      "ops_gap_fill", "ops_ffill", "ops_corr_subquery", "ops_q21_waiting",
      "ops_q20_dominant_supp", "ops_q2_min_cost", "ops_q11_important_stock",
      "ops_q16_supplier_cnt", "ops_q22_idle_rich", "ops_q4_late_orders",
      "ops_q3_ship_priority", "ops_q5_local_volume", "ops_q7_trade_volume",
      "ops_q8_market_share", "ops_q9_profit", "ops_q10_returns",
      "ops_q12_priority_lanes", "ops_q6_forecast", "ops_benford", "ops_drawdown",
      "ops_q19_disjuncts", "ops_q14_promo", "ops_q15_top_supplier",
      "ops_q18_large_orders", "ops_dq_audit", "ops_moving_avg", "ops_asof_join",
      "ops_range_join", "ops_salted_join", "ops_event_windows", "ops_hourly_counts",
      "ops_gini", "ops_ks_test", "ops_seasonal", "ops_chi2", "ops_autocorr",
      "ops_cusum"),
    "ops.Dedup" -> Seq(
      "ops_dedup_keys", "ops_dedup_content", "ops_dedup_minhash", "ops_dedup_verify",
      "ops_edit_verify", "ops_dedup_cc", "ops_ngram_jaccard", "ops_substring_dup",
      "ops_content_chunks", "ops_cross_split", "ops_containment", "ops_pagerank",
      "ops_triangles", "ops_lsh_calib", "ops_incr_dedup", "ops_dedup_keep_best",
      "ops_simhash", "ops_simhash_pairs", "ops_cc_audit"),
    "ops.Similarity" -> Seq(
      "ops_sim_topk", "ops_hybrid_rrf", "ops_sim_ivf", "ops_sim_pq",
      "ops_sim_pq_trained", "ops_sim_pq_served", "ops_sim_pq_batch", "ops_sim_ivfpq",
      "ops_sim_ivfpq_batch", "ops_sim_recall", "ops_ivf_calib",
      "ops_sim_ivfpq_trained", "ops_sim_ivfpq_trained_batch",
      "ops_ivf_calib_trained", "ops_sim_ivfpq_res", "ops_sim_ivfpq_res_batch",
      "ops_ivf_choose", "ops_sim_opq", "ops_sim_recall_opq", "ops_opq_balance",
      "ops_ann_lsh", "ops_embed_cluster", "ops_semdedup", "ops_embed_quant",
      "ops_embed_gram"),
    "ops.TextStats" -> Seq(
      "ops_text_stats", "ops_lang_id", "ops_text_quality", "ops_quality_logit",
      "ops_quality_distilled", "ops_token_counts", "ops_fingerprints",
      "ops_winnowing", "ops_bpe_merge", "ops_bpe_encode", "ops_kn_lm",
      "ops_kn_perplexity", "ops_term_drift", "ops_quantiles", "ops_text_search",
      "ops_bigram_lm", "ops_tfidf_terms", "ops_cms_freq", "ops_kmv_overlap",
      "ops_skipgram_pmi", "ops_bm25", "ops_entropy", "ops_heavy_hitters",
      "ops_group_heavy_hitters", "ops_bpe_pairs"),
    "ops.Curation" -> Seq(
      "ops_pii_scan", "ops_doc_sample", "ops_vocab", "ops_repetition",
      "ops_filter_attrib", "ops_train_prep", "ops_decontaminate", "ops_strat_sample",
      "ops_corpus_filter", "ops_sql_corpus_filter", "ops_seq_pack", "ops_doc_chunk",
      "ops_weighted_sample", "ops_group_sample", "ops_line_dedup", "ops_quality_mix",
      "ops_shuffle_shards", "ops_domain_mix", "ops_url_dedup", "ops_pref_pairs",
      "ops_quality_curve", "ops_quality_choose", "ops_mix_solve",
      "ops_train_prep_measured", "ops_span_corrupt"),
    "ops.Multimodal" -> Seq(
      "ops_media_meta", "ops_media_dedup", "ops_media_frames", "ops_png_decode",
      "ops_wav_decode", "ops_png_resize", "ops_image_phash", "ops_audio_fp",
      "ops_audio_pairs", "ops_gif_frames", "ops_gif_phash", "ops_phash_cc"),
    "sources" -> Seq(
      "ops_zorder", "ops_bucket_join", "ops_erase_entity", "ops_erase_batch",
      "ops_json_source", "ops_csv_source", "ops_gz_source", "ops_gz_staged",
      "ops_orc_source"),
    "ops.BloomMembership" -> Seq(
      "ops_bloom_prune", "ops_bloom_novel"))

  val of: Map[String, String] = {
    val pairs = byFamily.flatMap { case (f, qs) => qs.map(_ -> f) }
    val dup = pairs.groupBy(_._1).collect { case (q, ps) if ps.size > 1 => q }
    require(dup.isEmpty, s"queries mapped to more than one family: ${dup.mkString(", ")}")
    pairs.toMap
  }

  def check(catalog: Set[String]): Unit = {
    val unmapped = catalog -- of.keySet
    val stale = of.keySet -- catalog
    require(unmapped.isEmpty && stale.isEmpty,
      s"query family map out of date: unmapped ${unmapped.toSeq.sorted.mkString(", ")}; " +
        s"stale ${stale.toSeq.sorted.mkString(", ")}")
  }
}
