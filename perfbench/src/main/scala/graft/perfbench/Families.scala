package graft.perfbench

/** Static query-name → family map for the `catalog` workload. A name that
  * is not listed (a query added later) counts as `other`.
  */
object Families {
  val All: Seq[String] = Seq("relational", "sort", "dedup_graph", "similarity",
    "text", "sketch_quantile", "timeseries", "table", "streaming", "other")

  private val members: Map[String, String] = Map(
    "relational" -> """
      cube_orders full_outer group_cap grouping_sets lateral_topn
      pivot_status props_extract props_map props_variant q10_returns
      q11_important_stock q12_priority_class q13_order_counts q14_promo
      q15_top_supplier q16_supplier_cnt q17_small_quantity
      q18_large_orders q19_disjunctive q1_pricing q20_dominant_supplier
      q21_waiting_supplier q22_idle_customers q2_min_price
      q3_top_revenue q4_priority q5_local_supplier q6_forecast
      q7_nation_volume q8_market_share q9_profit rollup_orders
      salted_join set_ops skew_distinct skyline typed_user_stats
      unpivot_prices user_type_profile window_top_orders""",
    "sort" -> """
      gen_pruned gen_sorted gen_source global_index global_sort
      hybrid_sort hybrid_sort_exec hybrid_sort_t5 partition_sort
      print_sink sorted_sink top_k""",
    "dedup_graph" -> """
      bfs_reach chunk_dedup containment dedup_digest dedup_keep_best
      dup_clusters dup_spans emb_neardup exact_dedup fingerprint
      incr_dedup incr_neardup minhash_pairs minhash_sig ngram_jaccard
      pagerank_converged pagerank_step semantic_dedup simhash
      triangle_count""",
    "similarity" -> """
      ann_recall ann_recall_ivfpq ann_recall_ivfpq_res ann_recall_probe
      ann_recall_trained bm25_search cluster_mix emb_outliers emb_stats
      kmeans_assign kmeans_step kmeans_train knn_bruteforce knn_ivf
      knn_ivf_trained knn_ivfpq knn_ivfpq_res knn_pq knn_sq map_eval
      mrr_eval ndcg_eval pca_power pca_project pca_scores pca_store
      pca_topm pq_encode pq_store rrf_fusion semantic_decontaminate
      sparse_knn sparse_recall sq_encode sq_store""",
    "text" -> """
      bigram_surprisal bpe_encode bpe_learn bpe_pairs curation_funnel
      dataset_card decontaminate doc_chunks doc_perplexity doc_sample
      domain_heavy_hitters edit_distance inverted_index lang_confusion
      lang_id mm_frames mm_meta mm_quarantine mm_resize pmi_bigrams
      quality quality_filter redact repetition seq_pack
      source_divergence source_entropy source_mix source_overlap
      stopword_ratio temperature_mix text_clean tfidf_top token_counts
      unigram_surprisal url_domains vocab_topk zipf_slope""",
    "sketch_quantile" -> """
      approx_distinct approx_quantiles cms_freq column_profile
      heavy_hitters hll_merge kll_merge kll_quantiles
      kll_quantiles_grouped price_histogram quantile_bins robust_scale
      sketch_eval skew_median spend_quartiles value_zscore
      weighted_quantiles weighted_quantiles_grouped winsorize""",
    "timeseries" -> """
      asof_join cohort_retention event_bigrams events_hourly
      events_users funnel_steps gap_fill order_gaps overlap_join
      range_join range_join_auto range_join_date rolling_1h sessions""",
    "table" -> """
      bloom_prefilter bloom_scan bucketed_join compact_events
      compaction_exec compaction_plan csv_roundtrip digest_sink
      json_roundtrip merge_apply merge_touched orc_roundtrip
      partitioned_scan scd2_merge schema_drift snapshot_asof_ts
      snapshot_catalog_sql snapshot_cdf snapshot_cdf_front
      snapshot_cdf_pos snapshot_checkpoint snapshot_evolve
      snapshot_hadoop_fs snapshot_history snapshot_incr snapshot_mor
      snapshot_mor_pos snapshot_mor_sql snapshot_optimize snapshot_read
      snapshot_rename snapshot_sql snapshot_sql_prune
      snapshot_sql_strprune snapshot_sql_tt snapshot_stats_prune
      snapshot_update snapshot_update_renamed snapshot_zonescan
      snapshot_zorder sql_ctas sql_delete_where sql_update_where
      store_durable table_diff text_roundtrip zonemap_rowgroups
      zonemap_scan zorder_auto zorder_exec zorder_exec3 zorder_layout""",
    "streaming" -> """
      stream_approx_distinct stream_dedup stream_dp_counts
      stream_foreach_digest stream_heavy_hitters stream_hourly
      stream_join stream_neardup stream_quantiles stream_resume
      stream_running_totals stream_score stream_sessions
      stream_sessions_timers stream_snapshot_cdc stream_snapshot_front
      stream_snapshot_sink stream_snapshot_source stream_static_join
      stream_upsert stream_upsert_mor stream_vocab""",
    "other" -> """
      ab_ttest auc_eval calibration_bins corr_matrix dp_counts
      epoch_upsample logreg_train shuffle_shard stratified_sample
      weighted_sample"""
  ).flatMap { case (f, names) => names.split("\\s+").filter(_.nonEmpty).map(_ -> f) }

  def of(query: String): String = members.getOrElse(query, "other")
}
