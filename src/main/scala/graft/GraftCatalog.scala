package graft

import org.apache.spark.sql.SparkSession

/** SQL-surface registration: mounts the star schema and the engine's derived
  * relations as temp views and registers the native functions, so the whole
  * library is reachable from `spark.sql(...)` — the switchover surface for a
  * user of the reference (their five legacy tables become views the same
  * way via [[graft.sources.JdbcTables]]).
  */
object GraftCatalog {

  /** View name → the [[SparkEntry.queries]] entry it mounts. A view is its
    * declared query; a query whose plan construction runs a fixpoint loop
    * has no view.
    */
  val Views: Seq[(String, String)] = Seq(
    "package_flat" -> "q_p4_package_flat",
    "merge_actions" -> "q_k3_merge_actions",
    "category_tree" -> "q_j5_tree",
    "group_docs" -> "q_p3_group_docs",
    "tfidf_top_terms" -> "q_text_tfidf",
    "sample_split" -> "q_sample_split",
    "decontaminated" -> "q_decontaminate",
    "source_mix" -> "q_source_mix",
    "source_mix_temp" -> "q_source_mix_temp",
    "semdedup" -> "q_semdedup",
    "curated_corpus" -> "q_pipeline_curate",
    "retrieve_rerank" -> "q_retrieve_rerank",
    "hll_distinct" -> "q_sketch_hll",
    "cms_term_freq" -> "q_sketch_cms",
    "sketch_overlap" -> "q_sketch_overlap",
    "table_profile" -> "q_profile_table",
    "pagerank" -> "q_pagerank",
    "scd2_history" -> "q_a7d_scd2",
    "gap_fill" -> "q_w6_gap_fill",
    "moving_avg" -> "q_w7_moving_avg",
    "ivm_agg" -> "q_ivm_agg",
    "hard_negatives" -> "q_embed_hardneg",
    "bpe_encoded" -> "q_bpe_encode",
    "oov_rate" -> "q_text_oov",
    "funnel_stages" -> "q_funnel",
    "cohort_retention" -> "q_cohort_retention",
    "weighted_sample" -> "q_sample_weighted",
    "length_outliers" -> "q_text_outlier",
    "copurchase_triangles" -> "q_graph_triangles",
    "fuzzy_name_match" -> "q_fuzzy_match",
    "ivm_join" -> "q_ivm_join",
    "inverted_index" -> "q_inverted_index",
    "bm25_indexed" -> "q_bm25_indexed",
    "collocations" -> "q_cooc_lift",
    "bigram_lm" -> "q_bigram_lm",
    "embed_rp" -> "q_embed_rp",
    "ivm_index" -> "q_ivm_index",
    "pareto_front" -> "q_pareto_front",
    "ohlc_bars" -> "q_w9_ohlc",
    "dq_checks" -> "q_dq_checks",
    "hist_quantiles" -> "q_sketch_histquant",
    "tfidf_neighbors" -> "q_tfidf_neighbors",
    "winsorized" -> "q_winsorize",
    "skipgrams" -> "q_skipgrams",
    "negative_samples" -> "q_negsample",
    "anomaly_mad" -> "q_anomaly_mad",
    "interp_fill" -> "q_w10_interp",
    "dq_drift" -> "q_dq_drift",
    "vocab_coverage" -> "q_vocab_coverage",
    "zorder_prune" -> "q_zorder_prune",
    "unpivoted_counts" -> "q_a14_unpivot",
    "snapshot_reconciliation" -> "q_j12_full_outer",
    "node_similarity" -> "q_graph_jaccard",
    "ivm_zonemap" -> "q_ivm_zonemap",
    "weighted_median" -> "q_w11_weighted_median",
    "pr_curve" -> "q_model_pr_curve",
    "cms_topk" -> "q_sketch_cms_topk",
    "rrf_fusion" -> "q_retrieve_rrf",
    "maxsim_results" -> "q_retrieve_maxsim",
    "grouping_sets_report" -> "q_a15_grouping_sets",
    "epoch_shuffle" -> "q_epoch_shuffle",
    "bpe_fertility" -> "q_bpe_fertility",
    "basket_rules" -> "q_basket_rules",
    "rfm_segments" -> "q_rfm_segments",
    "cal_spine" -> "q_cal_spine",
    "privacy_kanon" -> "q_privacy_kanon",
    "containment_pairs" -> "q_dedup_containment",
    "asof_tolerance" -> "q_j8b_asof_tol",
    "range_frame_1h" -> "q_w15_range_frame",
    "flagship_revenue" -> "q_flagship_revenue",
    "langid_confusion" -> "q_langid_confusion",
    "curate_budget" -> "q_curate_budget",
    "erasure_report" -> "q_privacy_erasure",
    "ivm_sketch" -> "q_ivm_sketch",
    "first_touch_attr" -> "q_j9b_first_touch",
    "funnel_latency" -> "q_funnel_latency",
    "dow_seasonality" -> "q_seasonality",
    "pixel_stats" -> "q_mm_pixels",
    "sync_errors" -> "q_sync_errors",
    "pixel_rgb_stats" -> "q_mm_pixels_rgb",
    "audio_stats" -> "q_mm_audio",
    "resize_stats" -> "q_mm_resize",
    "video_frame_stats" -> "q_mm_video",
    "dsir_weights" -> "q_dsir_weights",
    "dsir_selected" -> "q_dsir_select",
    "ann_eval" -> "q_ann_eval",
    "text_drift" -> "q_text_drift",
    "substr_ranges" -> "q_dedup_substr_ranges",
    "substr_trimmed" -> "q_dedup_substr_trim",
    "substr_stats" -> "q_dedup_substr_stats",
    "prototype_prune" -> "q_prototype_prune",
    "lm_scores" -> "q_lm_score",
    "lm_buckets" -> "q_lm_buckets",
    "lm_profile" -> "q_lm_profile",
    "lm_budget_selected" -> "q_token_budget",
    "quality_pipeline" -> "q_pipeline_quality",
    "lm_excess_selected" -> "q_lm_excess",
    "ngram_novelty" -> "q_ngram_novelty",
    "diversity_sample" -> "q_diversity_sample",
    "semantic_decon" -> "q_semantic_decon")

  /** Register base tables, derived views, and functions on the session.
    * The views pin nothing: they mount inside [[Reuse.released]].
    */
  def register(spark: SparkSession, sfDir: String): Unit = Reuse.released {
    Tables.names.foreach { n =>
      Tables.table(spark, sfDir, n).createOrReplaceTempView(n)
    }
    Views.foreach { case (view, q) =>
      SparkEntry.queries(q)(spark, sfDir).createOrReplaceTempView(view)
    }
    registerFunctions(spark)
  }

  /** Register the native SQL functions only (idempotent). */
  def registerFunctions(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    graft.functions.GraftExtensions.functions.foreach { case (id, info, builder) =>
      if (!reg.functionExists(id)) reg.registerFunction(id, info, builder)
    }
  }
}
