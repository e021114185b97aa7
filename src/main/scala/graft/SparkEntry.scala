package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ops.{AsofOps, ChangeOps, CoreOps, HierarchyOps, IntervalOps, MultimodalOps, StringOps, ZOrderOps}
import graft.llm.{Curation, Dedup, Similarity, Sketches, TextAnalysis}
import graft.streaming.StreamOps

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` carries one entry per implemented operator from SURVEY.md §2;
  * `oracleSql` the DuckDB-equivalent ANSI SQL over the same parquet tables.
  * Determinism: every query ends in an explicit ORDER BY on a unique key,
  * mirrored in the oracle; aggregate/computed columns are aliased to the
  * same name on both sides; money sums go through integer cents.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    SyncPipeline.packageFlat(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_s3_filtered_scan" -> (CoreOps.s3FilteredScan _),
    "q_s4_point_lookup" -> (CoreOps.s4PointLookup _),
    "q_s9_latest" -> (CoreOps.s9Latest _),
    "q_j1_left_defaults" -> (CoreOps.j1LeftDefaults _),
    "q_j2_dim_chain" -> (CoreOps.j2DimChain _),
    "q_j3_bridge_groups" -> (CoreOps.j3BridgeGroups _),
    "q_j6_semi" -> (CoreOps.j6Semi _),
    "q_j7_anti" -> (CoreOps.j7Anti _),
    "q_a1_distinct" -> (CoreOps.a1Distinct _),
    "q_a3_group_collect" -> (CoreOps.a3GroupCollect _),
    "q_a7_change_detect" -> (CoreOps.a7ChangeDetect _),
    "q_a8_group_stats" -> (CoreOps.a8GroupStats _),
    "q_skew_agg" -> ((s, dir) => {
      import graft.ops.SkewOps
      import org.apache.spark.sql.functions._
      val ev = Tables.table(s, dir, "events")
        .withColumn("cents", round(col("value") * 100).cast("long"))
      SkewOps.saltedStats(ev, "event_type", "cents", salt = 8)
        .select(col("event_type"), col("n").cast("long").as("n"),
          col("s").cast("long").as("sum_cents"))
        .orderBy("event_type")
    }),
    "q_ivm_agg" -> (graft.ops.IncrementalOps.ivmMergeAgg _),
    "q_j11_null_skew" -> ((s, dir) => {
      import graft.ops.SkewOps
      import org.apache.spark.sql.functions._
      // ~20% of FKs synthesized null (the fixture's are dense); the
      // shuffle_hash hint keeps a real exchange in the plan — the
      // null-flood trap this operator exists to dodge
      val probe = Tables.table(s, dir, "orders")
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 5 === 0, lit(null))
            .otherwise(col("o_custkey")).cast("long").as("fk"),
          col("o_orderpriority"))
      val build = Tables.table(s, dir, "customer")
        .select(col("c_custkey"), col("c_name")).hint("shuffle_hash")
      SkewOps.nullSkewLeftJoin(probe, build, "fk", "c_custkey")
        .select(col("o_orderkey"), col("fk"), col("c_name"),
          col("o_orderpriority"))
        .orderBy("o_orderkey")
    }),
    "q_j13_bloom_join" -> ((s, dir) => {
      import graft.ops.SkewOps
      import org.apache.spark.sql.functions._
      val fact = Tables.table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"))
      // shuffle_hash models the 100 TB regime: the dim outgrew the
      // broadcast threshold (else a bloom is pointless), but its 16 KB
      // bloom still ships to every probe task
      val dim = Tables.table(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"), col("c_name")).hint("shuffle_hash")
      SkewOps.bloomJoin(fact, dim, "o_custkey", "c_custkey")
        .select(col("o_orderkey"), col("o_custkey"), col("c_name"),
          col("o_orderpriority"))
        .orderBy("o_orderkey")
    }),
    "q_skew_join" -> ((s, dir) => {
      import graft.ops.SkewOps
      import org.apache.spark.sql.functions._
      // the broadcast-AVERSE salted path: shuffle_hash hint models the
      // 100 TB case where the build side exceeds broadcast but the probe
      // side's key histogram is hot (150 users × ~67 events here)
      val ev = Tables.table(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"))
      val cust = Tables.table(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
        .hint("shuffle_hash")
      SkewOps.saltedJoin(ev, cust, "user_id", "c_custkey", salt = 8)
        .select(col("event_id"), col("user_id"), col("c_name"),
          col("c_mktsegment"), col("event_type"))
        .orderBy("event_id")
    }),
    "q_so1_except" -> (CoreOps.so1Except _),
    "q_so2_union" -> (CoreOps.so2Union _),
    "q_w1_topk" -> (CoreOps.w1TopkPerGroup _),
    "q_sf1_fixcase" -> (StringOps.sf1Fixcase _),
    "q_sf2_slugify_norm" -> (StringOps.sf2SlugifyNorm _),
    "q_sf3_slug_truncate" -> (StringOps.sf3SlugTruncate _),
    "q_sf4_tagify" -> (StringOps.sf4Tagify _),
    "q_sf5_package_tags" -> (StringOps.sf5PackageTags _),
    "q_p1_user_projection" -> (StringOps.p1UserProjection _),
    "q_sf8_date_format" -> (StringOps.sf8DateFormat _),
    "q_sf9_json_roundtrip" -> (StringOps.sf9JsonRoundtrip _),
    "q_sf10_json_extract" -> (StringOps.sf10JsonExtract _),
    "q_sf11_extras_map" -> (StringOps.sf11ExtrasMap _),
    "q_s8_projection" -> (CoreOps.s8Projection _),
    "q_f4_owned_filter" -> (CoreOps.f4OwnedFilter _),
    "q_j5_tree" -> (HierarchyOps.j5Tree _),
    // the SYNC form of the tree: the per-node group document the protocol
    // tier sends on group_create/group_patch (slug identity, ordered
    // child-name list, ownership extras)
    "q_p3_group_docs" ->
      ((s, dir) => HierarchyOps.groupDocs(s, dir).orderBy("group_slug")),
    "q_p4_package_flat" -> (SyncPipeline.packageFlat _),
    "q_p4_package_doc" -> (SyncPipeline.packageDoc _),
    "q_k3_merge_actions" -> (SyncPipeline.mergeActions _),
    "q_sync_errors" -> (SyncPipeline.syncErrors _),
    "q_member_edges" -> (SyncPipeline.memberEdges _),
    "q_pagerank" -> ((s, dir) => graft.ops.GraphOps.pageRank(s, dir)),
    "q_dedup_exact" -> (Dedup.exact _),
    "q_dedup_ngram" -> (Dedup.ngramJaccard _),
    "q_dedup_minhash" -> (Dedup.minhashLsh _),
    "q_dedup_simhash" -> (Dedup.simhashSketch _),
    "q_dedup_simhash_pairs" -> (Dedup.simhashPairs _),
    "q_dedup_simhash64_pairs" -> (Dedup.simhash64Pairs _),
    "q_dedup_simhash64_wide" -> (Dedup.simhash64PairsWide _),
    "q_dedup_simhash64_auto" -> (Dedup.simhash64PairsAuto _),
    "q_dedup_components" -> (Dedup.nearDupComponents _),
    "q_dedup_report" -> (Dedup.dedupReport _),
    "q_embed_topk" -> (Similarity.bruteForceTopK _),
    "q_embed_ivf" -> (Similarity.ivfTopK _),
    "q_embed_ivf2" -> ((s, dir) => Similarity.ivfKmeansTopK(s, dir)),
    "q_semdedup" -> ((s, dir) => Similarity.semDedup(s, dir)),
    "q_embed_hardneg" -> ((s, dir) => Similarity.hardNegatives(s, dir)),
    "q_prototype_prune" -> ((s, dir) => Similarity.prototypePrune(s, dir)),
    "q_diversity_sample" -> ((s, dir) => Similarity.diversitySample(s, dir)),
    "q_semantic_decon" -> ((s, dir) => Similarity.semanticDecontaminate(s, dir)),
    "q_embed_pq" -> ((s, dir) => Similarity.pqQuantize(s, dir)),
    "q_embed_pq_search" -> ((s, dir) => Similarity.pqSearch(s, dir)),
    "q_embed_pq_rerank" -> ((s, dir) => Similarity.pqSearchRerank(s, dir)),
    "q_retrieve_mmr" -> ((s, dir) => Similarity.mmrDiversify(s, dir)),
    "q_retrieve_rrf" -> ((s, dir) => Similarity.rrfFusion(s, dir)),
    "q_retrieve_maxsim" -> (Similarity.maxSimLate _),
    "q_embed_ivfpq" -> ((s, dir) => Similarity.ivfPqSearch(s, dir)),
    "q_ann_eval" -> ((s, dir) => Similarity.annEval(s, dir)),
    "q_ivm_ivfpq" -> ((s, dir) => Similarity.ivfPqIncremental(s, dir)),
    "q_embed_quantize" -> (Similarity.quantizedCorpus _),
    "q_embed_neardup" -> (Similarity.embedNearDup _),
    "q_text_stats" -> (TextAnalysis.stats _),
    "q_text_entropy" -> (TextAnalysis.charDiversity _),
    "q_text_pretok" -> (TextAnalysis.preTokenize _),
    "q_bpe_merge" -> ((s, dir) => TextAnalysis.bpeMergeStep(s, dir)),
    "q_bpe_train" -> ((s, dir) => TextAnalysis.bpeTrain(s, dir)),
    "q_bpe_encode" -> ((s, dir) => TextAnalysis.bpeEncode(s, dir)),
    "q_bpe_tokenize" -> ((s, dir) => TextAnalysis.bpeTokenizeCorpus(s, dir)),
    "q_text_oov" -> (TextAnalysis.oovRate _),
    "q_text_langid" -> (TextAnalysis.langId _),
    "q_langid_confusion" -> (TextAnalysis.langIdConfusion _),
    "q_curate_budget" -> ((s, dir) => Curation.curateBudget(s, dir)),
    "q_text_fingerprint" -> (TextAnalysis.fingerprints _),
    "q_sample_split" -> ((s, dir) => TextAnalysis.trainValSplit(s, dir)),
    "q_text_quality" -> (TextAnalysis.qualityFilter _),
    "q_pipeline_preprocess" -> (TextAnalysis.preprocessCorpus _),
    "q_text_tfidf" -> ((s, dir) => TextAnalysis.tfidfTopTerms(s, dir)),
    "q_bm25" -> ((s, dir) => TextAnalysis.bm25TopDocs(s, dir)),
    "q_a7b_prefix_diff" -> (CoreOps.a7bPrefixDiff _),
    "q_a7c_nested_diff" -> (ChangeOps.a7cNestedDiff _),
    "q_a9_rollup" -> (CoreOps.a9Rollup _),
    "q_a10_quantiles" -> (CoreOps.a10Quantiles _),
    "q_a11_pivot" -> (CoreOps.a11Pivot _),
    "q_j8_asof" -> (AsofOps.asofClick _),
    "q_j8b_asof_tol" -> (AsofOps.asofClickTol _),
    "q_w15_range_frame" -> (CoreOps.w15RangeFrame _),
    // the skew-robust two-level rewrite of the SAME range frame (bounded
    // sort partitions: one time bucket per key); shares w15's oracle —
    // result identity under the decomposition IS the contract
    "q_skew_range_frame" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      graft.ops.SkewOps.bucketedRangeFrame(
        graft.Tables.table(s, dir, "events")
          .select(col("event_id"), col("event_type"),
            unix_micros(col("ts")).as("us"),
            round(col("value") * 100).cast("bigint").as("cents")),
        "event_type", CoreOps.RangeFrameMicros)
        .orderBy("event_id")
    }),
    "q_w6_gap_fill" -> (AsofOps.gapFill _),
    "q_w7_moving_avg" -> (CoreOps.w7MovingAvg _),
    // the skew-robust two-level rewrite of the SAME 5-row trailing frame
    // (sort partitions bounded by one (user, time-bucket); cross-bucket
    // remainders resolved through the per-bucket tail stream); shares
    // w7's oracle — result identity under the decomposition IS the
    // contract
    "q_skew_rows_frame" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      graft.ops.SkewOps.bucketedRowsFrame(
        graft.Tables.table(s, dir, "events")
          .select(col("event_id"), col("user_id"), col("ts"),
            round(col("value") * 100).cast("long").as("cents")),
        "user_id", 5, CoreOps.RangeFrameMicros)
        .withColumn("avg_cents",
          round(col("win_sum_cents") / col("win_n"), 4))
        .orderBy("event_id")
    }),
    "q_skew_sessionize" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      graft.ops.SkewOps.bucketedSessionize(
        graft.Tables.table(s, dir, "events")
          .select(col("event_id"), col("user_id"), col("ts")),
        "user_id", StreamOps.SessionGapMinutes * 60L,
        CoreOps.RangeFrameMicros)
    }),
    "q_j9_interval" -> ((s, dir) => IntervalOps.viewClickAttribution(s, dir)),
    "q_j9b_first_touch" -> (IntervalOps.firstTouchAttribution _),
    "q_funnel_latency" -> (graft.ops.AnalyticsOps.funnelLatency _),
    "q_w4_sliding" -> (StreamOps.slidingCounts _),
    "q_w2_tumbling" -> (StreamOps.tumblingCounts _),
    "q_w3_sessionize" -> (StreamOps.sessionizeBatch _),
    "q_mm_features" -> (MultimodalOps.features _),
    "q_mm_decode" -> (MultimodalOps.mmDecode _),
    "q_mm_pixels" -> (MultimodalOps.mmPixels _),
    "q_mm_pixels_rgb" -> (MultimodalOps.mmPixelsRgb _),
    "q_mm_audio" -> (MultimodalOps.mmAudio _),
    "q_mm_resize" -> (MultimodalOps.mmResize _),
    "q_mm_frames" -> (MultimodalOps.mmFrameSample _),
    "q_mm_video" -> (MultimodalOps.mmVideo _),
    "q_mm_dedup" -> (MultimodalOps.mmDedup _),
    "q_decontaminate" -> (Curation.decontaminate _),
    "q_pii_redact" -> (Curation.piiRedact _),
    "q_source_mix" -> (Curation.sourceMix _),
    "q_source_mix_temp" -> ((s, dir) => Curation.sourceMixTemperature(s, dir)),
    "q_dedup_spans" -> (Dedup.spanDedup _),
    "q_dedup_substr_ranges" -> (Dedup.substrRanges _),
    "q_dedup_substr_trim" -> (Dedup.substrTrim _),
    "q_dedup_substr_stats" -> (Dedup.substrStats _),
    "q_sketch_distinct" -> (Sketches.kmvDistinct _),
    "q_sketch_hll" -> (Sketches.hllDistinct _),
    "q_sketch_cms" -> (Sketches.cmsTermFreq _),
    "q_sketch_cms_topk" -> ((s, dir) => Sketches.cmsTopK(s, dir)),
    "q_profile_table" -> (graft.ops.ProfileOps.profileTable _),
    "q_sketch_overlap" -> (Sketches.kmvOverlap _),
    "q_a7d_scd2" -> (graft.ops.ChangeOps.scd2History _),
    "q_pack_sequences" -> (Curation.packSequences _),
    "q_sample_stratified" -> (Curation.stratifiedSample _),
    "q_dsir_weights" -> ((s, dir) => Curation.dsirWeights(s, dir)),
    "q_dsir_select" -> ((s, dir) => Curation.dsirSelect(s, dir)),
    "q_text_drift" -> ((s, dir) => Curation.textDrift(s, dir)),
    "q_lm_score" -> ((s, dir) => Curation.lmScore(s, dir)),
    "q_lm_buckets" -> ((s, dir) => Curation.lmBuckets(s, dir)),
    "q_lm_profile" -> ((s, dir) => Curation.lmProfile(s, dir)),
    "q_token_budget" -> ((s, dir) => Curation.tokenBudgetSelect(s, dir)),
    "q_pipeline_quality" -> ((s, dir) => Curation.pipelineQuality(s, dir)),
    "q_lm_excess" -> ((s, dir) => Curation.lmExcess(s, dir)),
    "q_ngram_novelty" -> ((s, dir) => Curation.ngramNovelty(s, dir)),
    "q_epoch_shuffle" -> (Curation.epochShuffle _),
    "q_bpe_fertility" -> ((s, dir) => TextAnalysis.bpeFertility(s, dir)),
    "q_text_repetition" -> (TextAnalysis.repetition _),
    "q_vocab_top" -> (TextAnalysis.vocabulary _),
    "q_w5_distinct" -> (StreamOps.distinctPerWindow _),
    "q_chunk_overlap" -> (Curation.chunkDocuments _),
    "q_profile_hist" -> (TextAnalysis.lengthHistogram _),
    "q_bpe_pairs" -> (TextAnalysis.bpePairs _),
    "q_bloom_decontaminate" -> (Curation.bloomDecontaminate _),
    "q_quality_model" -> (TextAnalysis.modelQualityScore _),
    "q_model_perceptron" -> (graft.llm.Training.perceptronTrain _),
    "q_model_pr_curve" -> (graft.llm.Training.prCurve _),
    "q_minhash_est" -> (Dedup.minhashEstimate _),
    "q_zorder_key" -> (ZOrderOps.zorderKey _),
    "q_dedup_incremental" -> (Dedup.incrementalDedup _),
    "q_quality_cut" -> (TextAnalysis.calibratedQualityCut _),
    "q_quality_cut_approx" -> (TextAnalysis.approxQualityCut _),
    "q_retrieve_rerank" -> (Similarity.retrieveRerank _),
    "q_pipeline_curate" -> ((s, dir) => Curation.pipelineCurate(s, dir)),
    "q_w8_rank_suite" -> (graft.ops.AnalyticsOps.w8RankSuite _),
    "q_a12_cube" -> (graft.ops.AnalyticsOps.a12Cube _),
    "q_a15_grouping_sets" -> (graft.ops.AnalyticsOps.a15GroupingSets _),
    "q_basket_rules" -> ((s, dir) => graft.ops.AnalyticsOps.basketRules(s, dir)),
    "q_flagship_revenue" -> (graft.ops.AnalyticsOps.flagshipRevenue _),
    "q_rfm_segments" -> (graft.ops.AnalyticsOps.rfmSegments _),
    "q_cal_spine" -> (CoreOps.calSpine _),
    "q_seasonality" -> ((s, dir) => CoreOps.seasonality(s, dir)),
    "q_privacy_kanon" -> (graft.ops.PrivacyOps.kAnonymity _),
    "q_privacy_erasure" -> (graft.ops.PrivacyOps.erasurePropagation _),
    "q_ivm_sketch" -> (graft.ops.IncrementalOps.ivmSketch _),
    "q_dedup_containment" -> ((s, dir) => Dedup.containmentPairs(s, dir)),
    "q_funnel" -> (graft.ops.AnalyticsOps.funnelStages _),
    "q_cohort_retention" -> (graft.ops.AnalyticsOps.cohortRetention _),
    "q_sample_weighted" -> (graft.ops.AnalyticsOps.weightedSample _),
    "q_text_outlier" -> (graft.ops.AnalyticsOps.lengthOutliers _),
    "q_graph_triangles" -> (graft.ops.GraphOps.triangles _),
    "q_graph_lpa" -> (graft.ops.GraphOps.labelPropagation _),
    "q_graph_kcore" -> ((s, dir) => graft.ops.GraphOps.kCore(s, dir)),
    "q_pareto_front" -> (graft.ops.AnalyticsOps.paretoFront _),
    "q_graph_bfs" -> ((s, dir) => graft.ops.GraphOps.bfs(s, dir)),
    "q_winsorize" -> (graft.ops.AnalyticsOps.winsorize _),
    "q_dq_checks" -> (graft.ops.ProfileOps.dqChecks _),
    "q_sketch_histquant" -> (Sketches.histQuantiles _),
    "q_tfidf_neighbors" -> ((s, dir) => TextAnalysis.docNeighbors(s, dir)),
    "q_skipgrams" -> (TextAnalysis.skipgrams _),
    "q_negsample" -> (TextAnalysis.negativeSamples _),
    "q_w9_ohlc" -> (graft.ops.AnalyticsOps.ohlcResample _),
    "q_fuzzy_match" -> (graft.ops.MatchOps.fuzzyNameMatch _),
    "q_ivm_join" -> (graft.ops.IncrementalOps.ivmJoin _),
    "q_seq_transitions" -> (graft.ops.SequenceOps.seqTransitions _),
    "q_seq_paths" -> (graft.ops.SequenceOps.sessionPaths _),
    "q_j10_scd_lookup" -> (ChangeOps.j10ScdLookup _),
    "q_inverted_index" -> ((s, dir) => TextAnalysis.invertedIndex(s, dir)),
    "q_bm25_indexed" -> ((s, dir) => TextAnalysis.bm25Indexed(s, dir)),
    "q_cooc_lift" -> ((s, dir) => TextAnalysis.collocations(s, dir)),
    "q_bigram_lm" -> ((s, dir) => TextAnalysis.bigramCommonness(s, dir)),
    "q_embed_rp" -> (Similarity.randomProjection _),
    "q_split_leakage" -> (TextAnalysis.leakageSafeSplit _),
    "q_ivm_index" -> ((s, dir) => TextAnalysis.ivmIndex(s, dir)),
    "q_anomaly_mad" -> (graft.ops.AnalyticsOps.anomalyMad _),
    "q_w11_weighted_median" -> (graft.ops.AnalyticsOps.weightedMedian _),
    "q_w10_interp" -> (graft.ops.AsofOps.interpFill _),
    "q_dedup_canonical" -> (Dedup.dedupCanonical _),
    "q_entity_resolve" -> (graft.ops.MatchOps.entityResolve _),
    "q_dq_drift" -> (graft.ops.ProfileOps.dqDrift _),
    "q_vocab_coverage" -> (TextAnalysis.vocabCoverage _),
    "q_zorder_prune" -> (ZOrderOps.zorderPrune _),
    "q_a14_unpivot" -> (CoreOps.a14Unpivot _),
    "q_j12_full_outer" -> (CoreOps.j12FullOuter _),
    "q_graph_jaccard" -> (graft.ops.GraphOps.nodeSimilarity _),
    "q_ivm_zonemap" -> (ZOrderOps.ivmZonemap _),
    "q_mm_neardup" -> (MultimodalOps.mmNearDup _),
  )

  // ---- DuckDB oracle SQL macros shared by the LLM-operator oracles ------

  /** 32-bit md5-prefix hash (mirrors TextHash.md5Long). */
  private def hexIntSql(expr: String): String =
    s"CAST(('0x' || substr(md5($expr), 1, 8)) AS BIGINT)"

  /** DSIR shared CTEs (mirrors Curation.dsirBucketCounts/dsirRatios/
    * dsirWeights): hashed unigram+bigram feature counts per (doc, bucket),
    * the add-one-smoothed quantized ratio table, and the per-document
    * weight sums for the raw pool. ONE string feeds both q_dsir queries so
    * the selection provably ranks the weights relation, not a re-derivation.
    */
  /** The hashed-feature (doc, bucket) count CTEs with a caller-chosen
    * population flag (mirrors Curation.featureBucketCounts) — shared by
    * the DSIR and text-drift oracles.
    */
  private def featureBucketCtes(flagSql: String): String = {
    import graft.llm.Curation.DsirBuckets
    s"""tk AS (SELECT doc_id, $flagSql AS is_target,
                      string_split_regex(text, '\\s+') AS toks
               FROM documents),
        fe AS (SELECT doc_id, is_target,
                      unnest(list_concat(
                        list_transform(toks, tw -> 'u:' || tw),
                        list_transform(range(1, len(toks)),
                          i -> 'b:' || toks[i] || ' ' || toks[i + 1]))) AS f
               FROM tk),
        fb AS (SELECT doc_id, is_target,
                      ${hexIntSql("'dsir:' || f")} % $DsirBuckets AS bucket,
                      count(*)::BIGINT AS cnt
               FROM fe GROUP BY 1, 2, 3)"""
  }

  private lazy val dsirCtes: String = {
    import graft.llm.Curation.{DsirBuckets, DsirProbScale, DsirRatioScale,
      DsirTargetSource}
    s"""${featureBucketCtes(s"source = '$DsirTargetSource'")},
        tcx AS (SELECT bucket, sum(cnt)::BIGINT AS tc
                FROM fb WHERE is_target GROUP BY 1),
        rcx AS (SELECT bucket, sum(cnt)::BIGINT AS rc
                FROM fb WHERE NOT is_target GROUP BY 1),
        tot AS (SELECT sum(CASE WHEN is_target THEN cnt ELSE 0 END)::BIGINT AS t_tot,
                       sum(CASE WHEN NOT is_target THEN cnt ELSE 0 END)::BIGINT AS r_tot
                FROM fb),
        ratio AS (SELECT rcx.bucket,
                         ($DsirRatioScale * (($DsirProbScale * (coalesce(tcx.tc, 0) + 1)) // (tot.t_tot + $DsirBuckets) + 1))
                           // (($DsirProbScale * (rcx.rc + 1)) // (tot.r_tot + $DsirBuckets) + 1) AS ratio
                  FROM rcx LEFT JOIN tcx ON rcx.bucket = tcx.bucket, tot),
        w AS (SELECT fb.doc_id, sum(fb.cnt)::BIGINT AS n_feats,
                     sum(fb.cnt * ratio.ratio)::BIGINT AS weight
              FROM fb JOIN ratio USING (bucket)
              WHERE NOT fb.is_target GROUP BY 1)"""
  }

  /** LM-perplexity shared CTEs (mirrors Curation.lmScore): per-language
    * add-one-smoothed bigram model fitted on the trusted slice, pool
    * documents scored by exact-integer floor-log2 bit counts. ONE string
    * feeds all three q_lm queries so the buckets provably tercile the
    * scores relation and the profile aggregates the buckets relation.
    * Every division is `//`-floor on non-negative BIGINTs and the
    * floor-log2 is the binary-string length in BOTH engines (bin()).
    */
  /** The gridded smoothing ratio over nullable count columns — the `rat`
    * CTE's arithmetic as a helper, shared with the q_lm_excess oracle's
    * two-model scoring (mirrors Curation.lmBitsExpr's num/den/ratio).
    */
  private def lmRatioSql(c12c: String, c1c: String, vc: String): String = {
    import graft.llm.Curation.LmQBits
    s"""((coalesce($c1c, 0) + $vc + 1) * ${1L << LmQBits})
          // (coalesce($c12c, 0) + 1)"""
  }

  /** Exact integer bit count of a gridded ratio (floor-log2 via bin()
    * length + linear mantissa — the `bits` CTE's arithmetic as a helper).
    */
  private def lmBitsSql(r: String): String = {
    import graft.llm.Curation.{LmQBits, LmMantissa}
    s"""((length(bin($r)) - 1 - $LmQBits) * $LmMantissa
          + (($r) * $LmMantissa) // (1::BIGINT << (length(bin($r)) - 1))
          - $LmMantissa)"""
  }

  private lazy val lmCtes: String = {
    import graft.llm.Curation.{DsirTargetSource, LmQBits, LmMantissa}
    s"""tk AS MATERIALIZED (SELECT doc_id, lang, source,
                      string_split_regex(text, '\\s+') AS toks
               FROM documents),
        bgx AS (SELECT doc_id, lang, source,
                       unnest(list_transform(range(1, len(toks)),
                         i -> {'w1': toks[i], 'w2': toks[i + 1]})) AS p
                FROM tk WHERE len(toks) >= 2),
        bgc AS MATERIALIZED (SELECT doc_id, lang, source, p.w1 AS w1, p.w2 AS w2
                FROM bgx),
        c12 AS MATERIALIZED (SELECT lang, w1, w2, count(*)::BIGINT AS c12
                FROM bgc WHERE source = '$DsirTargetSource' GROUP BY 1, 2, 3),
        c1x AS MATERIALIZED (SELECT lang, w1, count(*)::BIGINT AS c1
                FROM bgc WHERE source = '$DsirTargetSource' GROUP BY 1, 2),
        vx AS MATERIALIZED (SELECT lang, count(DISTINCT w)::BIGINT AS v
               FROM (SELECT lang, unnest(toks) AS w FROM tk
                     WHERE source = '$DsirTargetSource') GROUP BY 1),
        rat AS (SELECT bgc.doc_id, bgc.lang,
                       ((coalesce(c1x.c1, 0) + vx.v + 1) * ${1L << LmQBits})
                         // (coalesce(c12.c12, 0) + 1) AS ratio
                FROM bgc
                JOIN vx ON bgc.lang = vx.lang
                LEFT JOIN c12 ON bgc.lang = c12.lang AND bgc.w1 = c12.w1
                             AND bgc.w2 = c12.w2
                LEFT JOIN c1x ON bgc.lang = c1x.lang AND bgc.w1 = c1x.w1
                WHERE bgc.source <> '$DsirTargetSource'),
        bits AS (SELECT doc_id, lang,
                        (length(bin(ratio)) - 1 - $LmQBits) * $LmMantissa
                          + (ratio * $LmMantissa)
                            // (1::BIGINT << (length(bin(ratio)) - 1))
                          - $LmMantissa AS bits_q8
                 FROM rat),
        lmscore AS MATERIALIZED (SELECT doc_id, lang, count(*)::BIGINT AS n_bigrams,
                           sum(bits_q8)::BIGINT AS sum_bits_q8,
                           (sum(bits_q8)::BIGINT * 1000) // count(*)::BIGINT
                             AS ce_milli_q8
                    FROM bits GROUP BY 1, 2),
        lmbucket AS (SELECT doc_id, lang, ce_milli_q8,
                            CASE ntile(3) OVER (PARTITION BY lang
                                ORDER BY ce_milli_q8, doc_id)
                              WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                              ELSE 'tail' END AS bucket
                     FROM lmscore)"""
  }

  /** The BM25 oracle — ONE string shared by `q_bm25` (in-query retrieval)
    * and `q_bm25_indexed` (the prebuilt-index probe): the two shapes must
    * produce the identical ranking, and sharing the oracle makes that the
    * checked contract rather than a comment.
    */
  private lazy val bm25OracleSql: String = {
    // one definition of the query workload: interpolate Bm25Queries
    val qvals = TextAnalysis.Bm25Queries
      .flatMap { case (q, ts) => ts.map(t => s"($q, '$t')") }.mkString(", ")
    s"""WITH q(query_id, term) AS (SELECT * FROM (VALUES $qvals)),
         tk AS (SELECT doc_id, string_split_regex(text, '\\s+') AS toks
                FROM documents),
         dl AS (SELECT doc_id, len(toks)::BIGINT AS dl FROM tk),
         scal AS (SELECT count(*)::BIGINT AS n_docs, sum(dl)::BIGINT AS sum_dl
                  FROM dl),
         ex AS (SELECT doc_id, unnest(toks) AS term FROM tk),
         tf AS (SELECT ex.doc_id, ex.term, count(*)::BIGINT AS tf
                FROM ex JOIN (SELECT DISTINCT term FROM q) qt USING (term)
                GROUP BY 1, 2),
         dfreq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
         sc AS (SELECT q.query_id, tf.doc_id,
                  round(((2*n_docs - 2*df + 1)::DOUBLE / (2*df + 1)::DOUBLE)
                      * ((22*tf.tf*sum_dl)::DOUBLE /
                         (10*tf.tf*sum_dl + 3*sum_dl + 9*dl.dl*n_docs)::DOUBLE),
                      9) AS s9
                FROM tf JOIN dfreq USING (term) JOIN q USING (term)
                     JOIN dl ON dl.doc_id = tf.doc_id, scal),
         agg AS (SELECT query_id, doc_id,
                   sum(CAST(s9 AS DECIMAL(20,9))) AS sd
                 FROM sc GROUP BY 1, 2),
         rnk AS (SELECT query_id, doc_id, sd,
                   row_number() OVER (PARTITION BY query_id
                     ORDER BY sd DESC, doc_id) AS rk
                 FROM agg)
         SELECT query_id, CAST(rk AS INT) AS rk, doc_id,
                CAST(sd AS DOUBLE) AS score
         FROM rnk WHERE rk <= ${TextAnalysis.Bm25TopK}
         ORDER BY query_id, rk"""
  }

  /** The inverted-index full-recompute oracle — shared by
    * `q_inverted_index` (the build) and `q_ivm_index` (the merge-
    * maintained form): incremental ≡ rebuild hash-exact is the checked
    * delta-rule soundness contract.
    */
  private lazy val invertedIndexOracleSql: String =
    """WITH tk AS (SELECT doc_id, string_split_regex(text, '\s+') AS toks
                FROM documents),
         dl AS (SELECT doc_id, len(toks)::BIGINT AS dl FROM tk),
         scal AS (SELECT count(*)::BIGINT AS n_docs, sum(dl)::BIGINT AS sum_dl
                  FROM dl),
         ex AS (SELECT doc_id, unnest(toks) AS term FROM tk),
         tf AS (SELECT term, doc_id, count(*)::BIGINT AS tf
                FROM ex GROUP BY 1, 2),
         dfreq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1)
         SELECT tf.term, dfreq.df, tf.doc_id, tf.tf, dl.dl, n_docs, sum_dl
         FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id), scal
         ORDER BY tf.term, tf.doc_id"""

  /** DuckDB mirror of [[graft.llm.Sketches.kmvEstimate]] — ONE macro per
    * engine, so a KmvK / rounding / hash-space change has a single update
    * site on each side (the Scala side is the one `kmvEstimate`).
    */
  private def kmvEstSql(kmv: String): String =
    s"""CASE WHEN len($kmv) < ${Sketches.KmvK}
                     THEN CAST(len($kmv) AS DOUBLE)
                     ELSE round(${Sketches.KmvK - 1} * ${Sketches.KmvHashSpace}
                                / CAST($kmv[${Sketches.KmvK}] AS DOUBLE), 4)
                END"""

  /** Tokenize + SimHash sketch CTEs (mirrors Dedup.simhashTable's bit-vote
    * arithmetic) — the 32-bit standalone pair oracle's sketch table (the
    * closure family rides simhash64SkCtes since round 12).
    */
  // hw2 hashes each token ONCE and the 32 bit-columns fold over the
  // integer hashes — the same simhash arithmetic as hashing inside the
  // per-bit loop (the historical form), minus a 32× redundant md5 per
  // token that put the closure oracles' sf0.3/sf1 replays into the
  // hours back when they shared this chain; the oracle's NAIVETY
  // (all-pairs + recursive closure) is untouched — only repeated
  // evaluation of the same deterministic subexpression is lifted
  private lazy val simhashSkCtes: String = s"""
         tk2 AS (SELECT doc_id, lang, string_split_regex(text, '\\s+') AS toks
                 FROM documents),
         hw2 AS (SELECT doc_id, lang,
                 list_transform(toks, w -> ${hexIntSql("w")}) AS hws
                 FROM tk2),
         sk AS (SELECT doc_id, lang,
                CAST(list_sum(list_transform(range(0, 32), i ->
                  CASE WHEN list_sum(list_transform(hws, h ->
                         CASE WHEN (h >> i) & 1 = 1
                              THEN 1 ELSE -1 END)) > 0
                       THEN (1::BIGINT << i) ELSE 0 END)) AS BIGINT) AS sh
                FROM hw2)"""

  /** Tokenize + 64-bit SimHash sketch CTEs (mirrors the
    * Simhash64Sketch bit-vote arithmetic) — shared by the 64-bit pair
    * oracle and the five closure-family oracles, which ride the 64-bit
    * pair graph since round 12. DuckDB BIGINT cannot hold the unsigned
    * 64-bit sketch whole, so `sk64` carries it as two 32-bit halves
    * (hi = md5 hex digits 1-8 = the engine's bits 63..32, lo = digits
    * 9-16 = bits 31..0 — Md5Ops.md5Long64's byte order) and Hamming
    * distance is the SUM of the halves' popcounts. One md5 per token
    * (the hoisted-hash discipline of simhashSkCtes — nested-lambda
    * re-evaluation otherwise recomputes it 64×).
    */
  private lazy val simhash64SkCtes: String = s"""
         tk64 AS (SELECT doc_id, lang,
                  string_split_regex(text, '\\s+') AS toks
                  FROM documents),
         hx64 AS (SELECT doc_id, lang,
                  list_transform(toks, w -> md5(w)) AS hs
                  FROM tk64),
         hw64 AS (SELECT doc_id, lang,
                  list_transform(hs, h ->
                    CAST(('0x' || substr(h, 1, 8)) AS BIGINT)) AS his,
                  list_transform(hs, h ->
                    CAST(('0x' || substr(h, 9, 8)) AS BIGINT)) AS los
                  FROM hx64),
         sk64 AS (SELECT doc_id, lang,
                CAST(list_sum(list_transform(range(0, 32), i ->
                  CASE WHEN list_sum(list_transform(his, h ->
                         CASE WHEN (h >> i) & 1 = 1
                              THEN 1 ELSE -1 END)) > 0
                       THEN (1::BIGINT << i) ELSE 0 END)) AS BIGINT) AS sh_hi,
                CAST(list_sum(list_transform(range(0, 32), i ->
                  CASE WHEN list_sum(list_transform(los, h ->
                         CASE WHEN (h >> i) & 1 = 1
                              THEN 1 ELSE -1 END)) > 0
                       THEN (1::BIGINT << i) ELSE 0 END)) AS BIGINT) AS sh_lo
                FROM hw64)"""

  /** The 64-bit near-dup pair CTE over `sk64` — the pair graph every
    * closure-family oracle shares (named `pairs` to slot into the
    * existing edges/reach chain).
    *
    * LOSSLESS banded candidate generation (the b6008e9 inverted-index
    * pattern, applied to the closure preamble per the r12 ask): a pair
    * within Hamming ≤ 3 of a 64-bit fingerprint agrees on at least one
    * of 4 disjoint 16-bit bands (pigeonhole — 4 bands, ≤ 3 differing
    * bits), so candidates from band equi-joins plus the EXACT Hamming
    * verify produce the identical relation to the all-pairs form at a
    * fraction of the cost (the sf5 components replay was 396 CPU-min of
    * all-pairs; banding is the same asymptotic cut the engine takes, but
    * the verify here stays an independent substrate: DuckDB SQL over the
    * two-halves encoding, DISTINCT instead of the engine's row-local
    * first-agreeing-band dedup, no shared code). The recall-1.0 argument
    * is the same theorem both sides rely on; the all-pairs form remains
    * in tree as `q_dedup_simhash64_pairs`'s oracle, so the banded
    * preamble itself stays differentially covered every round.
    */
  private lazy val simhash64PairsCte: String = s"""
         bnd64 AS (
           SELECT doc_id, lang, sh_hi, sh_lo, b.i AS band_idx,
                  CASE b.i WHEN 0 THEN sh_lo & 65535
                           WHEN 1 THEN (sh_lo >> 16) & 65535
                           WHEN 2 THEN sh_hi & 65535
                           ELSE (sh_hi >> 16) & 65535 END AS bkey
           FROM sk64, range(0, 4) b(i)),
         pairs AS (
           SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
           FROM bnd64 a JOIN bnd64 b
             ON a.band_idx = b.band_idx AND a.bkey = b.bkey
            AND a.lang = b.lang AND a.doc_id < b.doc_id
           WHERE bit_count(xor(a.sh_hi, b.sh_hi))
               + bit_count(xor(a.sh_lo, b.sh_lo))
               <= ${graft.llm.Dedup.Simhash64MaxHamming})"""

  /** Quality-filter CTEs ending in `qv` (doc stats + first-failing-rule
    * verdict) — shared by the standalone quality oracle and the composed
    * preprocessing-pipeline oracle; mirrors TextAnalysis.qualityFilter.
    */
  private val qualityCtes: String =
    """tkq AS (SELECT doc_id, string_split_regex(text, '\s+') AS toks
                FROM documents),
         stq AS (SELECT doc_id,
                  CAST(len(toks) AS INT) AS n_tokens,
                  round(len(list_distinct(toks))::DOUBLE
                        / len(toks)::DOUBLE, 6) AS ttr,
                  round(len(list_filter(toks,
                          w -> list_contains(['the','a','of','and'], w)))::DOUBLE
                        / len(toks)::DOUBLE, 6) AS stop_ratio,
                  round(list_sum(list_transform(toks, w -> length(w)))::DOUBLE
                        / len(toks)::DOUBLE, 6) AS mean_tok_len
                FROM tkq),
         qv AS (SELECT *,
                 CASE WHEN n_tokens < 10 THEN 'too_short'
                      WHEN n_tokens > 100000 THEN 'too_long'
                      WHEN ttr < 0.1 THEN 'repetitive'
                      WHEN stop_ratio < 0.01 THEN 'no_stopwords'
                      WHEN stop_ratio > 0.6 THEN 'filler'
                      WHEN mean_tok_len < 2.0 THEN 'fragmented'
                      WHEN mean_tok_len > 12.0 THEN 'unnatural_tokens'
                      ELSE 'kept' END AS verdict
               FROM stq)"""

  /** Tokenized + shingled documents CTE (mirrors TextHash.{tokens,shingles3}). */
  private val shingledCte: String =
    """tk AS (SELECT doc_id, lang, source, n_chars,
                     string_split_regex(text, '\s+') AS toks
              FROM documents),
       sh AS (SELECT doc_id, lang, source, n_chars,
                     CASE WHEN len(toks) >= 3
                          THEN list_distinct(list_transform(range(1, len(toks) - 1),
                                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
                          ELSE [''] END AS grams
              FROM tk)"""

  /** Sliding-gram duplicated-substring replay shared by the three
    * q_dedup_substr_* oracles (mirrors Dedup.substrIslands): every
    * [[graft.llm.Dedup.SubstrK]]-token gram keyed by full md5 hex, a
    * window pass marks every occurrence of a corpus-repeated gram except
    * its global first (count + row_number — the set Spark's
    * count/min-struct aggregate marks), covered ranges merge into maximal
    * islands via the gaps-and-islands running max. Ends in
    * `rg`(doc_id, isl, start_tok, end_tok); `tk` stays visible for the
    * trim/stats consumers.
    */
  private lazy val substrCtes: String = {
    val k = graft.llm.Dedup.SubstrK
    s"""tk AS MATERIALIZED (SELECT doc_id, lang, string_split_regex(text, '\\s+') AS toks
               FROM documents),
        occ AS MATERIALIZED (SELECT doc_id, i - 1 AS p,
                       md5(array_to_string(toks[i : i + ${k - 1}], ' ')) AS gh
                FROM (SELECT doc_id, toks,
                             unnest(range(1, len(toks) - $k + 2)) AS i
                      FROM tk WHERE len(toks) >= $k)),
        gd AS (SELECT doc_id, p, gh,
                      count(*) OVER (PARTITION BY gh) AS cnt,
                      row_number() OVER (PARTITION BY gh
                                         ORDER BY doc_id, p) AS rn
               FROM occ),
        mk AS (SELECT doc_id, p AS s, p + ${k - 1} AS e
               FROM gd WHERE cnt > 1 AND rn > 1),
        il AS (SELECT doc_id, s, e,
                      sum(CASE WHEN pe IS NULL OR s > pe + 1
                               THEN 1 ELSE 0 END)
                        OVER (PARTITION BY doc_id ORDER BY s
                              ROWS UNBOUNDED PRECEDING) AS isl
               FROM (SELECT doc_id, s, e,
                            max(e) OVER (PARTITION BY doc_id ORDER BY s
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING) AS pe
                     FROM mk) mkp),
        rg AS MATERIALIZED (SELECT doc_id, isl, CAST(min(s) AS INT) AS start_tok,
                      CAST(max(e) AS INT) AS end_tok
               FROM il GROUP BY doc_id, isl)"""
  }

  /** Exact-int Jaccard between two gram lists (mirrors TextHash.jaccard). */
  private def jaccardSql(a: String, b: String): String =
    s"""len(list_intersect($a, $b))::DOUBLE /
        len(list_distinct(list_concat($a, $b)))::DOUBLE"""

  /** MinHash signature + LSH band CTEs over `sh` (mirrors
    * Dedup.signatureTable/bandTable) — shared by the minhash pair,
    * estimator, and incremental-dedup oracles, so a mix/band change has
    * one update site per engine.
    */
  private lazy val minhashCtes: String = s"""
         sig AS (SELECT doc_id,
                        list_transform(range(0, ${graft.llm.Dedup.MinhashK}),
                          s -> list_min(list_transform(grams,
                                 g -> (${hexIntSql("g")} * (s*2 + 1) + s*12582917)
                                      % ${graft.llm.TextHash.MinhashPrime}))) AS sig
                 FROM sh),
         bands AS (SELECT doc_id, b AS band_idx,
                          md5(array_to_string(
                            list_slice(sig, b*${graft.llm.Dedup.RowsPerBand} + 1,
                                       b*${graft.llm.Dedup.RowsPerBand} + ${graft.llm.Dedup.RowsPerBand}),
                            ',')) AS bkey
                   FROM sig, range(0, ${graft.llm.Dedup.Bands}) r(b))"""

  /** The exact decontamination relation (mirrors Curation.decontaminate) —
    * also q_bloom_decontaminate's oracle VERBATIM: the bloom pre-filter is
    * lossless end to end (no false negatives by construction, false
    * positives killed by the verify join), and sharing the string keeps
    * that claim checkable.
    */
  private lazy val decontaminateCtes: String = s"""
         bench AS (SELECT DISTINCT gram
                   FROM (SELECT unnest(grams) AS gram FROM sh
                         WHERE doc_id % ${graft.llm.Curation.BenchmarkModulus} = 0)
                   WHERE gram <> ''),
         corpus AS (SELECT doc_id, grams FROM sh
                    WHERE doc_id % ${graft.llm.Curation.BenchmarkModulus} <> 0),
         hits AS (SELECT doc_id, count(*) AS n_hits
                  FROM (SELECT doc_id, unnest(grams) AS gram FROM corpus) cg
                  JOIN bench USING (gram)
                  WHERE gram <> ''
                  GROUP BY doc_id)"""

  private lazy val decontaminateOracle: String = s"""
         WITH $shingledCte, $decontaminateCtes
         SELECT c.doc_id, coalesce(h.n_hits, 0) AS n_hits,
                coalesce(h.n_hits, 0) = 0 AS keep
         FROM corpus c LEFT JOIN hits h ON c.doc_id = h.doc_id
         ORDER BY c.doc_id"""

  /** Embedding corpus + query set + cosine-scored pairs CTEs (mirrors
    * Similarity.{corpus,bruteForceTopK} stage 1) — shared by the top-k and
    * retrieve+rerank oracles so candidate generation has one definition
    * site per engine.
    */
  private lazy val embedScoredCtes: String = s"""
         c AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
         q AS (SELECT vec_id AS q_id, v AS qv FROM c
               WHERE vec_id < ${Similarity.NQueries}),
         scored AS (SELECT q_id, vec_id, ${cosSql("qv", "v")} AS cos
                    FROM c, q WHERE vec_id <> q_id)"""

  /** Trigram language-detection CTEs ending in `lid(doc_id, labeled_lang,
    * pred_lang, score)` (mirrors TextAnalysis.langId) — shared by the
    * langid and confusion oracles.
    */
  private lazy val langidCtes: String = {
    def profileSql(lang: String): String =
      TextAnalysis.langProfile(lang).map(g => s"'$g'").mkString("[", ", ", "]")
    s"""cg AS (SELECT doc_id, lang, string_split(lower(text), '') AS cs
                      FROM documents),
         gr AS (SELECT doc_id, lang AS labeled_lang,
                  CASE WHEN len(cs) >= 3
                       THEN list_distinct(list_transform(range(1, len(cs) - 1),
                              i -> cs[i] || cs[i+1] || cs[i+2]))
                       ELSE [array_to_string(cs, '')] END AS grams
                FROM cg),
         lsc AS (SELECT doc_id, labeled_lang,
                  len(list_intersect(grams, ${profileSql("de")})) AS s_de,
                  len(list_intersect(grams, ${profileSql("en")})) AS s_en,
                  len(list_intersect(grams, ${profileSql("es")})) AS s_es,
                  len(list_intersect(grams, ${profileSql("fr")})) AS s_fr,
                  len(list_intersect(grams, ${profileSql("zh")})) AS s_zh
                FROM gr),
         lid AS (SELECT doc_id, labeled_lang,
                  CASE WHEN s_de = smax THEN 'de' WHEN s_en = smax THEN 'en'
                       WHEN s_es = smax THEN 'es' WHEN s_fr = smax THEN 'fr'
                       ELSE 'zh' END AS pred_lang,
                  CAST(smax AS INT) AS score
                 FROM (SELECT *, greatest(s_de, s_en, s_es, s_fr, s_zh)
                         AS smax FROM lsc))"""
  }

  /** Hashed-feature model-scoring CTEs ending in `sc` (mirrors
    * TextAnalysis.modelScored) — shared by the model-score and
    * calibrated-cut oracles; the weight literal comes from the ONE Scala
    * definition.
    */
  private lazy val modelScoreCtes: String = s"""
         tkm AS (SELECT doc_id, string_split_regex(text, '\\s+') AS toks
                 FROM documents),
         sc AS (SELECT doc_id,
                       CAST(len(toks) AS INT) AS n_tokens,
                       CAST(list_sum(list_transform(toks, t ->
                         ([${graft.llm.TextAnalysis.modelWeights.mkString(", ")}])[
                           CAST(${hexIntSql(s"'${graft.llm.TextAnalysis.ModelSalt}' || t")} % ${graft.llm.TextAnalysis.ModelBuckets} AS INT) + 1]))
                         AS BIGINT) AS raw_score
                FROM tkm)"""

  /** Integer training features + the ±1 distilled label (mirrors
    * Training.trainingRows: the qualityFilter thresholds cross-multiplied
    * onto raw counts — the SAME inequalities, so the label derivation has
    * one definition per engine).
    */
  private lazy val trainFeatureCtes: String = s"""
         tkt AS (SELECT doc_id, string_split_regex(text, '\\s+') AS toks
                 FROM documents),
         ftr AS (SELECT doc_id,
                  CAST(1 AS BIGINT) AS x0,
                  CAST(len(toks) AS BIGINT) AS x1,
                  CAST(len(list_distinct(toks)) AS BIGINT) AS x2,
                  CAST(len(list_filter(toks,
                         w -> list_contains(['the','a','of','and'], w)))
                    AS BIGINT) AS x3,
                  CAST(list_sum(list_transform(toks, w -> length(w)))
                    AS BIGINT) AS x4
                 FROM tkt),
         lbl AS (SELECT *,
                  CASE WHEN x1 >= 10 AND x1 <= 100000
                        AND x2 * 10 >= x1
                        AND x3 * 100 >= x1 AND x3 * 10 <= x1 * 6
                        AND x4 >= x1 * 2 AND x4 <= x1 * 12
                       THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT)
                  END AS y
                 FROM ftr)"""

  /** Epoch-unrolled batch-perceptron chain over `lbl` (mirrors
    * Training.perceptronTrain): each epoch CTE carries the misclassified
    * count under the PRE-update weights and the POST-update weights —
    * all integer sums, order-insensitive, so the trajectory is
    * engine-exact. The pagerank/bpe-train unrolling convention.
    */
  private lazy val perceptronCtes: String = {
    val names = graft.llm.Training.FeatureNames
    val rounds = (1 to graft.llm.Training.Epochs).map { r =>
      val wx =
        if (r == 1) names.map(f => s"0 * $f").mkString(" + ")
        else names.map(f => s"e${r - 1}.w_$f * $f").mkString(" + ")
      val miss = s"y * ($wx) <= 0"
      val dws = names.map(f =>
        s"""CAST(${if (r == 1) "0" else s"e${r - 1}.w_$f"}
              + coalesce(sum(CASE WHEN $miss THEN y * $f END), 0)
            AS BIGINT) AS w_$f""").mkString(",\n                  ")
      val from =
        if (r == 1) "lbl"
        else s"lbl CROSS JOIN e${r - 1}"
      val grp =
        if (r == 1) ""
        else s"\n               GROUP BY ${names.map(f => s"e${r - 1}.w_$f").mkString(", ")}"
      s"""e$r AS (SELECT
                  CAST(count(CASE WHEN $miss THEN 1 END) AS BIGINT) AS n_miss,
                  $dws
                 FROM $from$grp)"""
    }
    rounds.mkString(",\n         ")
  }

  /** Left-fold dot product — list_reduce guarantees the same left-to-right
    * double summation as Spark's aggregate() fold.
    */
  private def dotSql(a: String, b: String): String =
    s"list_reduce(list_transform(list_zip($a, $b), x -> x[1] * x[2]), (acc, v) -> acc + v)"

  private def cosSql(a: String, b: String): String =
    s"""round(${dotSql(a, b)} /
         (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)})), 9)"""

  /** One k-means assignment CTE: nearest centroid from `cents` per corpus
    * vector (cosine rounded to 9dp before the argmax, ties to smallest cid
    * — mirrors Similarity.assign).
    */
  private def kmAssignCte(name: String, cents: String,
      corpus: String = "c"): String =
    s"""$name AS (SELECT vec_id, v, cid FROM (
          SELECT c.vec_id, c.v, s.cid,
                 row_number() OVER (PARTITION BY c.vec_id
                   ORDER BY ${cosSql("c.v", "s.centroid")} DESC, s.cid) AS ark
          FROM $corpus c, $cents s)
        WHERE ark = 1)"""

  /** One k-means update CTE: per-cluster exact-decimal component sums
    * (mirrors Similarity.kmeansCentroids' update step).
    *
    * The double → DECIMAL(38,10) input cast routes through VARCHAR in
    * every update CTE (here, the fine/PQ twins, and the mixture-weight
    * oracle): Spark's Cast quantizes the double's SHORTEST-DECIMAL
    * representation half-up, DuckDB's direct cast quantizes its exact
    * binary digits — the two disagree by 1e-10 exactly when a component
    * sits on a 10dp half-boundary, and one such component at sf5 moved a
    * PQ codebook mean by enough to flip a 9dp-rounded distance that sat
    * 1.2e-13 from ITS half-boundary (q_embed_pq, one row in 100k).
    * DuckDB prints doubles in shortest form, so VARCHAR→DECIMAL
    * reproduces Spark's quantization; non-boundary components are
    * unchanged by construction.
    */
  private def kmUpdateCte(name: String, assigned: String): String =
    s"""$name AS (SELECT cid, list(cx ORDER BY pos) AS centroid FROM (
          SELECT cid, pos, CAST(sum(CAST(CAST(x AS VARCHAR) AS DECIMAL(38,10))) AS DOUBLE) AS cx
          FROM (SELECT cid, generate_subscripts(v, 1) AS pos, unnest(v) AS x
                FROM $assigned)
          GROUP BY cid, pos)
        GROUP BY cid)"""

  /** One FINE-level k-means assignment CTE: nearest fine centroid WITHIN
    * the vector's coarse cell (the ccid equi-join; cosine rounded to 9 dp
    * before the argmax, ties to smallest fcid — mirrors
    * Similarity.assignFine).
    */
  private def kmFineAssignCte(name: String, cents: String): String =
    s"""$name AS (SELECT vec_id, ccid, v, fcid FROM (
          SELECT m.vec_id, m.ccid, m.v, s.fcid,
                 row_number() OVER (PARTITION BY m.vec_id
                   ORDER BY ${cosSql("m.v", "s.centroid")} DESC, s.fcid) AS ark
          FROM cm m JOIN $cents s ON m.ccid = s.ccid)
        WHERE ark = 1)"""

  /** One FINE-level k-means update CTE: per-(ccid, fcid) exact-decimal
    * component sums (mirrors the fine Lloyd step of
    * Similarity.hierMembers).
    */
  private def kmFineUpdateCte(name: String, assigned: String): String =
    s"""$name AS (SELECT ccid, fcid, list(cx ORDER BY pos) AS centroid FROM (
          SELECT ccid, fcid, pos,
                 CAST(sum(CAST(CAST(x AS VARCHAR) AS DECIMAL(38,10))) AS DOUBLE) AS cx
          FROM (SELECT ccid, fcid, generate_subscripts(v, 1) AS pos,
                       unnest(v) AS x
                FROM $assigned)
          GROUP BY ccid, fcid, pos)
        GROUP BY ccid, fcid)"""

  /** The two-level (coarse → fine) pair-scanner membership replay —
    * mirrors Similarity.hierMembers end to end: fine budget k =
    * max(KmeansK, n/target), coarse count = 1 below the
    * CoarseRouteMinK crossover gate else ⌈√k⌉ (float floor +
    * integer correction, the exact coarseCount arithmetic), ONE coarse
    * Lloyd round over rank seeds (CoarseIters — routing only), per-cell
    * fine budget max(1, |cell|/target) with per-cell rank seeds, fine
    * Lloyd within cells, and the injective cid = ccid·max(k_f)+fcid
    * label. Ends in `members`(vec_id, v, cid); shared by q_semdedup and
    * q_embed_hardneg. With kc = 1 the coarse CTEs stay in the chain but
    * degenerate (every argmax ranks ONE candidate, n·1 dots — cheap):
    * ccid = 0 for every vector, exactly the single-cell shortcut the
    * Scala side takes, so one SQL form replays both regimes.
    */
  private lazy val hierMembersCtes: String = s"""
         c AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
         kn AS (SELECT greatest(${Similarity.KmeansK},
                  count(*) // ${Similarity.PairClusterTarget}) AS k FROM c),
         kc AS (SELECT CAST(CASE WHEN k <= ${Similarity.CoarseRouteMinK}
                                 THEN 1
                                 WHEN fl * fl < k THEN fl + 1 ELSE fl END
                  AS INT) AS kc
                FROM (SELECT k, CAST(floor(sqrt(CAST(k AS DOUBLE)))
                        AS BIGINT) AS fl FROM kn)),
         cs0 AS (SELECT CAST(rn - 1 AS INT) AS cid, v AS centroid
                 FROM (SELECT v, row_number() OVER (ORDER BY vec_id) AS rn
                       FROM c)
                 WHERE rn <= (SELECT kc FROM kc)),
         ${kmAssignCte("ca1", "cs0")},
         ${kmUpdateCte("cs1", "ca1")},
         ${kmAssignCte("cmm", "cs1")},
         cm AS (SELECT vec_id, v, cid AS ccid FROM cmm),
         cells AS (SELECT ccid, greatest(1,
                     count(*) // ${Similarity.PairClusterTarget}) AS kf
                   FROM cm GROUP BY ccid),
         fs0 AS (SELECT r.ccid, CAST(r.rn - 1 AS INT) AS fcid,
                        r.v AS centroid
                 FROM (SELECT ccid, v, row_number() OVER (
                         PARTITION BY ccid ORDER BY vec_id) AS rn
                       FROM cm) r
                 JOIN cells ON r.ccid = cells.ccid
                 WHERE r.rn <= cells.kf),
         ${kmFineAssignCte("fa1", "fs0")},
         ${kmFineUpdateCte("fs1", "fa1")},
         ${kmFineAssignCte("fa2", "fs1")},
         ${kmFineUpdateCte("fs2", "fa2")},
         ${kmFineAssignCte("fm", "fs2")},
         kfm AS (SELECT max(kf) AS kfmax FROM cells),
         members AS (SELECT vec_id, v,
                       CAST(ccid * (SELECT kfmax FROM kfm) + fcid AS INT)
                         AS cid
                     FROM fm)"""

  /** Squared L2 via the dot identity (mirrors Similarity.l2sq: three
    * list_reduce folds, rounded at 9 dp before any argmin).
    */
  /** 9dp rounding routed through DECIMAL(28,14) — Spark's Round on a
    * double rounds its SHORTEST-DECIMAL representation half-up, while
    * DuckDB's round(DOUBLE, 9) takes a numeric path; the two disagree by
    * 1 ulp of the 9th decimal exactly when the double sits on a 9dp
    * half-boundary (measured: one vector in 100 k at sf5 — the
    * per-subspace distance 0.5838734615). Casting to DECIMAL(28,14)
    * first recovers the shortest-decimal digits (the double is ~1e-16
    * from them, never near a 14dp boundary), and the decimal round is
    * half-up — Spark's semantics, boundary included. Non-boundary values
    * are unchanged by construction.
    *
    * RESIDUAL WINDOW (heuristic, not an exact equivalence): a distance
    * whose exact binary value lies within ~1e-15 of a 14dp half-boundary,
    * or whose shortest repr carries >14 fractional digits while ALSO
    * sitting on a 9dp half-boundary, can still diverge by 1 ulp of the
    * 9th decimal — an ORACLE-side differential flake, never a wrong
    * engine result (Spark's side is Round(double, 9) either way). Width:
    * DECIMAL(28,14) overflows at |x| ≥ 1e14; the inputs here are PQ/L2
    * distances over unit-scale embeddings (≤ ~1e3 at any SF in tree), so
    * the 14 integer digits are 11 orders of headroom. If a future caller
    * feeds unbounded magnitudes, route through VARCHAR like the
    * sum casts above (shortest-repr quantization, no width limit on the
    * integer part at DECIMAL(38,x) ranges we use).
    */
  private def round9ViaDecimal(x: String): String =
    s"""CAST(round(CAST(($x) AS DECIMAL(28,14)), 9) AS DOUBLE)"""

  private def pqL2Sql(a: String, b: String): String =
    round9ViaDecimal(s"${dotSql(a, a)} + ${dotSql(b, b)} - 2 * ${dotSql(a, b)}")

  /** One PQ assignment CTE: nearest code per (vector, subspace) from the
    * `books` codebooks (mirrors Similarity.pqAssign's min-of-struct
    * winner). `keep` appends extra projected columns (", sv" / ", d").
    */
  private def pqAssignCte(name: String, books: String, keep: String,
      corpus: String = "sub"): String =
    s"""$name AS (SELECT vec_id, m, code$keep FROM (
          SELECT sub.vec_id, sub.m, $books.code, sub.sv,
                 ${pqL2Sql("sub.sv", s"$books.cb")} AS d,
                 row_number() OVER (PARTITION BY sub.vec_id, sub.m
                   ORDER BY ${pqL2Sql("sub.sv", s"$books.cb")} ASC,
                            $books.code ASC) AS rk
          FROM $corpus sub JOIN $books ON sub.m = $books.m)
        WHERE rk = 1)"""

  /** One PQ codebook-update CTE (exact-decimal component means of the
    * kept subvectors) — the refinement step shared by [[pqTrainCtes]]
    * and the incremental oracle's base-restricted training.
    */
  private def pqUpdateCte(name: String, assigned: String): String =
    s"""$name AS (SELECT m, code, list(cx ORDER BY pos) AS cb FROM (
          SELECT m, code, pos,
                 CAST(sum(CAST(CAST(x AS VARCHAR) AS DECIMAL(38,10))) AS DOUBLE) / count(*)
                   AS cx
          FROM (SELECT m, code, generate_subscripts(sv, 1) AS pos,
                       unnest(sv) AS x
                FROM $assigned)
          GROUP BY m, code, pos)
        GROUP BY m, code)"""

  /** The shared PQ training preamble (corpus → subvectors → seed books →
    * assignment → refined codebooks `u1`) — ONE definition so q_embed_pq
    * and q_embed_pq_search can never train divergent codebooks.
    */
  private lazy val pqTrainCtes: String = {
    val (m, sd, k) = (Similarity.PqM, Similarity.PqSub, Similarity.PqK)
    s"""c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         sub AS (SELECT vec_id, m, v[m*$sd+1 : m*$sd+$sd] AS sv
                 FROM c, range(0, $m) r(m)),
         b0 AS (SELECT m, CAST(vec_id AS INT) AS code, sv AS cb
                FROM sub WHERE vec_id < $k),
         ${pqAssignCte("a1", "b0", ", sv")},
         ${pqUpdateCte("u1", "a1")}"""
  }

  /** The full IVFPQ retrieval chain (mirrors Similarity.ivfPqSearch):
    * PQ training, k-means routing, ADC scoring, exact re-rank — ending in
    * `annres(q_id, rk, vec_id, cos, adist)` (and exposing `c`/`qv0` for
    * consumers). ONE string shared by the declared search query and the
    * retrieval-quality eval, so the eval provably grades the declared
    * retrieval, not a re-derivation.
    */
  private lazy val ivfpqChainCtes: String = s"""
         $pqTrainCtes,
         ${pqAssignCte("codes", "u1", "")},
         s0 AS (SELECT CAST(vec_id AS INT) AS cid, v AS centroid FROM c
                WHERE vec_id < ${Similarity.KmeansK}),
         ${kmAssignCte("ka1", "s0")},
         ${kmUpdateCte("ks1", "ka1")},
         ${kmAssignCte("ka2", "ks1")},
         ${kmUpdateCte("ks2", "ka2")},
         ${kmAssignCte("members", "ks2")},
         qv0 AS (SELECT vec_id AS q_id, v AS qv FROM c
                 WHERE vec_id < ${Similarity.NQueries}),
         routed AS (SELECT q_id, cid AS probe_cid FROM (
             SELECT qv0.q_id, ks2.cid,
                    row_number() OVER (PARTITION BY qv0.q_id
                      ORDER BY ${cosSql("qv0.qv", "ks2.centroid")} DESC,
                               ks2.cid) AS crk
             FROM qv0, ks2)
           WHERE crk <= ${Similarity.Probes}),
         q AS (SELECT vec_id AS q_id, m, sv AS qsv FROM sub
               WHERE vec_id < ${Similarity.NQueries}),
         tbl AS (SELECT q_id, u1.m, u1.code, ${pqL2Sql("q.qsv", "u1.cb")} AS d
                 FROM q JOIN u1 ON q.m = u1.m),
         probed AS (SELECT r.q_id, mem.vec_id
                    FROM routed r JOIN members mem
                      ON mem.cid = r.probe_cid AND mem.vec_id <> r.q_id),
         sc AS (SELECT p.q_id, p.vec_id,
                       CAST(sum(CAST(tbl.d AS DECIMAL(20,9))) AS DOUBLE) AS adist
                FROM probed p
                JOIN codes ON codes.vec_id = p.vec_id
                JOIN tbl ON tbl.q_id = p.q_id AND tbl.m = codes.m
                        AND tbl.code = codes.code
                GROUP BY p.q_id, p.vec_id),
         shortlist AS (SELECT q_id, vec_id, adist FROM (
             SELECT *, row_number() OVER (PARTITION BY q_id
                         ORDER BY adist ASC, vec_id ASC) AS ark
             FROM sc)
           WHERE ark <= ${Similarity.PqRerankCandidates}),
         re AS (SELECT s.q_id, s.vec_id, s.adist,
                       ${cosSql("qb.v", "cb.v")} AS cos
                FROM shortlist s
                JOIN c cb ON cb.vec_id = s.vec_id
                JOIN c qb ON qb.vec_id = s.q_id),
         annres AS (SELECT q_id, CAST(rk AS INT) AS rk, vec_id, cos, adist
                    FROM (
             SELECT *, row_number() OVER (PARTITION BY q_id
                         ORDER BY cos DESC, vec_id ASC) AS rk
             FROM re)
           WHERE rk <= ${Similarity.PqTopK})"""

  /** Vocabulary + adjacent-char-pair CTEs (mirror TextAnalysis.vocabTable /
    * pairWeights) — shared by the BPE pair-count and merge oracles.
    */
  /** The term→freq vocabulary CTE alone (mirrors TextAnalysis.vocabTable)
    * — shared by the pair-count, merge, and training oracles.
    */
  private lazy val bpeVocabCte: String = s"""vocab AS (
           SELECT term, count(*) AS freq
           FROM (SELECT unnest(string_split_regex(text, '\\s+')) AS term
                 FROM documents)
           GROUP BY term)"""

  private lazy val bpeCtes: String = s"""
         $bpeVocabCte,
         pr AS (
           SELECT unnest(CASE WHEN length(term) >= 2
                              THEN list_transform(range(1, length(term)),
                                     i -> substr(term, i, 2))
                              ELSE [] END) AS pair,
                  freq
           FROM vocab)"""

  /** Unrolled BPE-training CTE chain (mirrors TextAnalysis.bpeTrain —
    * the PrIters pattern: the Scala loop generates one CTE triple per
    * round). `v0` is the space-bounded symbol-string vocabulary
    * (`" l o w "`); each round `r` counts adjacent symbol pairs (`pR`),
    * takes the deterministic argmax (`rR`), and rewrites (`vR`) via the
    * same `" a b " → " ab "` replace() both engines share. Requires a
    * `vocab(term, freq)` CTE in scope.
    */
  private lazy val bpeTrainCtes: String = {
    val v0 = """v0 AS (SELECT term, freq,
                   ' ' || regexp_replace(term, '(.)', '\1 ', 'g') AS ss
                 FROM vocab)"""
    // vR / rR are referenced more than once (pair counting AND the next
    // rewrite; the rule subquery twice) — MATERIALIZED stops a
    // CTE-inlining planner from expanding the chain exponentially in K
    val rounds = (1 to TextAnalysis.BpeTrainK).map { r =>
      s"""p$r AS (SELECT pr AS pair, CAST(sum(freq) AS BIGINT) AS weight
                FROM (SELECT freq,
                             unnest(list_transform(range(1, len(syms)),
                                      i -> syms[i] || ' ' || syms[i+1])) AS pr
                      FROM (SELECT freq, string_split(trim(ss), ' ') AS syms
                            FROM v${r - 1}))
                GROUP BY pr),
         r$r AS MATERIALIZED (SELECT $r AS round, pair, weight FROM p$r
                 ORDER BY weight DESC, pair LIMIT 1),
         v$r AS MATERIALIZED (SELECT term, freq,
                        replace(ss, ' ' || (SELECT pair FROM r$r) || ' ',
                                ' ' || replace((SELECT pair FROM r$r), ' ', '')
                                    || ' ') AS ss
                 FROM v${r - 1})"""
    }
    (v0 +: rounds).mkString(",\n         ")
  }

  /** DuckDB SQL macro for the tag pipeline (odgovlt.py:79-94) applied to an
    * arbitrary string expression, returning the tag LIST (for document
    * assembly oracles) — kept identical to TextFunctions.packageTags so
    * flagship and standalone oracles share one definition.
    */
  private def tagPipelineListSql(expr: String): String =
    s"""list_filter(
          list_transform(
            list_filter(
              list_transform(string_split(replace($expr, ';', ','), ','),
                t -> CASE WHEN regexp_matches(trim(t), '^[A-Z][a-z]')
                          THEN lower(substr(trim(t), 1, 1)) || substr(trim(t), 2)
                          ELSE trim(t) END),
              t -> t IS NOT NULL AND t <> ''),
            t -> lower(trim(regexp_replace(t, '\\W+', ' ', 'g')))),
          t -> length(t) BETWEEN 2 AND 100)"""

  // coalesce: DuckDB's array_to_string returns NULL for an empty list where
  // Spark's array_join returns ''.
  private def tagPipelineSql(expr: String): String =
    s"""coalesce(array_to_string(${tagPipelineListSql(expr)}, '|'), '')"""

  /** DuckDB SQL macro for slug normalization (odgovlt.py:39-48) — ASCII
    * inputs only (transliteration is a no-op for the harness columns).
    */
  /** ONE oracle for the trailing range frame, shared by the plain window
    * (`q_w15_range_frame`) and its skew-robust bucketed rewrite
    * (`q_skew_range_frame`) — the two plans answering one SQL is the
    * rewrite's correctness contract.
    */
  /** ONE oracle for the 5-row trailing ROWS frame, shared by the plain
    * per-user window (`q_w7_moving_avg`) and its skew-robust bucketed
    * rewrite (`q_skew_rows_frame`, [[graft.ops.SkewOps.bucketedRowsFrame]])
    * — the q_skew_range_frame convention applied to the shape the sf1
    * skew tier measured at 5.2× under the half-hot user.
    */
  private val rowsFrameOracle: String =
    """WITH src AS (
         SELECT event_id, user_id, ts,
                CAST(round(value * 100) AS BIGINT) AS cents
         FROM events)
       SELECT event_id, user_id, ts, cents,
              CAST(count(*) OVER w AS BIGINT) AS win_n,
              CAST(sum(cents) OVER w AS BIGINT) AS win_sum_cents,
              round(CAST(sum(cents) OVER w AS BIGINT)
                    / CAST(count(*) OVER w AS BIGINT), 4) AS avg_cents
       FROM src
       WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
       ORDER BY event_id"""

  /** ONE oracle for gap-based sessionization, shared by the plain
    * per-user window chain (`q_w3_sessionize`) and its skew-robust
    * bucketed rewrite (`q_skew_sessionize`,
    * [[graft.ops.SkewOps.bucketedSessionize]]) — the q_skew_range_frame
    * convention applied to the last per-key-sort shape the sf1 skew tier
    * left without a batch rewrite.
    */
  private val sessionizeOracle: String = s"""
         SELECT user_id, session_id, n_events, session_start, session_end FROM (
           SELECT user_id, session_id, count(*) AS n_events,
                  min(ts) AS session_start, max(ts) AS session_end
           FROM (
             SELECT user_id, ts,
                    CAST(sum(CASE WHEN date_diff('second', prev_ts, ts)
                                       > ${graft.streaming.StreamOps.SessionGapMinutes * 60} THEN 1
                                  ELSE 0 END)
                      OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT)
                      AS session_id
             FROM (SELECT user_id, event_id, ts,
                          lag(ts) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS prev_ts
                   FROM events))
           GROUP BY user_id, session_id)
         ORDER BY user_id, session_id"""

  private def rangeFrameOracle: String = {
    val w = graft.ops.CoreOps.RangeFrameMicros
    s"""WITH src AS (
         SELECT event_id, event_type, epoch_us(ts) AS us,
                CAST(round(value * 100) AS BIGINT) AS cents
         FROM events)
       SELECT event_id, event_type, us, cents,
              CAST(count(*) OVER w AS BIGINT) AS n_1h,
              CAST(sum(cents) OVER w AS BIGINT) AS sum_1h_cents
       FROM src
       WINDOW w AS (PARTITION BY event_type ORDER BY us
                    RANGE BETWEEN $w PRECEDING
                          AND CURRENT ROW)
       ORDER BY event_id"""
  }

  private def slugSql(expr: String): String =
    s"""regexp_replace(lower(trim(regexp_replace($expr, '[^\\w\\s-]', '', 'g'))),
                       '[-\\s]+', '-', 'g')"""

  /** DuckDB-runnable ANSI SQL equivalents (same result schema & order). */
  def oracleSql: Map[String, String] = Map(
    "q_s3_filtered_scan" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
         FROM orders WHERE o_orderstatus = 'F' ORDER BY o_orderkey""",
    "q_s4_point_lookup" ->
      """SELECT c_custkey, c_name, c_nationkey, c_mktsegment
         FROM customer WHERE c_custkey = 42""",
    "q_s9_latest" ->
      """SELECT o_orderkey, o_custkey, o_orderdate, o_orderstatus
         FROM orders ORDER BY o_orderdate DESC, o_orderkey DESC LIMIT 1""",
    "q_j1_left_defaults" ->
      """SELECT o_orderkey,
                coalesce(c_name, 'Unknown User') AS owner_name,
                coalesce(c_mktsegment, 'UNKNOWN') AS owner_segment
         FROM orders
         LEFT JOIN (SELECT * FROM customer WHERE c_custkey % 2 = 0) c
           ON o_custkey = c_custkey
         ORDER BY o_orderkey""",
    "q_j2_dim_chain" ->
      """SELECT c_custkey, c_name,
                coalesce(n_name, 'Unknown organization') AS nation_name,
                coalesce(r_name, 'Unknown region') AS region_name
         FROM customer
         LEFT JOIN nation ON c_nationkey = n_nationkey
         LEFT JOIN region ON n_regionkey = r_regionkey
         ORDER BY c_custkey""",
    "q_j3_bridge_groups" ->
      """SELECT l_orderkey,
                array_to_string(list_sort(list(DISTINCT p_name)), '|') AS groups,
                count(DISTINCT p_name) AS n_groups
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY l_orderkey ORDER BY l_orderkey""",
    "q_j6_semi" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         ORDER BY c_custkey""",
    "q_j7_anti" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey
                             AND o_orderpriority = '1-URGENT')
         ORDER BY c_custkey""",
    "q_a1_distinct" ->
      """SELECT DISTINCT c_mktsegment AS segment FROM customer ORDER BY segment""",
    "q_a3_group_collect" ->
      """SELECT n_regionkey,
                string_agg(n_name, '|' ORDER BY n_name) AS members,
                count(*) AS n_members
         FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""",
    "q_a7_change_detect" ->
      """WITH old AS (SELECT o_orderkey, o_orderstatus, o_orderpriority FROM orders),
              neu AS (SELECT o_orderkey AS n_orderkey, o_orderstatus AS n_status,
                             CASE WHEN o_orderkey % 10 = 0 THEN '0-CHANGED'
                                  ELSE o_orderpriority END AS n_priority
                      FROM orders)
         SELECT o_orderkey, n_priority AS new_priority
         FROM old JOIN neu ON o_orderkey = n_orderkey
         WHERE o_orderstatus <> n_status OR o_orderpriority <> n_priority
         ORDER BY o_orderkey""",
    // salted two-phase aggregation (mirrors SkewOps.saltedStats): the salt
    // only re-partitions intermediate state, so the oracle is the PLAIN
    // group-by — result identity under salting is exactly the contract
    "q_skew_agg" ->
      """SELECT event_type,
                count(*)::BIGINT AS n,
                CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                  AS sum_cents
         FROM events GROUP BY event_type ORDER BY event_type""",
    // incremental view maintenance (mirrors IncrementalOps.ivmMergeAgg):
    // merged (base ⊎ delta) monoid state ≡ the full recompute — the
    // oracle IS the plain GROUP BY over all events
    "q_ivm_agg" ->
      """SELECT event_type,
                CAST(count(*) AS BIGINT) AS n_events,
                CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                  AS sum_cents,
                round(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                      / CAST(count(*) AS BIGINT), 4) AS avg_cents
         FROM events GROUP BY event_type ORDER BY event_type""",
    // null-flood-safe left join (SkewOps.nullSkewLeftJoin): null keys
    // never match, so the oracle is the PLAIN left join
    "q_j11_null_skew" ->
      """WITH p AS (SELECT o_orderkey,
                  CASE WHEN o_orderkey % 5 = 0 THEN NULL
                       ELSE o_custkey END AS fk,
                  o_orderpriority
           FROM orders)
         SELECT o_orderkey, fk, c_name, o_orderpriority
         FROM p LEFT JOIN customer ON fk = c_custkey
         ORDER BY o_orderkey""",
    // salted replicated join (SkewOps.saltedJoin): salting only scatters
    // the hot key across reducers — the oracle is the PLAIN equi-join
    "q_skew_join" ->
      """SELECT event_id, user_id, c_name, c_mktsegment, event_type
         FROM events JOIN customer ON user_id = c_custkey
         ORDER BY event_id""",
    // bloom runtime-filter join (SkewOps.bloomJoin): the bloom pre-filter
    // only changes what the shuffle carries — false positives are removed
    // by the exact join, so the oracle is the PLAIN equi-join
    "q_j13_bloom_join" ->
      """SELECT o_orderkey, o_custkey, c_name, o_orderpriority
         FROM orders JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING'
         ORDER BY o_orderkey""",
    "q_a8_group_stats" ->
      """SELECT o_orderpriority,
                count(*) AS n_orders,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents,
                count(DISTINCT o_custkey) AS n_customers
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q_so1_except" ->
      """SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
         EXCEPT
         SELECT o_custkey AS k FROM orders WHERE o_orderpriority = '1-URGENT'
         ORDER BY k""",
    "q_so2_union" ->
      """SELECT DISTINCT k FROM (
           SELECT CAST(c_nationkey AS INT) AS k FROM customer
           UNION ALL
           SELECT CAST(s_nationkey AS INT) AS k FROM supplier)
         ORDER BY k""",
    "q_w1_topk" ->
      """SELECT c_nationkey, CAST(rk AS INT) AS rk, c_custkey, c_acctbal FROM (
           SELECT c_nationkey, c_custkey, c_acctbal,
                  ROW_NUMBER() OVER (PARTITION BY c_nationkey
                                     ORDER BY c_acctbal DESC, c_custkey) AS rk
           FROM customer)
         WHERE rk <= 3 ORDER BY c_nationkey, rk""",
    // q_sf3_slug_truncate: intentionally no oracle — the head/tail greedy
    // word-packing cap (odgovlt.py:50-69) is not expressible in one SQL
    // statement; pinned instead by the ScalaTest golden vector.
    "q_sf1_fixcase" ->
      """SELECT p_partkey,
                CASE WHEN regexp_matches(ul, '^[A-Z][a-z]')
                     THEN lower(substr(ul, 1, 1)) || substr(ul, 2) ELSE ul END AS fixed_title,
                CASE WHEN regexp_matches(ut, '^[A-Z][a-z]')
                     THEN lower(substr(ut, 1, 1)) || substr(ut, 2) ELSE ut END AS fixed_acronym
         FROM (SELECT p_partkey,
                      upper(substr(p_name, 1, 1)) || substr(p_name, 2) AS ul,
                      upper(p_type) AS ut
               FROM part)
         ORDER BY p_partkey""",
    "q_sf2_slugify_norm" ->
      """SELECT p_partkey,
                regexp_replace(lower(trim(regexp_replace(
                  concat_ws(' ', p_name, p_brand, p_partkey),
                  '[^\w\s-]', '', 'g'))), '[-\s]+', '-', 'g') AS slug
         FROM part ORDER BY p_partkey""",
    "q_sf4_tagify" ->
      """SELECT p_partkey,
                trim(regexp_replace(p_name || '!!' || p_brand || '  ' || p_type,
                                    '\W+', ' ', 'g')) AS tag
         FROM part ORDER BY p_partkey""",
    "q_sf5_package_tags" ->
      """SELECT p_partkey,
                array_to_string(
                  list_filter(
                    list_transform(
                      list_filter(
                        list_transform(
                          string_split(replace(p_name || ';' || p_type || ',' || p_brand
                                               || ', ,x,' || p_name, ';', ','), ','),
                          t -> CASE WHEN regexp_matches(trim(t), '^[A-Z][a-z]')
                                    THEN lower(substr(trim(t), 1, 1)) || substr(trim(t), 2)
                                    ELSE trim(t) END),
                        t -> t IS NOT NULL AND t <> ''),
                      t -> lower(trim(regexp_replace(t, '\W+', ' ', 'g')))),
                    t -> length(t) BETWEEN 2 AND 100),
                  '|') AS tags
         FROM part ORDER BY p_partkey""",
    "q_p1_user_projection" ->
      """SELECT c_custkey,
                regexp_replace(lower(trim(regexp_replace(c_name, '[^\w\s-]', '', 'g'))),
                               '[-\s]+', '-', 'g') AS name,
                c_name || ' ' || c_mktsegment AS fullname
         FROM customer ORDER BY c_custkey""",
    "q_sf8_date_format" ->
      """SELECT o_orderkey,
                strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S') AS iso_date
         FROM orders ORDER BY o_orderkey""",
    "q_sf9_json_roundtrip" ->
      """SELECT n_nationkey AS key, n_name, n_regionkey
         FROM nation ORDER BY key""",
    "q_sf10_json_extract" ->
      """SELECT event_id,
                CAST(json_extract_string(props, '$.k') AS INT) AS k_val
         FROM events ORDER BY event_id""",
    "q_sf11_extras_map" ->
      """SELECT c_custkey,
                CAST(c_custkey AS VARCHAR) AS kodas,
                c_mktsegment AS adresas
         FROM customer ORDER BY c_custkey""",
    "q_s8_projection" ->
      """SELECT event_id, user_id, value
         FROM events WHERE event_type = 'error' ORDER BY event_id""",
    "q_f4_owned_filter" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE c_custkey % 2 = 0 ORDER BY c_custkey""",
    "q_j5_tree" ->
      """WITH RECURSIVE nodes AS (
           SELECT CAST(r_regionkey + 1 AS BIGINT) AS node_id,
                  CAST(0 AS BIGINT) AS parent_id, r_name AS name FROM region
           UNION ALL
           SELECT CAST(n_nationkey + 100 AS BIGINT),
                  CAST(n_regionkey + 1 AS BIGINT), n_name FROM nation
           UNION ALL
           SELECT CAST(s_suppkey + 10000 AS BIGINT),
                  CAST(s_nationkey + 100 AS BIGINT), s_name FROM supplier),
         tree AS (
           SELECT node_id, name, 1 AS depth, name AS root_name, name AS path
           FROM nodes WHERE parent_id = 0
           UNION ALL
           SELECT n.node_id, n.name, t.depth + 1, t.root_name,
                  t.path || '/' || n.name
           FROM nodes n JOIN tree t ON n.parent_id = t.node_id)
         SELECT node_id, name, CAST(depth AS INT) AS depth, root_name, path
         FROM tree ORDER BY node_id""",
    "q_p3_group_docs" -> s"""
         WITH RECURSIVE nodes AS (
           SELECT CAST(r_regionkey + 1 AS BIGINT) AS node_id,
                  CAST(0 AS BIGINT) AS parent_id, r_name AS name FROM region
           UNION ALL
           SELECT CAST(n_nationkey + 100 AS BIGINT),
                  CAST(n_regionkey + 1 AS BIGINT), n_name FROM nation
           UNION ALL
           SELECT CAST(s_suppkey + 10000 AS BIGINT),
                  CAST(s_nationkey + 100 AS BIGINT), s_name FROM supplier),
         tree AS (
           SELECT node_id, 1 AS depth FROM nodes WHERE parent_id = 0
           UNION ALL
           SELECT n.node_id, t.depth + 1
           FROM nodes n JOIN tree t ON n.parent_id = t.node_id),
         slugs AS (
           SELECT node_id, parent_id, name,
                  ${slugSql("name || ' ' || node_id")} AS slug
           FROM nodes),
         kids AS (
           SELECT parent_id,
                  array_to_string(list_sort(list(DISTINCT slug)), '|') AS children
           FROM slugs GROUP BY parent_id)
         SELECT s.slug AS group_slug, s.name AS title,
                coalesce(k.children, '') AS children,
                CAST(t.depth AS INT) AS depth,
                'IVPK IRS' AS extras_source
         FROM slugs s
         JOIN tree t ON s.node_id = t.node_id
         LEFT JOIN kids k ON k.parent_id = s.node_id
         ORDER BY group_slug""",
    "q_p4_package_flat" -> s"""
         WITH og AS (
           SELECT l_orderkey,
                  array_to_string(list_sort(list(DISTINCT p_name)), '|') AS groups,
                  CAST(count(DISTINCT p_name) AS INT) AS n_groups,
                  array_to_string(list_sort(list(DISTINCT p_type)), ',') AS type_csv
           FROM lineitem JOIN part ON l_partkey = p_partkey
           GROUP BY l_orderkey)
         SELECT o_orderkey,
                ${slugSql("coalesce(c_name, 'Unknown User') || ' ' || o_orderkey")} AS name_slug,
                coalesce(c_name, 'Unknown User') AS owner_name,
                coalesce(n_name, 'Unknown organization') AS org_name,
                coalesce(r_name, 'Unknown region') AS org_region,
                coalesce(og.groups, '') AS groups,
                coalesce(og.n_groups, 0) AS n_groups,
                ${tagPipelineSql("coalesce(og.type_csv, '')")} AS tags,
                strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S') AS created_iso,
                CAST(o_custkey AS VARCHAR) AS extras_kodas
         FROM orders
         LEFT JOIN (SELECT * FROM customer WHERE c_custkey % 2 = 0) c
           ON o_custkey = c_custkey
         LEFT JOIN nation ON c_nationkey = n_nationkey
         LEFT JOIN region ON n_regionkey = r_regionkey
         LEFT JOIN og ON o_orderkey = og.l_orderkey
         ORDER BY o_orderkey""",
    // q_p4_package_doc: DuckDB's compact to_json matches json_project /
    // Spark's to_json byte-for-byte on this document shape (same member
    // order via struct_pack, same escaping; every field non-null, so the
    // engines' null-member disagreement never fires).
    "q_p4_package_doc" -> s"""
         WITH og AS (
           SELECT l_orderkey,
                  list_sort(list(DISTINCT p_name)) AS group_list,
                  array_to_string(list_sort(list(DISTINCT p_type)), ',') AS type_csv
           FROM lineitem JOIN part ON l_partkey = p_partkey
           GROUP BY l_orderkey)
         SELECT o_orderkey,
                to_json(struct_pack(
                  name := ${slugSql("coalesce(c_name, 'Unknown User') || ' ' || o_orderkey")},
                  maintainer := coalesce(c_name, 'Unknown User'),
                  owner_org := coalesce(n_name, 'Unknown organization'),
                  tags := ${tagPipelineListSql("coalesce(og.type_csv, '')")},
                  groups := coalesce(og.group_list, CAST([] AS VARCHAR[])),
                  extras := [
                    struct_pack(key := 'Šaltinis', value := 'IVPK IRS'),
                    struct_pack(key := 'Kodas', value := CAST(o_custkey AS VARCHAR))],
                  metadata_created := strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S')
                )) AS package_json
         FROM orders
         LEFT JOIN (SELECT * FROM customer WHERE c_custkey % 2 = 0) c
           ON o_custkey = c_custkey
         LEFT JOIN nation ON c_nationkey = n_nationkey
         LEFT JOIN og ON o_orderkey = og.l_orderkey
         ORDER BY o_orderkey""",
    "q_k3_merge_actions" ->
      """SELECT key, action FROM (
           SELECT coalesce(s_key, t_key) AS key,
                  CASE WHEN t_key IS NULL THEN 'create'
                       WHEN s_key IS NULL AND t_key % 2 = 0 THEN 'delete'
                       WHEN s_key IS NULL THEN 'noop'
                       WHEN s_priority <> t_priority THEN 'update'
                       ELSE 'noop' END AS action
           FROM (SELECT o_orderkey AS s_key, o_orderpriority AS s_priority
                 FROM orders WHERE o_orderstatus = 'F') source
           FULL OUTER JOIN
                (SELECT o_orderkey AS t_key,
                        CASE WHEN o_orderkey % 9 = 0 THEN '0-MUTATED'
                             ELSE o_orderpriority END AS t_priority
                 FROM orders WHERE o_orderkey % 3 = 0) target
             ON s_key = t_key)
         WHERE action <> 'noop' ORDER BY key""",
    // per-object import errors (mirrors SyncPipeline.syncErrors): the
    // Spark side finds parse errors by actually failing to parse the
    // half-truncated JSON payload; the oracle derives the same set
    // ANALYTICALLY from the corruption moduli (a proper prefix of a flat
    // JSON object is never valid JSON, so truncated ⟺ unparseable).
    // missing_guid wins when both corruptions hit one object — CASE order
    // mirrors the Spark when() chain.
    "q_sync_errors" -> s"""
         SELECT o_orderkey AS obj_id,
                CASE WHEN o_orderkey % ${SyncPipeline.CorruptGuidMod} = 0
                       THEN 'missing_guid'
                     WHEN o_orderkey % ${SyncPipeline.CorruptTruncMod} = 0
                       THEN 'parse_error' END AS error
         FROM orders
         WHERE o_orderstatus = 'F'
           AND (o_orderkey % ${SyncPipeline.CorruptGuidMod} = 0
             OR o_orderkey % ${SyncPipeline.CorruptTruncMod} = 0)
         ORDER BY obj_id""",
    "q_member_edges" ->
      """SELECT DISTINCT
                coalesce(c_name, 'Unknown User') AS owner_name,
                coalesce(n_name, 'Unknown organization') AS org_name,
                'editor' AS role
         FROM orders
         LEFT JOIN (SELECT * FROM customer WHERE c_custkey % 2 = 0) c
           ON o_custkey = c_custkey
         LEFT JOIN nation ON c_nationkey = n_nationkey
         ORDER BY owner_name, org_name""",
    // fixed-point integer PageRank (mirrors GraphOps.pageRank): the same
    // BIGINT div recurrence unrolled as one chained CTE per iteration —
    // generated from GraphOps.PrIters so Spark and the oracle can never
    // disagree on the iteration count
    "q_pagerank" -> {
      import graft.ops.GraphOps.{PrDampDen, PrDampNum, PrIters, PrScale}
      val base = s"($PrDampDen - $PrDampNum) * ($PrScale // nn.n) // $PrDampDen"
      val steps = (1 to PrIters).map { k =>
        s"""c$k AS (SELECT e.dst,
                   CAST(sum(($PrDampNum * (p.pr // d.deg)) // $PrDampDen)
                     AS BIGINT) AS inflow
            FROM e JOIN d ON e.src = d.src
                   JOIN p${k - 1} p ON e.src = p.node
            GROUP BY e.dst),
         p$k AS (SELECT p.node, $base + COALESCE(c.inflow, 0) AS pr
            FROM p0 p CROSS JOIN nn LEFT JOIN c$k c ON p.node = c.dst)"""
      }.mkString(",\n         ")
      s"""
         WITH m AS (SELECT DISTINCT
                'u:' || coalesce(c_name, 'Unknown User') AS src,
                'g:' || coalesce(n_name, 'Unknown organization') AS dst
           FROM orders
           LEFT JOIN (SELECT * FROM customer WHERE c_custkey % 2 = 0) c
             ON o_custkey = c_custkey
           LEFT JOIN nation ON c_nationkey = n_nationkey),
         e AS (SELECT src, dst FROM m
               UNION ALL SELECT dst AS src, src AS dst FROM m),
         d AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY src),
         nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
         p0 AS (SELECT d.src AS node, $PrScale // nn.n AS pr
                FROM d CROSS JOIN nn),
         $steps
         SELECT node, pr FROM p$PrIters ORDER BY node"""
    },
    "q_dedup_exact" ->
      """SELECT keep_id, n_copies FROM (
           SELECT min(doc_id) AS keep_id, count(*) AS n_copies
           FROM documents GROUP BY md5(text))
         ORDER BY keep_id""",
    // candidate enumeration via the shared-trigram inverted index — an
    // EVALUATION optimization of the same all-pairs predicate, not a
    // semantic change (the md5-hoist discipline): jac >= 0.5 > 0 requires
    // at least one shared trigram, so restricting the blocked pair join
    // to pairs sharing one loses nothing, while the naive join is
    // quadratic in the hot language (5.3 G pairs at sf5 vs Σ df² = 46 M
    // here; the rotated variants share ZERO trigrams by construction, so
    // the index also kills every cross-variant pair the lang+length
    // block admits). Deliberately WEAKER than the engine's rarest-first
    // df-ordered prefix filter — the oracle shares only the set-theory
    // triviality (intersection nonempty), none of the engine's pruning.
    "q_dedup_ngram" -> s"""
         WITH $shingledCte,
         ex AS (SELECT doc_id, lang, n_chars, unnest(grams) AS g FROM sh),
         cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
                  FROM ex x JOIN ex y
                    ON x.g = y.g AND x.lang = y.lang
                       AND x.doc_id < y.doc_id
                       AND abs(x.n_chars - y.n_chars) <= 30)
         SELECT a_id, b_id, jac FROM (
           SELECT c.a_id, c.b_id, ${jaccardSql("a.grams", "b.grams")} AS jac
           FROM cand c JOIN sh a ON c.a_id = a.doc_id
                       JOIN sh b ON c.b_id = b.doc_id)
         WHERE jac >= 0.5 ORDER BY a_id, b_id""",
    "q_dedup_minhash" -> s"""
         WITH $shingledCte, $minhashCtes,
         cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
                  FROM bands x JOIN bands y
                    ON x.band_idx = y.band_idx AND x.bkey = y.bkey
                       AND x.doc_id < y.doc_id)
         SELECT a_id, b_id, jac FROM (
           SELECT a_id, b_id, ${jaccardSql("ga.grams", "gb.grams")} AS jac
           FROM cand JOIN sh ga ON cand.a_id = ga.doc_id
                     JOIN sh gb ON cand.b_id = gb.doc_id)
         WHERE jac >= 0.5 ORDER BY a_id, b_id""",
    // MinHash-estimated Jaccard over the LSH candidates, scored against the
    // exact value (mirrors Dedup.minhashEstimate; shared minhashCtes)
    "q_minhash_est" -> s"""
         WITH $shingledCte, $minhashCtes,
         cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
                  FROM bands x JOIN bands y
                    ON x.band_idx = y.band_idx AND x.bkey = y.bkey
                       AND x.doc_id < y.doc_id),
         est AS (SELECT a_id, b_id,
                        list_sum(list_transform(range(1, ${Dedup.MinhashK + 1}),
                          i -> CASE WHEN sa.sig[i] = sb.sig[i]
                                    THEN 1 ELSE 0 END))::DOUBLE
                          / ${Dedup.MinhashK} AS est_jac
                 FROM cand JOIN sig sa ON cand.a_id = sa.doc_id
                           JOIN sig sb ON cand.b_id = sb.doc_id)
         SELECT e.a_id, e.b_id, e.est_jac,
                ${jaccardSql("ga.grams", "gb.grams")} AS jac,
                round(abs(e.est_jac - (${jaccardSql("ga.grams", "gb.grams")})), 6)
                  AS abs_err
         FROM est e JOIN sh ga ON e.a_id = ga.doc_id
                    JOIN sh gb ON e.b_id = gb.doc_id
         ORDER BY e.a_id, e.b_id""",
    // incremental dedup: delta (doc_id % 10 = 0) probed against the base
    // corpus via the band index, exact-verified (mirrors
    // Dedup.incrementalDedup; shared minhashCtes)
    "q_dedup_incremental" -> s"""
         WITH $shingledCte, $minhashCtes,
         cand AS (SELECT DISTINCT d.doc_id AS delta_id, b.doc_id AS base_id
                  FROM bands d JOIN bands b
                    ON d.band_idx = b.band_idx AND d.bkey = b.bkey
                  WHERE d.doc_id % ${Dedup.IncrementModulus} = 0
                    AND b.doc_id % ${Dedup.IncrementModulus} <> 0),
         dups AS (SELECT delta_id, count(*) AS n_dups
                  FROM cand JOIN sh ga ON cand.delta_id = ga.doc_id
                            JOIN sh gb ON cand.base_id = gb.doc_id
                  WHERE ${jaccardSql("ga.grams", "gb.grams")} >= ${Dedup.JaccardThreshold}
                  GROUP BY delta_id)
         SELECT t.doc_id, coalesce(d.n_dups, 0) AS n_dups,
                coalesce(d.n_dups, 0) = 0 AS keep
         FROM (SELECT doc_id FROM documents
               WHERE doc_id % ${Dedup.IncrementModulus} = 0) t
         LEFT JOIN dups d ON t.doc_id = d.delta_id
         ORDER BY t.doc_id""",
    "q_dedup_simhash" -> s"""
         WITH tk AS (SELECT doc_id, string_split_regex(text, '\\s+') AS toks
                     FROM documents)
         SELECT doc_id,
                CAST(list_sum(list_transform(range(0, 32), i ->
                  CASE WHEN list_sum(list_transform(toks, w ->
                         CASE WHEN (${hexIntSql("w")} >> i) & 1 = 1
                              THEN 1 ELSE -1 END)) > 0
                       THEN (1::BIGINT << i) ELSE 0 END)) AS BIGINT) AS simhash
         FROM tk ORDER BY doc_id""",
    "q_dedup_simhash_pairs" -> s"""
         WITH $simhashSkCtes
         SELECT a_id, b_id, hamming FROM (
           SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                  CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
           FROM sk a JOIN sk b ON a.lang = b.lang AND a.doc_id < b.doc_id)
         WHERE hamming <= 6 ORDER BY a_id, b_id""",
    // the 64-bit tier (mirrors Dedup.simhash64Pairs): the naive all-pairs
    // form over the wider fingerprint, two-halves encoding per the shared
    // simhash64SkCtes
    "q_dedup_simhash64_pairs" -> s"""
         WITH $simhash64SkCtes
         SELECT a_id, b_id, hamming FROM (
           SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                  CAST(bit_count(xor(a.sh_hi, b.sh_hi)) +
                       bit_count(xor(a.sh_lo, b.sh_lo)) AS INT) AS hamming
           FROM sk64 a JOIN sk64 b ON a.lang = b.lang AND a.doc_id < b.doc_id)
         WHERE hamming <= ${Dedup.Simhash64MaxHamming} ORDER BY a_id, b_id""",
    // the wide-key banding setting (blocks=6) has the IDENTICAL output
    // contract — combination banding is recall-exact at any block count —
    // so it shares the naive all-pairs oracle verbatim; a differential
    // failure here would mean the banding (not the pairing semantics)
    // broke
    "q_dedup_simhash64_wide" -> s"""
         WITH $simhash64SkCtes
         SELECT a_id, b_id, hamming FROM (
           SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                  CAST(bit_count(xor(a.sh_hi, b.sh_hi)) +
                       bit_count(xor(a.sh_lo, b.sh_lo)) AS INT) AS hamming
           FROM sk64 a JOIN sk64 b ON a.lang = b.lang AND a.doc_id < b.doc_id)
         WHERE hamming <= ${Dedup.Simhash64MaxHamming} ORDER BY a_id, b_id""",
    // the corpus-sized adaptive form — same width-invariant output, same
    // all-pairs oracle; a chooser bug could only surface as a plan-shape
    // regression (PlanSpec), never as a row difference
    "q_dedup_simhash64_auto" -> s"""
         WITH $simhash64SkCtes
         SELECT a_id, b_id, hamming FROM (
           SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                  CAST(bit_count(xor(a.sh_hi, b.sh_hi)) +
                       bit_count(xor(a.sh_lo, b.sh_lo)) AS INT) AS hamming
           FROM sk64 a JOIN sk64 b ON a.lang = b.lang AND a.doc_id < b.doc_id)
         WHERE hamming <= ${Dedup.Simhash64MaxHamming} ORDER BY a_id, b_id""",
    // components = min reachable doc_id over the (symmetrized) near-dup
    // pair graph; the oracle takes the full recursive closure, the Spark
    // side iterates min-label propagation to convergence — both are the
    // exact component minimum, so they agree regardless of method
    "q_dedup_components" -> s"""
         WITH RECURSIVE $simhash64SkCtes,
         $simhash64PairsCte,
         edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
                   UNION ALL SELECT b_id, a_id FROM pairs),
         reach(a, b) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src)
         SELECT a AS doc_id, min(b) AS component
         FROM reach GROUP BY a ORDER BY doc_id""",
    // one-row dedup-health summary over the SAME component fixpoint
    // (mirrors Dedup.dedupReport; shared recursive chain)
    "q_dedup_report" -> s"""
         WITH RECURSIVE $simhash64SkCtes,
         $simhash64PairsCte,
         edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
                   UNION ALL SELECT b_id, a_id FROM pairs),
         reach(a, b) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src),
         comp AS (SELECT a AS doc_id, min(b) AS component
                  FROM reach GROUP BY a),
         cl AS (SELECT component, CAST(count(*) AS BIGINT) AS csize
                FROM comp GROUP BY component)
         SELECT CAST(sum(csize) AS BIGINT) AS n_docs,
                CAST(sum(CASE WHEN csize > 1 THEN csize ELSE 0 END)
                  AS BIGINT) AS n_clustered_docs,
                CAST(count(CASE WHEN csize > 1 THEN 1 END) AS BIGINT)
                  AS n_clusters,
                CAST(sum(CASE WHEN csize > 1 THEN csize ELSE 0 END)
                   - count(CASE WHEN csize > 1 THEN 1 END) AS BIGINT)
                  AS dup_docs,
                (CAST(sum(CASE WHEN csize > 1 THEN csize ELSE 0 END)
                    - count(CASE WHEN csize > 1 THEN 1 END) AS BIGINT)
                   * 1000000) // CAST(sum(csize) AS BIGINT) AS dup_rate_ppm,
                CAST(max(csize) AS BIGINT) AS largest_cluster
         FROM cl""",
    "q_embed_topk" -> s"""
         WITH $embedScoredCtes
         SELECT q_id, CAST(rk AS INT) AS rk, vec_id, cos FROM (
           SELECT *, row_number() OVER (PARTITION BY q_id
                                        ORDER BY cos DESC, vec_id) AS rk
           FROM scored)
         WHERE rk <= 5 ORDER BY q_id, rk""",
    // two-stage retrieval: embedding candidates re-ranked by text overlap
    // (mirrors Similarity.retrieveRerank; shared embedScoredCtes)
    "q_retrieve_rerank" -> s"""
         WITH $shingledCte, $embedScoredCtes,
         cands AS (SELECT q_id, vec_id, cos FROM (
             SELECT *, row_number() OVER (PARTITION BY q_id
                                          ORDER BY cos DESC, vec_id) AS crk
             FROM scored)
           WHERE crk <= ${Similarity.RerankCandidates}),
         rr AS (SELECT q_id, vec_id, cos,
                       round(${jaccardSql("gq.grams", "gc.grams")}, 9) AS overlap
                FROM cands JOIN sh gq ON cands.q_id = gq.doc_id
                           JOIN sh gc ON cands.vec_id = gc.doc_id)
         SELECT q_id, CAST(rk AS INT) AS rk, vec_id, cos, overlap FROM (
           SELECT *, row_number() OVER (PARTITION BY q_id
                       ORDER BY overlap DESC, cos DESC, vec_id) AS rk
           FROM rr)
         WHERE rk <= ${Similarity.RerankTopK} ORDER BY q_id, rk""",
    // maximal-marginal-relevance diversified top-k: greedy rounds
    // unrolled as CTEs, each picking argmax(2*rel - max_sim_to_selected)
    // per query with (mmr DESC, vec_id) tie-break (mirrors
    // Similarity.mmrDiversify; shared embedScoredCtes)
    "q_retrieve_mmr" -> {
      val rounds = (2 to Similarity.MmrK).map { r =>
        val sel = (1 until r).map(i => s"SELECT q_id, vec_id FROM s$i")
          .mkString(" UNION ALL ")
        s"""s$r AS MATERIALIZED (
           SELECT q_id, $r AS rank, vec_id, rel, maxsim, mmr FROM (
             SELECT cnd.q_id, cnd.vec_id, cnd.rel, m.maxsim,
                    2 * cnd.rel - m.maxsim AS mmr,
                    row_number() OVER (PARTITION BY cnd.q_id
                      ORDER BY 2 * cnd.rel - m.maxsim DESC, cnd.vec_id) AS rn
             FROM cand cnd
             JOIN (SELECT p.q_id, p.a_id, max(p.sim) AS maxsim
                   FROM pairs p JOIN ($sel) sel
                     ON p.q_id = sel.q_id AND p.b_id = sel.vec_id
                   GROUP BY p.q_id, p.a_id) m
               ON cnd.q_id = m.q_id AND cnd.vec_id = m.a_id
             WHERE NOT EXISTS (SELECT 1 FROM ($sel) ex
                               WHERE ex.q_id = cnd.q_id
                                 AND ex.vec_id = cnd.vec_id))
           WHERE rn = 1)"""
      }.mkString(",\n         ")
      val all = (1 to Similarity.MmrK).map(i => s"SELECT * FROM s$i")
        .mkString(" UNION ALL ")
      s"""
         WITH $embedScoredCtes,
         cand AS MATERIALIZED (SELECT q_id, vec_id, cos AS rel FROM (
             SELECT *, row_number() OVER (PARTITION BY q_id
                         ORDER BY cos DESC, vec_id) AS crk
             FROM scored)
           WHERE crk <= ${Similarity.MmrCandidates}),
         pairs AS MATERIALIZED (
           SELECT a.q_id, a.vec_id AS a_id, b.vec_id AS b_id,
                  ${cosSql("ca.v", "cb.v")} AS sim
           FROM cand a JOIN cand b ON a.q_id = b.q_id
                                  AND a.vec_id <> b.vec_id
                JOIN c ca ON ca.vec_id = a.vec_id
                JOIN c cb ON cb.vec_id = b.vec_id),
         s1 AS MATERIALIZED (
           SELECT q_id, 1 AS rank, vec_id, rel, 0.0 AS maxsim,
                  2 * rel AS mmr FROM (
             SELECT *, row_number() OVER (PARTITION BY q_id
                         ORDER BY 2 * rel DESC, vec_id) AS rn
             FROM cand)
           WHERE rn = 1),
         $rounds
         SELECT q_id, CAST(rank AS INT) AS rank, vec_id, rel, maxsim, mmr
         FROM ($all) ORDER BY q_id, rank"""
    },
    // hybrid dense+sparse reciprocal-rank fusion: integer-ppm
    // 1000000 div (C + rank) summed over both rank lists, absent = 0
    // (mirrors Similarity.rrfFusion; shared shingledCte/embedScoredCtes)
    "q_retrieve_rrf" -> s"""
         WITH $shingledCte, $embedScoredCtes,
         d AS (SELECT q_id, vec_id AS doc_id, CAST(rn AS INT) AS d_rank
               FROM (SELECT *, row_number() OVER (PARTITION BY q_id
                       ORDER BY cos DESC, vec_id) AS rn
                     FROM scored)
               WHERE rn <= ${Similarity.RrfDepth}),
         qs AS (SELECT doc_id AS q_id, grams AS qg FROM sh
                WHERE doc_id < ${Similarity.NQueries}),
         sp0 AS (SELECT qs.q_id, sh.doc_id,
                        round(${jaccardSql("qg", "grams")}, 9) AS jw
                 FROM sh JOIN qs ON sh.doc_id <> qs.q_id),
         sp AS (SELECT q_id, doc_id, CAST(rn AS INT) AS s_rank
                FROM (SELECT *, row_number() OVER (PARTITION BY q_id
                        ORDER BY jw DESC, doc_id) AS rn
                      FROM sp0 WHERE jw > 0)
                WHERE rn <= ${Similarity.RrfDepth}),
         f AS (SELECT coalesce(d.q_id, sp.q_id) AS q_id,
                      coalesce(d.doc_id, sp.doc_id) AS doc_id,
                      d.d_rank AS dense_rank, sp.s_rank AS sparse_rank,
                      CAST(coalesce(1000000 // (${Similarity.RrfC} + d.d_rank), 0)
                         + coalesce(1000000 // (${Similarity.RrfC} + sp.s_rank), 0)
                        AS BIGINT) AS rrf_ppm
               FROM d FULL OUTER JOIN sp
                 ON d.q_id = sp.q_id AND d.doc_id = sp.doc_id)
         SELECT q_id, CAST(rn AS INT) AS rank, doc_id,
                dense_rank, sparse_rank, rrf_ppm
         FROM (SELECT *, row_number() OVER (PARTITION BY q_id
                 ORDER BY rrf_ppm DESC, doc_id) AS rn
               FROM f)
         WHERE rn <= ${Similarity.RrfTopK} ORDER BY q_id, rank""",
    // late-interaction maxsim: 4x16-dim sub-vector slices, score =
    // sum_i max_j cos(q_i, d_j) in fixed part order (mirrors
    // Similarity.maxSimLate)
    "q_retrieve_maxsim" -> {
      val partLen = 64 / Similarity.MaxSimParts
      def pt(v: String, p: Int) =
        s"list_slice($v, ${p * partLen + 1}, ${(p + 1) * partLen})"
      // zero-slice guard mirrors Similarity.maxSimLate's partCos: a
      // zero-norm sub-vector cosine is DEFINED as 0, not 0/0 = NaN
      def partCosSql(i: Int, j: Int) =
        s"""CASE WHEN sqrt(${dotSql(pt("qv", i), pt("qv", i))}) *
                      sqrt(${dotSql(pt("v", j), pt("v", j))}) = 0
                 THEN 0.0
                 ELSE ${cosSql(pt("qv", i), pt("v", j))} END"""
      val partMax = (0 until Similarity.MaxSimParts).map { i =>
        s"greatest(${(0 until Similarity.MaxSimParts).map(j =>
          partCosSql(i, j)).mkString(", ")})"
      }.mkString(" + ")
      s"""
         WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         q AS (SELECT vec_id AS q_id, v AS qv FROM c
               WHERE vec_id < ${Similarity.NQueries}),
         scored AS (SELECT q_id, vec_id,
                           $partMax AS maxsim,
                           ${cosSql("qv", "v")} AS cos
                    FROM c, q WHERE vec_id <> q_id)
         SELECT q_id, CAST(rn AS INT) AS rank, vec_id, maxsim, cos
         FROM (SELECT *, row_number() OVER (PARTITION BY q_id
                 ORDER BY maxsim DESC, vec_id) AS rn
               FROM scored)
         WHERE rn <= ${Similarity.MaxSimTopK} ORDER BY q_id, rank"""
    },
    "q_embed_ivf" -> s"""
         WITH c AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
         px AS (SELECT label, generate_subscripts(v, 1) AS pos, unnest(v) AS x FROM c),
         csum AS (SELECT label, pos,
                         CAST(sum(CAST(CAST(x AS VARCHAR) AS DECIMAL(38,10))) AS DOUBLE) AS cx
                  FROM px GROUP BY label, pos),
         cent AS (SELECT label AS c_label, list(cx ORDER BY pos) AS centroid
                  FROM csum GROUP BY label),
         q AS (SELECT vec_id AS q_id, v AS qv FROM c WHERE vec_id < ${Similarity.NQueries}),
         routed AS (SELECT q_id, qv, probe_label FROM (
             SELECT q.q_id, q.qv, cent.c_label AS probe_label,
                    row_number() OVER (PARTITION BY q.q_id ORDER BY
                      ${cosSql("q.qv", "cent.centroid")} DESC, cent.c_label) AS crk
             FROM q, cent)
           WHERE crk = 1),
         scored AS (SELECT q_id, probe_label, vec_id, ${cosSql("qv", "v")} AS cos
                    FROM routed JOIN c
                      ON c.label = routed.probe_label AND c.vec_id <> routed.q_id)
         SELECT q_id, probe_label, CAST(rk AS INT) AS rk, vec_id, cos FROM (
           SELECT *, row_number() OVER (PARTITION BY q_id
                                        ORDER BY cos DESC, vec_id) AS rk
           FROM scored)
         WHERE rk <= 3 ORDER BY q_id, rk""",
    "q_embed_ivf2" -> s"""
         WITH c AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
         s0 AS (SELECT CAST(vec_id AS INT) AS cid, v AS centroid FROM c
                WHERE vec_id < ${Similarity.KmeansK}),
         ${kmAssignCte("a1", "s0")},
         ${kmUpdateCte("s1", "a1")},
         ${kmAssignCte("a2", "s1")},
         ${kmUpdateCte("s2", "a2")},
         ${kmAssignCte("members", "s2")},
         q AS (SELECT vec_id AS q_id, v AS qv FROM c WHERE vec_id < ${Similarity.NQueries}),
         routed AS (SELECT q_id, qv, cid AS probe_cid FROM (
             SELECT q.q_id, q.qv, s2.cid,
                    row_number() OVER (PARTITION BY q.q_id
                      ORDER BY ${cosSql("q.qv", "s2.centroid")} DESC, s2.cid) AS crk
             FROM q, s2)
           WHERE crk <= ${Similarity.Probes}),
         scored AS (SELECT q_id, vec_id, ${cosSql("qv", "v")} AS cos
                    FROM routed JOIN members
                      ON members.cid = routed.probe_cid
                         AND members.vec_id <> routed.q_id)
         SELECT q_id, CAST(rk AS INT) AS rk, vec_id, cos FROM (
           SELECT *, row_number() OVER (PARTITION BY q_id
                                        ORDER BY cos DESC, vec_id) AS rk
           FROM scored)
         WHERE rk <= 3 ORDER BY q_id, rk""",
    // SemDeDup (mirrors Similarity.semDedup): the two-LEVEL membership
    // replay (hierMembersCtes — coarse Lloyd, per-cell fine Lloyd), then
    // within-cluster pairs at cosine ≥ threshold mark the larger vec_id
    // a duplicate
    "q_semdedup" -> s"""
         WITH $hierMembersCtes,
         dup AS (SELECT DISTINCT m1.vec_id
                 FROM members m1 JOIN members m2
                   ON m1.cid = m2.cid AND m2.vec_id < m1.vec_id
                      AND ${cosSql("m1.v", "m2.v")}
                          >= ${Similarity.SemDedupThreshold})
         SELECT m.vec_id, m.cid, (d.vec_id IS NULL) AS keep
         FROM members m LEFT JOIN dup d ON m.vec_id = d.vec_id
         ORDER BY m.vec_id""",
    // hard-negative mining (mirrors Similarity.hardNegatives): same
    // two-level cluster chain as q_semdedup; per vector the
    // highest-cosine co-member BELOW the near-dup threshold, smallest id
    // on ties (the row_number twin of Spark's struct-max)
    "q_embed_hardneg" -> s"""
         WITH $hierMembersCtes,
         pairs AS (SELECT m1.vec_id, m1.cid, m2.vec_id AS b_id,
                          ${cosSql("m1.v", "m2.v")} AS cos
                   FROM members m1 JOIN members m2
                     ON m1.cid = m2.cid AND m2.vec_id <> m1.vec_id),
         ranked AS (SELECT vec_id, cid, b_id, cos,
                           row_number() OVER (PARTITION BY vec_id
                             ORDER BY cos DESC, b_id ASC) AS rk
                    FROM pairs
                    WHERE cos < ${Similarity.SemDedupThreshold})
         SELECT vec_id, cid, b_id AS neg_id, cos AS neg_cos
         FROM ranked WHERE rk = 1
         ORDER BY vec_id""",
    // prototype-based pruning (mirrors Similarity.prototypePrune): same
    // two-level cluster chain, per-cluster exact-decimal centroid sums
    // (the VARCHAR-routed quantization, see kmUpdateCte), 9dp cosine
    // prototypicality, drop the top PrunePct% of every cluster (ties to
    // the smaller vec_id)
    "q_prototype_prune" -> s"""
         WITH $hierMembersCtes,
         pc AS (SELECT cid, list(cx ORDER BY pos) AS centroid FROM (
                  SELECT cid, pos,
                         CAST(sum(CAST(CAST(x AS VARCHAR)
                           AS DECIMAL(38,10))) AS DOUBLE) AS cx
                  FROM (SELECT cid, generate_subscripts(v, 1) AS pos,
                               unnest(v) AS x
                        FROM members)
                  GROUP BY cid, pos)
                GROUP BY cid),
         sz AS (SELECT cid, count(*) AS cnt FROM members GROUP BY cid),
         sc AS (SELECT m.vec_id, m.cid,
                       ${cosSql("m.v", "p.centroid")} AS proto
                FROM members m JOIN pc p ON m.cid = p.cid),
         rk AS (SELECT vec_id, cid, proto,
                       row_number() OVER (PARTITION BY cid
                         ORDER BY proto DESC, vec_id) AS rk
                FROM sc)
         SELECT r.vec_id, r.cid, r.proto,
                (r.rk > (s.cnt * ${Similarity.PrunePct}) // 100) AS keep
         FROM rk r JOIN sz s ON r.cid = s.cid
         ORDER BY r.vec_id""",
    // cluster-balanced diversity sampling (mirrors Similarity
    // .diversitySample): same two-level membership, per-cluster md5 rank,
    // at most DiversityQuota survivors per fine cluster
    "q_diversity_sample" -> s"""
         WITH $hierMembersCtes,
         rk AS (SELECT vec_id, cid,
                       row_number() OVER (PARTITION BY cid
                         ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
                         AS rk
                FROM members)
         SELECT vec_id, cid, CAST(rk AS INT) AS rk
         FROM rk WHERE rk <= ${Similarity.DiversityQuota}
         ORDER BY vec_id""",
    // semantic decontamination (mirrors Similarity.semanticDecontaminate):
    // candidate generation is the SHARED embedScoredCtes relation — max
    // 9dp cosine per non-eval vector against the eval set, ties to the
    // smallest eval id, keep below the SemDedup threshold
    "q_semantic_decon" -> s"""
         WITH $embedScoredCtes,
         px AS (SELECT vec_id, cos, q_id,
                       row_number() OVER (PARTITION BY vec_id
                         ORDER BY cos DESC, q_id ASC) AS rk
                FROM scored WHERE vec_id >= ${Similarity.NQueries})
         SELECT p.vec_id, c.label, p.cos AS eval_cos, p.q_id AS eval_id,
                (p.cos < ${Similarity.SemDedupThreshold}) AS keep
         FROM px p JOIN c ON p.vec_id = c.vec_id
         WHERE p.rk = 1 ORDER BY p.vec_id""",
    // product quantization (mirrors Similarity.pqQuantize): per-subspace
    // seed → one Lloyd refinement with exact-decimal means → reassign;
    // squared L2 via the dot identity rounded at 9dp before every argmin,
    // error = left-fold of per-subspace distances in subspace order
    // err as an exact DECIMAL(20,9) sum of the 9dp-rounded subspace
    // distances (the pqSearch discipline) — a double fold + round(…, 9)
    // left one sf5 vector on a boundary where the engines' round()
    // disagrees by 1 ulp of the 9th decimal
    "q_embed_pq" -> s"""
         WITH $pqTrainCtes,
         ${pqAssignCte("a2", "u1", ", d")},
         g AS (SELECT vec_id, list(code ORDER BY m) AS codes,
                      CAST(sum(CAST(d AS DECIMAL(20,9))) AS DOUBLE) AS err
               FROM a2 GROUP BY vec_id)
         SELECT vec_id, array_to_string(codes, ',') AS codes, err
         FROM g ORDER BY vec_id""",
    // ADC search over the PQ codes (mirrors Similarity.pqSearch): per-query
    // distance tables against the codebooks, approximate distance = the
    // DECIMAL sum of M table lookups on the stored codes
    "q_embed_pq_search" -> s"""
         WITH $pqTrainCtes,
         ${pqAssignCte("codes", "u1", "")},
         q AS (SELECT vec_id AS q_id, m, sv AS qsv FROM sub
               WHERE vec_id < ${Similarity.NQueries}),
         tbl AS (SELECT q_id, u1.m, u1.code, ${pqL2Sql("q.qsv", "u1.cb")} AS d
                 FROM q JOIN u1 ON q.m = u1.m),
         sc AS (SELECT tbl.q_id, codes.vec_id,
                       CAST(sum(CAST(d AS DECIMAL(20,9))) AS DOUBLE) AS adist
                FROM codes JOIN tbl
                  ON codes.m = tbl.m AND codes.code = tbl.code
                WHERE codes.vec_id <> tbl.q_id
                GROUP BY tbl.q_id, codes.vec_id)
         SELECT q_id, CAST(rk AS INT) AS rk, vec_id, adist FROM (
           SELECT *, row_number() OVER (PARTITION BY q_id
                       ORDER BY adist ASC, vec_id ASC) AS rk
           FROM sc)
         WHERE rk <= ${Similarity.PqTopK} ORDER BY q_id, rk""",
    // ADC shortlist -> exact cosine re-rank (mirrors
    // Similarity.pqSearchRerank): the shortlist CTEs are q_embed_pq_search's
    // with the wider 10-k cut; only shortlist rows touch the raw vectors
    "q_embed_pq_rerank" -> s"""
         WITH $pqTrainCtes,
         ${pqAssignCte("codes", "u1", "")},
         q AS (SELECT vec_id AS q_id, m, sv AS qsv FROM sub
               WHERE vec_id < ${Similarity.NQueries}),
         tbl AS (SELECT q_id, u1.m, u1.code, ${pqL2Sql("q.qsv", "u1.cb")} AS d
                 FROM q JOIN u1 ON q.m = u1.m),
         sc AS (SELECT tbl.q_id, codes.vec_id,
                       CAST(sum(CAST(d AS DECIMAL(20,9))) AS DOUBLE) AS adist
                FROM codes JOIN tbl
                  ON codes.m = tbl.m AND codes.code = tbl.code
                WHERE codes.vec_id <> tbl.q_id
                GROUP BY tbl.q_id, codes.vec_id),
         shortlist AS (SELECT q_id, vec_id, adist FROM (
             SELECT *, row_number() OVER (PARTITION BY q_id
                         ORDER BY adist ASC, vec_id ASC) AS ark
             FROM sc)
           WHERE ark <= ${Similarity.PqRerankCandidates}),
         base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         re AS (SELECT s.q_id, s.vec_id, s.adist,
                       ${cosSql("qb.v", "cb.v")} AS cos
                FROM shortlist s
                JOIN base cb ON cb.vec_id = s.vec_id
                JOIN base qb ON qb.vec_id = s.q_id)
         SELECT q_id, CAST(rk AS INT) AS rk, vec_id, cos, adist FROM (
           SELECT *, row_number() OVER (PARTITION BY q_id
                       ORDER BY cos DESC, vec_id ASC) AS rk
           FROM re)
         WHERE rk <= ${Similarity.PqTopK} ORDER BY q_id, rk""",
    // composed IVF x PQ (mirrors Similarity.ivfPqSearch): the q_embed_ivf2
    // k-means routing restricted to probed clusters MULTIPLIED by the
    // q_embed_pq_search ADC scan, then the exact re-rank on the shortlist;
    // the PQ chain's corpus CTE `c` feeds the k-means macros too
    "q_embed_ivfpq" -> s"""
         WITH $ivfpqChainCtes
         SELECT q_id, rk, vec_id, cos, adist FROM annres
         ORDER BY q_id, rk""",
    // retrieval-quality eval (mirrors Similarity.annEval): the IVFPQ
    // chain's annres vs an exact brute-force top-k over the SAME qv0
    // query set; recall@k and MRR cleared to exact x1e6 integers
    "q_ann_eval" -> s"""
         WITH $ivfpqChainCtes,
         exscored AS (SELECT qv0.q_id, c.vec_id,
                             ${cosSql("qv0.qv", "c.v")} AS cos
                      FROM c, qv0 WHERE c.vec_id <> qv0.q_id),
         exact3 AS (SELECT q_id, vec_id, CAST(rk AS BIGINT) AS ex_rk FROM (
             SELECT *, row_number() OVER (PARTITION BY q_id
                         ORDER BY cos DESC, vec_id) AS rk
             FROM exscored)
           WHERE rk <= ${Similarity.PqTopK}),
         hits AS (SELECT e.q_id, count(*)::BIGINT AS n_hits,
                         min(CASE WHEN e.ex_rk = 1
                                  THEN CAST(a.rk AS BIGINT) END) AS top1_ann_rk
                  FROM exact3 e JOIN annres a
                    ON a.q_id = e.q_id AND a.vec_id = e.vec_id
                  GROUP BY e.q_id)
         SELECT q.q_id, coalesce(h.n_hits, 0) AS n_hits,
                (1000000 * coalesce(h.n_hits, 0)) // ${Similarity.PqTopK}
                  AS recall_x1e6,
                coalesce(1000000 // h.top1_ann_rk, 0) AS mrr_x1e6
         FROM (SELECT DISTINCT q_id FROM exact3) q
         LEFT JOIN hits h ON q.q_id = h.q_id
         ORDER BY q.q_id""",
    // incremental IVFPQ maintenance (mirrors Similarity.ivfPqIncremental):
    // centroids and codebooks train on the BASE corpus only (vec_id %
    // IncrementModulus <> 0 — note the seeds therefore come from base
    // rows: fewer than KmeansK/PqK of them exist below the cutoffs, and
    // both engines inherit the same reduced seed sets), then the ORACLE
    // REBUILDS the merged index flat by assigning the FULL corpus against
    // those frozen base-trained params — merged-incremental ≡ rebuilt is
    // the ivm family's soundness proof (routing/encoding are row-local
    // pure functions of (vector, params), so base∪delta assignment
    // factors)
    "q_ivm_ivfpq" -> {
      val mod = graft.llm.Dedup.IncrementModulus
      val (m, sd, k) = (Similarity.PqM, Similarity.PqSub, Similarity.PqK)
      s"""
         WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         cb0 AS (SELECT * FROM c WHERE vec_id % $mod <> 0),
         sub AS (SELECT vec_id, m, v[m*$sd+1 : m*$sd+$sd] AS sv
                 FROM c, range(0, $m) r(m)),
         subb AS (SELECT * FROM sub WHERE vec_id % $mod <> 0),
         b0 AS (SELECT m, CAST(vec_id AS INT) AS code, sv AS cb
                FROM subb WHERE vec_id < $k),
         ${pqAssignCte("a1", "b0", ", sv", corpus = "subb")},
         ${pqUpdateCte("u1", "a1")},
         ${pqAssignCte("codes", "u1", "", corpus = "sub")},
         s0 AS (SELECT CAST(vec_id AS INT) AS cid, v AS centroid FROM cb0
                WHERE vec_id < ${Similarity.KmeansK}),
         ${kmAssignCte("ka1", "s0", corpus = "cb0")},
         ${kmUpdateCte("ks1", "ka1")},
         ${kmAssignCte("ka2", "ks1", corpus = "cb0")},
         ${kmUpdateCte("ks2", "ka2")},
         ${kmAssignCte("members", "ks2", corpus = "c")},
         g AS (SELECT vec_id, list(code ORDER BY m) AS cl
               FROM codes GROUP BY vec_id)
         SELECT mem.vec_id, mem.cid, array_to_string(g.cl, ',') AS codes
         FROM members mem JOIN g ON mem.vec_id = g.vec_id
         ORDER BY mem.vec_id"""
    },
    // every step is engine-exact double arithmetic: order-insensitive max,
    // floor on identical doubles, left-fold error from a 0.0 seed
    "q_embed_quantize" -> s"""
         WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         m AS (SELECT vec_id, v,
                 coalesce(list_max(list_transform(v, x -> abs(x))), 0.0) AS maxabs
               FROM c),
         s AS (SELECT vec_id, v,
                 CASE WHEN maxabs = 0 THEN 0.0 ELSE 127.0 / maxabs END AS scale
               FROM m),
         qz AS (SELECT vec_id, v, scale,
                 list_transform(v, x -> CASE WHEN scale = 0 THEN 0
                   ELSE CAST(floor(x * scale) AS INT) END) AS qv
                FROM s)
         SELECT vec_id, array_to_string(qv, ',') AS qv,
                round(list_reduce(list_concat([0.0],
                  list_transform(list_zip(v, qv), p ->
                    CASE WHEN scale = 0 THEN p[1] * p[1]
                         ELSE (p[1] - CAST(p[2] AS DOUBLE) / scale)
                            * (p[1] - CAST(p[2] AS DOUBLE) / scale) END)),
                  (a, b) -> a + b), 9) AS err
         FROM qz ORDER BY vec_id""",
    "q_embed_neardup" -> s"""
         WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         bk AS (SELECT vec_id, v,
                  (SELECT CAST(sum(CASE WHEN
                       list_reduce(list_transform(list_zip(v,
                         list_transform(range(0, 64), d ->
                           (${hexIntSql("p::VARCHAR || ':' || d::VARCHAR")}
                            / 2147483648.0 - 1.0))),
                         x -> x[1] * x[2]), (acc, y) -> acc + y) >= 0
                       THEN (1::BIGINT << p) ELSE 0 END) AS BIGINT)
                   FROM range(0, ${Similarity.HyperPlanes}) r(p)) AS bucket
                FROM c)
         SELECT a_id, b_id, cos FROM (
           SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                  ${cosSql("a.v", "b.v")} AS cos
           FROM bk a JOIN bk b
             ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
         WHERE cos >= 0.4 ORDER BY a_id, b_id""",
    // GPT-2-style pre-tokenization counts (mirrors TextAnalysis.preTokenize:
    // same lookahead-free pattern, balance text rebuilt from integer cents
    // so both engines format identical input)
    "q_text_pretok" -> {
      val pat = TextAnalysis.PretokPattern.replace("'", "''")
      s"""WITH b AS (SELECT c_custkey, c_name, c_mktsegment,
                       CAST(round(c_acctbal * 100) AS BIGINT) AS cents
                     FROM customer),
         t AS (SELECT c_custkey,
                 c_name || ' ' ||
                 (CASE WHEN cents < 0 THEN '-' ELSE '' END) ||
                 CAST(abs(cents) // 100 AS VARCHAR) || '.' ||
                 lpad(CAST(abs(cents) % 100 AS VARCHAR), 2, '0') ||
                 ' ' || c_mktsegment AS txt
               FROM b),
         p AS (SELECT c_custkey, txt,
                 regexp_extract_all(txt, '$pat') AS pieces
               FROM t)
         SELECT c_custkey, txt,
                CAST(len(pieces) AS INT) AS n_pretok,
                CAST(len(list_distinct(pieces)) AS INT) AS n_pretok_distinct,
                CAST(len(regexp_extract_all(txt, '${TextAnalysis.PretokNum}'))
                  AS INT) AS n_num,
                CAST(len(regexp_extract_all(txt, '${TextAnalysis.PretokSym}'))
                  AS INT) AS n_sym,
                round(len(pieces)::DOUBLE /
                  len(string_split_regex(txt, '\\s+'))::DOUBLE, 6)
                  AS pieces_per_ws
         FROM p ORDER BY c_custkey"""
    },
    "q_text_stats" ->
      """WITH tk AS (SELECT doc_id, text, string_split_regex(text, '\s+') AS toks
                     FROM documents)
         SELECT doc_id,
                CAST(len(toks) AS INT) AS n_tokens,
                CAST(len(list_distinct(toks)) AS INT) AS n_types,
                CAST(list_sum(list_transform(toks, w -> (length(w)+3) // 4)) AS BIGINT)
                  AS n_subwords,
                round(len(list_distinct(toks))::DOUBLE / len(toks)::DOUBLE, 6) AS ttr,
                round(len(list_filter(toks,
                        w -> list_contains(['the','a','of','and'], w)))::DOUBLE
                      / len(toks)::DOUBLE, 6) AS stop_ratio,
                CAST(len(regexp_extract_all(text, '\w+|[^\w\s]')) AS INT)
                  AS n_regex_tokens
         FROM tk ORDER BY doc_id""",
    "q_text_entropy" ->
      """WITH pos AS (SELECT doc_id, text, unnest(range(1, length(text)+1)) AS i
                      FROM documents WHERE length(text) > 0),
         hist AS (SELECT doc_id, substr(text, i::INT, 1) AS ch, count(*) AS n
                  FROM pos GROUP BY 1, 2),
         agg AS (SELECT doc_id, sum(n)::BIGINT AS nc, count(*) AS alpha,
                        max(n)::BIGINT AS top, sum(n*n)::BIGINT AS ssq
                 FROM hist GROUP BY 1)
         SELECT doc_id, nc::INT AS n_chars, alpha::INT AS alphabet,
                round(CAST(nc*nc AS DOUBLE) / CAST(ssq AS DOUBLE), 6)
                  AS eff_alphabet,
                round(CAST(top AS DOUBLE) / CAST(nc AS DOUBLE), 6)
                  AS top_char_ratio
         FROM agg ORDER BY doc_id""",
    "q_text_langid" -> s"""
         WITH $langidCtes
         SELECT doc_id, labeled_lang, pred_lang, score
         FROM lid ORDER BY doc_id""",
    // confusion matrix of the trigram detector vs the label, integer-ppm
    // class recall (mirrors TextAnalysis.langIdConfusion; shared
    // langidCtes)
    "q_langid_confusion" -> s"""
         WITH $langidCtes,
         cells AS (SELECT labeled_lang, pred_lang,
                          CAST(count(*) AS BIGINT) AS n
                   FROM lid GROUP BY 1, 2),
         tot AS (SELECT labeled_lang, CAST(sum(n) AS BIGINT) AS class_total
                 FROM cells GROUP BY labeled_lang)
         SELECT labeled_lang, pred_lang, n, class_total,
                labeled_lang = pred_lang AS is_correct,
                (n * 1000000) // class_total AS recall_ppm
         FROM cells JOIN tot USING (labeled_lang)
         ORDER BY labeled_lang, pred_lang""",
    "q_text_fingerprint" -> s"""
         WITH tk AS (SELECT doc_id, string_split_regex(text, '\\s+') AS toks
                     FROM documents)
         SELECT doc_id,
                list_reduce(
                  list_concat([0::BIGINT],
                    list_transform(toks, w -> ${hexIntSql("w")})),
                  (a, b) -> (a*31 + b) % 2147483647) AS fp
         FROM tk ORDER BY doc_id""",
    "q_sample_split" -> s"""
         SELECT doc_id, lang,
                CASE WHEN ${hexIntSql("'split:' || CAST(doc_id AS VARCHAR)")}
                          % 100 < 90
                     THEN 'train' ELSE 'val' END AS split
         FROM documents ORDER BY doc_id""",
    "q_text_quality" -> s"""
         WITH $qualityCtes
         SELECT doc_id, n_tokens, ttr, stop_ratio, mean_tok_len, verdict,
                verdict = 'kept' AS keep
         FROM qv ORDER BY doc_id""",
    // the full preprocessing chain composed: quality-kept docs → near-dup
    // components → smallest KEPT doc per cluster (the canonical
    // representative survives even when the cluster minimum was dropped by
    // quality) → deterministic split assignment
    "q_pipeline_preprocess" -> s"""
         WITH RECURSIVE $simhash64SkCtes,
         $simhash64PairsCte,
         edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
                   UNION ALL SELECT b_id, a_id FROM pairs),
         reach(a, b) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src),
         comp AS (SELECT a AS doc_id, min(b) AS component
                  FROM reach GROUP BY a),
         $qualityCtes,
         kept AS (SELECT doc_id FROM qv WHERE verdict = 'kept'),
         reps AS (SELECT min(k.doc_id) AS doc_id
                  FROM kept k JOIN comp ON k.doc_id = comp.doc_id
                  GROUP BY comp.component)
         SELECT r.doc_id, d.lang,
                CASE WHEN ${hexIntSql("'split:' || CAST(r.doc_id AS VARCHAR)")}
                          % 100 < 90
                     THEN 'train' ELSE 'val' END AS split
         FROM reps r JOIN documents d ON r.doc_id = d.doc_id
         ORDER BY r.doc_id""",
    // score = tf * N / df as a double division of exact integers — no
    // log-based idf, whose libm can differ by an ulp between engines
    "q_text_tfidf" ->
      """WITH tk AS (SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS term
                     FROM documents),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM tk GROUP BY 1, 2),
         dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tk GROUP BY 1),
         n AS (SELECT count(DISTINCT doc_id) AS n FROM documents)
         SELECT doc_id, CAST(rk AS INT) AS rk, term, score FROM (
           SELECT tf.doc_id, tf.term,
                  CAST(tf.tf * n.n AS DOUBLE) / CAST(dfreq.df AS DOUBLE) AS score,
                  row_number() OVER (PARTITION BY tf.doc_id ORDER BY
                    CAST(tf.tf * n.n AS DOUBLE) / CAST(dfreq.df AS DOUBLE) DESC,
                    tf.term) AS rk
           FROM tf JOIN dfreq USING (term), n)
         WHERE rk <= 3 ORDER BY doc_id, rk""",
    "q_bm25" -> bm25OracleSql,
    // the indexed probe computes THE SAME retrieval — one shared oracle
    // string is the strongest possible parity pin between the in-query
    // and the build-once/probe-many shapes
    "q_bm25_indexed" -> bm25OracleSql,
    "q_a7b_prefix_diff" ->
      """WITH g AS (
           SELECT l_orderkey, list_sort(list(DISTINCT p_name)) AS old_list
           FROM lineitem JOIN part ON l_partkey = p_partkey
           GROUP BY l_orderkey),
         m AS (
           SELECT l_orderkey AS n_orderkey,
                  CASE WHEN l_orderkey % 7 = 0
                       THEN list_concat(['MUTATED'], old_list[2:])
                       ELSE old_list[1:greatest(len(old_list) - 1, 1)]
                  END AS new_list
           FROM g)
         SELECT l_orderkey,
                array_to_string(new_list, '|') AS new_groups
         FROM g JOIN m ON l_orderkey = n_orderkey
         WHERE len(list_filter(
                 list_transform(range(1, least(len(old_list), len(new_list)) + 1),
                   i -> old_list[i] <> new_list[i]),
                 x -> x)) > 0
         ORDER BY l_orderkey""",
    "q_a7c_nested_diff" ->
      """WITH docs AS (
           SELECT o_orderkey,
                  CAST(o_custkey AS VARCHAR) AS old_seg,
                  o_orderpriority AS old_tag0, o_orderstatus AS old_tag1,
                  CASE WHEN o_orderkey % 11 = 0 THEN 'SEG-MUTATED'
                       ELSE CAST(o_custkey AS VARCHAR) END AS new_seg,
                  CASE WHEN o_orderkey % 13 = 0 THEN 'TAG-MUTATED'
                       ELSE o_orderpriority END AS new_tag0,
                  o_orderstatus AS new_tag1
           FROM orders)
         SELECT o_orderkey, new_seg
         FROM docs
         WHERE new_seg IS DISTINCT FROM old_seg
            OR new_tag0 IS DISTINCT FROM old_tag0
            OR new_tag1 IS DISTINCT FROM old_tag1
         ORDER BY o_orderkey""",
    // SCD2 history build (mirrors ChangeOps.scd2History): change-compress
    // by lag, interval-ize the survivors by lead — both windows on the
    // same (user, ts, event_id) order
    // SCD2 history (mirrors ChangeOps.scd2History): ordering and output in
    // shared-precision epoch micros — raw-timestamp ordering is the j9 trap
    "q_a7d_scd2" ->
      """WITH chg AS (
           SELECT user_id, event_type, epoch_us(ts) AS us, event_id,
                  lag(event_type) OVER
                    (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
                    AS prev
           FROM events),
         ver AS (
           SELECT user_id, event_id AS version_id, event_type,
                  us AS valid_from_us
           FROM chg
           WHERE prev IS NULL OR prev <> event_type)
         SELECT user_id, version_id, event_type, valid_from_us,
                lead(valid_from_us) OVER
                  (PARTITION BY user_id ORDER BY valid_from_us, version_id)
                  AS valid_to_us,
                lead(valid_from_us) OVER
                  (PARTITION BY user_id ORDER BY valid_from_us, version_id)
                  IS NULL AS is_current
         FROM ver
         ORDER BY user_id, valid_from_us, version_id""",
    "q_a10_quantiles" ->
      """SELECT o_orderpriority,
                round(quantile_cont(CAST(round(o_totalprice*100) AS BIGINT), 0.5), 4)
                  AS median_cents,
                round(quantile_cont(CAST(round(o_totalprice*100) AS BIGINT), 0.9), 4)
                  AS p90_cents
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q_a11_pivot" -> s"""
         SELECT o_orderstatus,
                ${CoreOps.Priorities.map(p =>
                  s"""CAST(sum(CASE WHEN o_orderpriority = '$p' THEN 1 ELSE 0 END)
                          AS BIGINT) AS "$p"""")
                  .mkString(",\n                ")}
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "q_a9_rollup" ->
      """SELECT coalesce(o_orderstatus, '(all)') AS status,
                coalesce(o_orderpriority, '(all)') AS priority,
                count(*) AS n_orders,
                CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT)
                  AS total_cents
         FROM orders
         GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
         ORDER BY status, priority""",
    "q_j8_asof" ->
      """WITH clicks AS (
           SELECT user_id, ts, max(event_id) AS click_event_id
           FROM events WHERE event_type = 'click' GROUP BY user_id, ts),
         errors AS (
           SELECT event_id, user_id, ts FROM events WHERE event_type = 'error')
         SELECT e.event_id, e.user_id, e.ts,
                coalesce(c.click_event_id, -1) AS click_event_id,
                coalesce(c.ts, TIMESTAMP '1970-01-01 00:00:00') AS click_ts
         FROM errors e ASOF LEFT JOIN clicks c
           ON e.user_id = c.user_id AND e.ts >= c.ts
         ORDER BY e.event_id""",
    // as-of with a match tolerance (mirrors AsofOps.asofClickTol): the
    // ASOF join plus a row-local freshness verdict in shared-precision
    // epoch micros
    "q_j8b_asof_tol" -> {
      import graft.ops.AsofOps.AsofTolMicros
      s"""WITH clicks AS (
           SELECT user_id, ts, max(event_id) AS click_event_id
           FROM events WHERE event_type = 'click' GROUP BY user_id, ts),
         errors AS (
           SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'),
         m AS (
           SELECT e.event_id, e.user_id, e.ts,
                  c.click_event_id, c.ts AS c_ts,
                  c.ts IS NOT NULL AND
                    epoch_us(e.ts) - epoch_us(c.ts) <= $AsofTolMicros
                    AS matched
           FROM errors e ASOF LEFT JOIN clicks c
             ON e.user_id = c.user_id AND e.ts >= c.ts)
         SELECT event_id, user_id, ts,
                coalesce(CASE WHEN matched THEN click_event_id END, -1)
                  AS click_event_id,
                coalesce(CASE WHEN matched THEN c_ts END,
                         TIMESTAMP '1970-01-01 00:00:00') AS click_ts,
                matched
         FROM m ORDER BY event_id"""
    },
    // value-range window frame: trailing 1 hour of event time per type
    // (mirrors CoreOps.w15RangeFrame)
    "q_w15_range_frame" -> rangeFrameOracle,
    // the bucketed rewrite answers the SAME question: one oracle string,
    // two physical plans — matching it is the decomposition's proof
    "q_skew_range_frame" -> rangeFrameOracle,
    // forward fill (mirrors AsofOps.gapFill): last non-null reading per
    // user stream, running frame — the same IGNORE NULLS window operator
    // in both engines
    "q_w6_gap_fill" ->
      """WITH src AS (
           SELECT event_id, user_id, ts,
                  CASE WHEN event_id % 3 = 0
                       THEN CAST(round(value * 100) AS BIGINT) END
                    AS reading_cents
           FROM events)
         SELECT event_id, user_id, ts, reading_cents,
                last_value(reading_cents IGNORE NULLS) OVER (
                  PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS filled_cents
         FROM src
         ORDER BY event_id""",
    // 5-row trailing moving aggregate (mirrors CoreOps.w7MovingAvg):
    // BIGINT frame sums; the average is one division of two exact ints
    "q_w7_moving_avg" -> rowsFrameOracle,
    // the bucketed rewrite answers the SAME SQL
    "q_skew_rows_frame" -> rowsFrameOracle,
    // epoch_us on both sides: Spark truncates the nanosecond source to
    // microseconds, DuckDB keeps nanos — comparing in shared-precision
    // micros makes the window-boundary semantics engine-exact
    "q_j9_interval" ->
      """WITH v AS (SELECT event_id AS view_id, user_id, epoch_us(ts) AS v_us
                    FROM events WHERE event_type = 'view'),
         c AS (SELECT event_id AS click_id, user_id AS c_user, epoch_us(ts) AS c_us
               FROM events WHERE event_type = 'click')
         SELECT view_id, click_id, user_id,
                (c_us - v_us) // 1000000 AS delay_s
         FROM v JOIN c
           ON user_id = c_user AND c_us > v_us AND c_us <= v_us + 600000000
         ORDER BY view_id, click_id""",
    "q_w4_sliding" ->
      """WITH w AS (
           SELECT unnest([
                    make_timestamp(CAST(floor(epoch(ts)/1800)*1800*1000000 AS BIGINT)),
                    make_timestamp(CAST((floor(epoch(ts)/1800)*1800 - 1800)*1000000 AS BIGINT))
                  ]) AS window_start,
                  event_type
           FROM events)
         SELECT window_start, event_type, count(*) AS n_events
         FROM w GROUP BY 1, 2 ORDER BY window_start, event_type""",
    "q_w2_tumbling" ->
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
                count(*) AS n_events,
                CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS value_cents
         FROM events GROUP BY 1, 2
         ORDER BY window_start, event_type""",
    "q_w3_sessionize" -> sessionizeOracle,
    // the skew-robust bucketed rewrite answers the SAME SQL — result
    // identity is the rewrite's correctness contract
    "q_skew_sessionize" -> sessionizeOracle,
    "q_mm_features" ->
      """SELECT doc_id,
                CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                md5(text) AS digest,
                CAST(n_chars % 640 AS INT) AS width,
                CAST(n_chars % 480 AS INT) AS height,
                'fake/rgb8' AS format
         FROM documents ORDER BY doc_id""",
    // the oracle RE-DERIVES every decoded field from the fixture's
    // generating arithmetic (format by doc_id%3, dimensions from n_chars,
    // +33 header bytes) without touching the container bytes — so the
    // Spark side's actual PNG/JPEG header parse is checked value-by-value
    "q_mm_decode" ->
      s"""SELECT doc_id,
                CASE CAST(doc_id % 3 AS INT)
                  WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'unknown'
                END AS format,
                CASE WHEN doc_id % 3 < 2 THEN CAST(n_chars % 640 AS INT) END AS width,
                CASE WHEN doc_id % 3 < 2 THEN CAST(n_chars % 480 AS INT) END AS height,
                CASE WHEN doc_id % 3 < 2 THEN CAST(8 AS INT) END AS bit_depth,
                CAST(octet_length(encode(text))
                     + CASE WHEN doc_id % 3 < 2
                            THEN ${graft.ops.MediaCodec.HeaderBytes} ELSE 0 END
                     AS BIGINT) AS n_bytes,
                CASE WHEN doc_id % 3 = 2 THEN
                  round(list_sum(list_transform(string_split(text, ''),
                          c -> unicode(c)))::DOUBLE
                        / octet_length(encode(text))::DOUBLE, 6)
                END AS mean_byte
         FROM documents ORDER BY doc_id""",
    // full pixel decode: the Spark side walks the RASTER of a real
    // ImageIO-encoded PNG (zlib inflate + scanline unfilter), while the
    // oracle recomputes every statistic from the generating arithmetic
    // (MultimodalOps.pxValue: sample(x,y) = (doc_id+x+y) % 256 on a
    // width×height grid from the doc_id moduli) — byte-exact because
    // 8-bit grayscale PNG is lossless
    "q_mm_pixels" -> {
      import graft.ops.MultimodalOps.{PxWidthMod, PxHeightMod}
      s"""
         WITH d AS (SELECT doc_id,
                           CAST(4 + doc_id % $PxWidthMod AS INT) AS width,
                           CAST(4 + doc_id % $PxHeightMod AS INT) AS height
                    FROM documents),
         g AS (SELECT a.x, b.y
               FROM range(0, ${4 + PxWidthMod - 1}) a(x),
                    range(0, ${4 + PxHeightMod - 1}) b(y))
         SELECT d.doc_id, d.width, d.height,
                CAST(count(*) AS BIGINT) AS n_px,
                CAST(min((d.doc_id + g.x + g.y) % 256) AS INT) AS min_px,
                CAST(max((d.doc_id + g.x + g.y) % 256) AS INT) AS max_px,
                CAST(sum((d.doc_id + g.x + g.y) % 256) AS BIGINT) AS sum_px
         FROM d JOIN g ON g.x < d.width AND g.y < d.height
         GROUP BY 1, 2, 3 ORDER BY doc_id"""
    },
    // the lossless (png) half oracles exact channel sums from the
    // generating arithmetic; the lossy (jpg) half is decode-then-assert —
    // the oracle pins decode_ok TRUE, computed Spark-side from the decoded
    // bytes, so a drifting decode hash-mismatches
    "q_mm_pixels_rgb" -> {
      import graft.ops.MultimodalOps.{PxRgbWidthMod, PxRgbHeightMod}
      s"""
         WITH d AS (SELECT doc_id,
                           CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpg' END AS fmt,
                           CAST(8 + doc_id % $PxRgbWidthMod AS INT) AS width,
                           CAST(8 + doc_id % $PxRgbHeightMod AS INT) AS height
                    FROM documents),
         g AS (SELECT a.x, b.y
               FROM range(0, ${8 + PxRgbWidthMod - 1}) a(x),
                    range(0, ${8 + PxRgbHeightMod - 1}) b(y)),
         s AS (SELECT d.doc_id, d.fmt, d.width, d.height,
                      CAST(count(*) AS BIGINT) AS n_px,
                      CAST(sum(d.doc_id % 200 + (g.x + g.y) % 32) AS BIGINT) AS sr,
                      CAST(sum((d.doc_id + 85) % 200 + (g.x + g.y) % 32) AS BIGINT) AS sg,
                      CAST(sum((d.doc_id + 170) % 200 + (g.x + g.y) % 32) AS BIGINT) AS sb
               FROM d JOIN g ON g.x < d.width AND g.y < d.height
               GROUP BY 1, 2, 3, 4)
         SELECT doc_id, fmt, width, height, n_px,
                CASE WHEN fmt = 'png' THEN sr END AS sum_r,
                CASE WHEN fmt = 'png' THEN sg END AS sum_g,
                CASE WHEN fmt = 'png' THEN sb END AS sum_b,
                TRUE AS decode_ok
         FROM s ORDER BY doc_id"""
    },
    // full WAVE/PCM decode: the Spark side chunk-walks a real RIFF
    // container written by the JDK's javax.sound WAVE encoder, while the
    // oracle recomputes every acoustic statistic from the generating
    // arithmetic (MultimodalOps.auSample: sample(i) = (id*31 + i*29) % 4097
    // - 2048 over an id-derived length and rate) — byte-exact because PCM
    // is lossless; zero_cross needs the lag window the image oracles don't
    "q_mm_audio" -> {
      import graft.ops.MultimodalOps.{AuLenBase, AuLenMod}
      s"""
         WITH d AS (SELECT doc_id,
                           CAST($AuLenBase + doc_id % $AuLenMod AS INT) AS n_samples,
                           CAST(8000 * (1 + doc_id % 3) AS INT) AS sample_rate
                    FROM documents),
         s AS (SELECT d.doc_id, d.n_samples, d.sample_rate, i.i,
                      CAST((d.doc_id * 31 + i.i * 29) % 4097 - 2048 AS INT) AS v
               FROM d JOIN range(0, ${AuLenBase + AuLenMod - 1}) i(i)
                 ON i.i < d.n_samples),
         z AS (SELECT doc_id, n_samples, sample_rate, v,
                      lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv
               FROM s)
         SELECT doc_id, sample_rate, n_samples,
                CAST(n_samples * 1000 // sample_rate AS INT) AS duration_ms,
                CAST(max(abs(v)) AS INT) AS peak_abs,
                CAST(sum(abs(v)) AS BIGINT) AS sum_abs,
                CAST(sum(CAST(v AS BIGINT) * v) AS BIGINT) AS sum_sq,
                CAST(sum(CASE WHEN pv IS NOT NULL AND (v < 0) <> (pv < 0)
                              THEN 1 ELSE 0 END) AS INT) AS zero_cross,
                TRUE AS decode_ok
         FROM z GROUP BY doc_id, sample_rate, n_samples ORDER BY doc_id"""
    },
    // real resize: decode → 2x2 floor-mean box filter → re-encode, stats
    // over the RESIZED raster; the oracle replays the same floor-mean on
    // the pxValue grid grouped by output block, and pins the lossless
    // re-encode round trip TRUE
    "q_mm_resize" -> {
      import graft.ops.MultimodalOps.{PxWidthMod, PxHeightMod}
      s"""
         WITH d AS (SELECT doc_id,
                           CAST(4 + doc_id % $PxWidthMod AS INT) AS in_w,
                           CAST(4 + doc_id % $PxHeightMod AS INT) AS in_h
                    FROM documents),
         g AS (SELECT a.x, b.y
               FROM range(0, ${4 + PxWidthMod - 1}) a(x),
                    range(0, ${4 + PxHeightMod - 1}) b(y)),
         px AS (SELECT d.doc_id, d.in_w, d.in_h,
                       g.x // 2 AS bx, g.y // 2 AS by,
                       (d.doc_id + g.x + g.y) % 256 AS v
                FROM d JOIN g ON g.x < d.in_w AND g.y < d.in_h),
         rp AS (SELECT doc_id, in_w, in_h, bx, by,
                       CAST(sum(v) // count(*) AS INT) AS rv
                FROM px GROUP BY 1, 2, 3, 4, 5)
         SELECT doc_id, in_w, in_h,
                CAST((in_w + 1) // 2 AS INT) AS out_w,
                CAST((in_h + 1) // 2 AS INT) AS out_h,
                CAST(sum(rv) AS BIGINT) AS sum_px,
                CAST(min(rv) AS INT) AS min_px,
                CAST(max(rv) AS INT) AS max_px,
                TRUE AS roundtrip_ok
         FROM rp GROUP BY doc_id, in_w, in_h ORDER BY doc_id"""
    },
    // text is ASCII, so byte-slicing the blob equals char-slicing the text
    "q_mm_frames" -> s"""
         WITH fr AS (
           SELECT doc_id,
                  CAST(ceil(octet_length(encode(text))::DOUBLE
                            / ${MultimodalOps.FrameBytes}) AS INT) AS n_frames,
                  unnest(range(0, ((octet_length(encode(text)) - 1)
                                   // ${MultimodalOps.FrameBytes}) + 1)) AS frame_idx,
                  text
           FROM documents)
         SELECT doc_id, n_frames, CAST(frame_idx AS INT) AS frame_idx,
                md5(substr(text, CAST(frame_idx * ${MultimodalOps.FrameBytes} + 1 AS INT),
                           ${MultimodalOps.FrameBytes})) AS frame_digest
         FROM fr WHERE frame_idx % 4 = 0 ORDER BY doc_id, frame_idx""",
    // real animated-GIF frame sampling: the Spark side cross-checks an
    // independent container walker against ImageIO's frame decode, while
    // the oracle replays the generating arithmetic over the
    // (doc × frame × pixel) grid — LZW over an identity 8-bit palette is
    // lossless, so frame stats, frame count and the GCE-delay duration
    // are all exact
    "q_mm_video" -> {
      import graft.ops.MultimodalOps.{VidFramesBase, VidFramesMod,
        VidWidthMod, VidHeightMod, VidSampleEvery}
      s"""
         WITH d AS (SELECT doc_id,
                           CAST($VidFramesBase + doc_id % $VidFramesMod AS INT) AS n_frames,
                           CAST(4 + doc_id % $VidWidthMod AS INT) AS width,
                           CAST(4 + doc_id % $VidHeightMod AS INT) AS height
                    FROM documents),
         dur AS (SELECT d.doc_id,
                        CAST(sum(1 + (d.doc_id + f.f) % 4) AS INT) AS duration_cs
                 FROM d JOIN range(0, ${VidFramesBase + VidFramesMod - 1}) f(f)
                   ON f.f < d.n_frames
                 GROUP BY 1),
         g AS (SELECT a.x, b.y
               FROM range(0, ${4 + VidWidthMod - 1}) a(x),
                    range(0, ${4 + VidHeightMod - 1}) b(y)),
         fr AS (SELECT d.doc_id, d.n_frames, d.width, d.height,
                       CAST(f.f AS INT) AS frame_idx
                FROM d JOIN range(0, ${VidFramesBase + VidFramesMod - 1}) f(f)
                  ON f.f < d.n_frames AND f.f % $VidSampleEvery = 0),
         px AS (SELECT fr.doc_id, fr.n_frames, fr.width, fr.height, fr.frame_idx,
                       (fr.doc_id + 7 * fr.frame_idx + g.x + g.y) % 256 AS v
                FROM fr JOIN g ON g.x < fr.width AND g.y < fr.height)
         SELECT px.doc_id, px.n_frames, dur.duration_cs, px.frame_idx,
                px.width, px.height,
                CAST(sum(px.v) AS BIGINT) AS sum_px,
                CAST(min(px.v) AS INT) AS min_px,
                CAST(max(px.v) AS INT) AS max_px,
                TRUE AS decode_ok
         FROM px JOIN dur ON dur.doc_id = px.doc_id
         GROUP BY px.doc_id, px.n_frames, dur.duration_cs, px.frame_idx,
                  px.width, px.height
         ORDER BY px.doc_id, px.frame_idx"""
    },
    "q_decontaminate" -> decontaminateOracle,
    // the bloom pre-filter is exact end-to-end (no false negatives by
    // construction, false positives killed by the verify join), so its
    // oracle IS decontaminate's — the SHARED string makes the claim
    // structurally true; the differential harness proves the accelerated
    // plan computes the same relation
    "q_bloom_decontaminate" -> decontaminateOracle,
    // composed curation chain: decontaminate -> survivor-calibrated cut ->
    // mixture -> split; every stage reuses its standalone operator's
    // shared CTEs/exprs (mirrors Curation.pipelineCurate)
    "q_pipeline_curate" -> s"""
         WITH $shingledCte, $decontaminateCtes, $modelScoreCtes,
         clean AS (SELECT c.doc_id
                   FROM corpus c LEFT JOIN hits h ON c.doc_id = h.doc_id
                   WHERE coalesce(h.n_hits, 0) = 0),
         survivors AS (SELECT sc.doc_id, sc.raw_score
                       FROM sc JOIN clean USING (doc_id)),
         thr AS (SELECT round(quantile_cont(raw_score,
                           ${TextAnalysis.CutPercentile}), 4) AS cutoff
                 FROM survivors),
         kept AS (SELECT s.doc_id, s.raw_score
                  FROM survivors s, thr WHERE s.raw_score >= thr.cutoff)
         SELECT k.doc_id, d.source, k.raw_score,
                CASE WHEN ${hexIntSql("'split:' || CAST(k.doc_id AS VARCHAR)")}
                          % 100 < 90
                     THEN 'train' ELSE 'val' END AS split
         FROM kept k JOIN documents d ON k.doc_id = d.doc_id
         WHERE regexp_matches(d.source, 'src[0-9]+')
           AND ${hexIntSql("'mix:' || k.doc_id")} % 100
               < (CAST(regexp_extract(d.source, 'src([0-9]+)', 1) AS INT) + 1) * 5
         ORDER BY k.doc_id""",
    "q_pii_redact" -> s"""
         WITH raw AS (
           SELECT c_custkey,
                  c_name || ' <' || lower(replace(c_name, '#', '.'))
                    || '@example.com> tel +3706' || lpad(c_custkey::VARCHAR, 7, '0')
                    || ' segment ' || c_mktsegment AS raw
           FROM customer)
         SELECT c_custkey, raw,
                regexp_replace(
                  regexp_replace(raw, '${Curation.EmailPattern}', '<EMAIL>', 'g'),
                  '${Curation.PhonePattern}', '<PHONE>', 'g') AS redacted
         FROM raw ORDER BY c_custkey""",
    // DSIR importance resampling (mirrors Curation.dsirWeights /
    // dsirSelect): hashed unigram+bigram bucket counts -> add-one-smoothed
    // quantized ratio table -> per-document exact-integer weight sum.
    // Every division is `//`-floor on non-negative BIGINTs, matching the
    // Spark side's `div` term for term.
    "q_dsir_weights" -> s"""
         WITH $dsirCtes
         SELECT doc_id, n_feats, weight, weight // n_feats AS avg_ratio
         FROM w ORDER BY doc_id""",
    "q_dsir_select" -> s"""
         WITH $dsirCtes,
         topw AS (SELECT doc_id, weight, weight // n_feats AS avg_ratio
                  FROM w ORDER BY avg_ratio DESC, doc_id
                  LIMIT ${Curation.DsirQuota})
         SELECT d.doc_id, d.lang, d.source, topw.weight, topw.avg_ratio
         FROM documents d JOIN topw ON d.doc_id = topw.doc_id
         ORDER BY topw.avg_ratio DESC, d.doc_id""",
    // text-corpus drift monitor (mirrors Curation.textDrift): new-batch
    // vs base hashed-feature distributions on the exact x1e9 grid
    "q_text_drift" -> s"""
         WITH ${featureBucketCtes(
           s"doc_id % ${graft.llm.Dedup.IncrementModulus} = 0")},
         nb AS (SELECT bucket, sum(cnt)::BIGINT AS n_base
                FROM fb WHERE NOT is_target GROUP BY 1),
         nn AS (SELECT bucket, sum(cnt)::BIGINT AS n_new
                FROM fb WHERE is_target GROUP BY 1),
         tot AS (SELECT sum(CASE WHEN NOT is_target THEN cnt ELSE 0 END)::BIGINT
                          AS base_tot,
                        sum(CASE WHEN is_target THEN cnt ELSE 0 END)::BIGINT
                          AS new_tot
                 FROM fb),
         j AS (SELECT coalesce(nb.bucket, nn.bucket) AS bucket,
                      coalesce(n_base, 0) AS n_base,
                      coalesce(n_new, 0) AS n_new
               FROM nb FULL OUTER JOIN nn ON nb.bucket = nn.bucket),
         p AS (SELECT bucket, n_base, n_new,
                      (${graft.llm.Curation.DsirProbScale} * n_base) // base_tot
                        AS pb_x1e9,
                      (${graft.llm.Curation.DsirProbScale} * n_new) // new_tot
                        AS pn_x1e9
               FROM j, tot)
         SELECT bucket, n_base, n_new, pb_x1e9, pn_x1e9,
                abs(pn_x1e9 - pb_x1e9) AS drift_x1e9
         FROM p ORDER BY drift_x1e9 DESC, bucket
         LIMIT ${graft.llm.Curation.DriftTopK}""",
    // CCNet LM-perplexity filter (mirrors Curation.lmScore/lmBuckets/
    // lmProfile): per-language bigram model on the trusted slice, exact
    // integer floor-log2 bit counts, per-language terciles.
    "q_lm_score" -> s"""
         WITH $lmCtes
         SELECT doc_id, lang, n_bigrams, sum_bits_q8, ce_milli_q8
         FROM lmscore ORDER BY doc_id""",
    "q_lm_buckets" -> s"""
         WITH $lmCtes
         SELECT doc_id, lang, ce_milli_q8, bucket
         FROM lmbucket ORDER BY doc_id""",
    "q_lm_profile" -> s"""
         WITH $lmCtes,
         tsz AS (SELECT doc_id, len(toks)::BIGINT AS n_toks FROM tk)
         SELECT b.lang, b.bucket, count(*)::BIGINT AS n_docs,
                sum(tsz.n_toks)::BIGINT AS tot_tokens,
                min(b.ce_milli_q8) AS min_ce, max(b.ce_milli_q8) AS max_ce
         FROM lmbucket b JOIN tsz USING (doc_id)
         GROUP BY 1, 2 ORDER BY 1, 2""",
    // budget-filled selection (mirrors Curation.tokenBudgetSelect): per
    // language, best-first documents until the token budget is covered
    "q_token_budget" -> s"""
         WITH $lmCtes,
         tsz AS (SELECT doc_id, len(toks)::BIGINT AS n_toks FROM tk),
         cum AS (SELECT s.doc_id, s.lang, s.ce_milli_q8, tsz.n_toks,
                        coalesce(sum(tsz.n_toks) OVER (PARTITION BY s.lang
                          ORDER BY s.ce_milli_q8, s.doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                          0)::BIGINT AS cum_before
                 FROM lmscore s JOIN tsz ON s.doc_id = tsz.doc_id)
         SELECT doc_id, lang, ce_milli_q8, n_toks,
                cum_before + n_toks AS cum_tokens
         FROM cum WHERE cum_before < ${Curation.LmTokenBudget}
         ORDER BY doc_id""",
    // composed quality pipeline (mirrors Curation.pipelineQuality):
    // decontaminate -> LM tercile keep -> budget fill, each stage the
    // SAME CTE text its standalone oracle uses (lmCtes; sh rebuilt from
    // the LM chain's tk so decontaminateCtes applies verbatim)
    "q_pipeline_quality" -> s"""
         WITH $lmCtes,
         sh AS (SELECT doc_id,
                       CASE WHEN len(toks) >= 3
                            THEN list_distinct(list_transform(
                                   range(1, len(toks) - 1),
                                   i -> toks[i] || ' ' || toks[i+1] || ' '
                                        || toks[i+2]))
                            ELSE [''] END AS grams
                FROM tk), $decontaminateCtes,
         adm AS (SELECT b.doc_id, b.lang, b.ce_milli_q8, tsz.n_toks
                 FROM lmbucket b
                 JOIN (SELECT doc_id, len(toks)::BIGINT AS n_toks FROM tk) tsz
                   ON b.doc_id = tsz.doc_id
                 JOIN corpus c ON b.doc_id = c.doc_id
                 LEFT JOIN hits h ON b.doc_id = h.doc_id
                 WHERE b.bucket <> 'tail' AND coalesce(h.n_hits, 0) = 0),
         fill AS (SELECT doc_id, lang, ce_milli_q8, n_toks,
                         coalesce(sum(n_toks) OVER (PARTITION BY lang
                           ORDER BY ce_milli_q8, doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                           0)::BIGINT AS cum_before
                  FROM adm)
         SELECT doc_id, lang, ce_milli_q8, n_toks,
                cum_before + n_toks AS cum_tokens
         FROM fill WHERE cum_before < ${Curation.LmTokenBudget}
         ORDER BY doc_id""",
    // RHO-style excess-surprise selection (mirrors Curation.lmExcess): the
    // SAME pool bigram stream scored under the trusted model (lmCtes'
    // c12/c1x/vx — ce_ref is lmscore's ce row for row) AND a pool-fitted
    // model (c12p/c1p/vp over the identical bgc slice); both bit counts on
    // the identical integer grid, top-quota by excess
    "q_lm_excess" -> s"""
         WITH $lmCtes,
         c12p AS MATERIALIZED (SELECT lang, w1, w2, count(*)::BIGINT AS c12p
                 FROM bgc WHERE source <> '${Curation.DsirTargetSource}'
                 GROUP BY 1, 2, 3),
         c1p AS MATERIALIZED (SELECT lang, w1, count(*)::BIGINT AS c1p
                FROM bgc WHERE source <> '${Curation.DsirTargetSource}'
                GROUP BY 1, 2),
         vp AS MATERIALIZED (SELECT lang, count(DISTINCT w)::BIGINT AS vp
               FROM (SELECT lang, unnest(toks) AS w FROM tk
                     WHERE source <> '${Curation.DsirTargetSource}')
               GROUP BY 1),
         ratx AS (SELECT bgc.doc_id, bgc.lang,
                    ${lmRatioSql("c12.c12", "c1x.c1", "vx.v")} AS rr,
                    ${lmRatioSql("c12p.c12p", "c1p.c1p", "vp.vp")} AS rs
                  FROM bgc
                  JOIN vx ON bgc.lang = vx.lang
                  JOIN vp ON bgc.lang = vp.lang
                  LEFT JOIN c12 ON bgc.lang = c12.lang AND bgc.w1 = c12.w1
                               AND bgc.w2 = c12.w2
                  LEFT JOIN c1x ON bgc.lang = c1x.lang AND bgc.w1 = c1x.w1
                  LEFT JOIN c12p ON bgc.lang = c12p.lang AND bgc.w1 = c12p.w1
                                AND bgc.w2 = c12p.w2
                  LEFT JOIN c1p ON bgc.lang = c1p.lang AND bgc.w1 = c1p.w1
                  WHERE bgc.source <> '${Curation.DsirTargetSource}'),
         bitsx AS (SELECT doc_id, lang,
                     ${lmBitsSql("rr")} AS br, ${lmBitsSql("rs")} AS bs
                   FROM ratx),
         ex AS (SELECT doc_id, lang, count(*)::BIGINT AS n_bigrams,
                       (sum(br)::BIGINT * 1000) // count(*)::BIGINT
                         AS ce_ref_milli_q8,
                       (sum(bs)::BIGINT * 1000) // count(*)::BIGINT
                         AS ce_self_milli_q8
                FROM bitsx GROUP BY 1, 2)
         SELECT doc_id, lang, n_bigrams, ce_ref_milli_q8, ce_self_milli_q8,
                ce_self_milli_q8 - ce_ref_milli_q8 AS excess_milli_q8
         FROM ex
         ORDER BY excess_milli_q8 DESC, doc_id
         LIMIT ${Curation.LmExcessQuota}""",
    // n-gram novelty vs the trusted slice (mirrors Curation.ngramNovelty):
    // distinct-shingle membership probe on the shared shingle definition,
    // ratio on the exact x1e6 grid
    "q_ngram_novelty" -> s"""
         WITH $shingledCte,
         ref AS (SELECT DISTINCT gram
                 FROM (SELECT unnest(grams) AS gram FROM sh
                       WHERE source = '${Curation.DsirTargetSource}')
                 WHERE gram <> ''),
         pg AS (SELECT doc_id, lang, unnest(grams) AS gram FROM sh
                WHERE source <> '${Curation.DsirTargetSource}'),
         nv AS (SELECT pg.doc_id, pg.lang, count(*)::BIGINT AS n_grams,
                       sum(CASE WHEN ref.gram IS NOT NULL
                                THEN 1 ELSE 0 END)::BIGINT AS n_known
                FROM pg LEFT JOIN ref ON pg.gram = ref.gram
                WHERE pg.gram <> ''
                GROUP BY 1, 2)
         SELECT doc_id, lang, n_grams, n_known,
                ((n_grams - n_known) * 1000000) // n_grams AS novelty_x1e6
         FROM nv ORDER BY doc_id""",
    "q_source_mix" -> s"""
         SELECT doc_id, source,
                CAST(${hexIntSql("'mix:' || doc_id")} % 100 AS INT) AS bucket,
                (CAST(regexp_extract(source, 'src([0-9]+)', 1) AS INT) + 1) * 5
                  AS rate_pct
         FROM documents
         WHERE regexp_matches(source, 'src[0-9]+')
           AND ${hexIntSql("'mix:' || doc_id")} % 100
               < (CAST(regexp_extract(source, 'src([0-9]+)', 1) AS INT) + 1) * 5
         ORDER BY doc_id""",
    // temperature-weighted mixture (mirrors Curation.sourceMixTemperature:
    // α=0.5 via sqrt — correctly rounded in both engines — and the keep
    // decision compared in integer basis points after rounding)
    "q_source_mix_temp" -> s"""
         WITH src AS (
           SELECT source, count(*)::BIGINT AS n_docs, sqrt(count(*)) AS w
           FROM documents WHERE regexp_matches(source, 'src[0-9]+')
           GROUP BY source),
         tot AS (SELECT sum(n_docs)::BIGINT AS n_total,
                        CAST(sum(CAST(CAST(w AS VARCHAR) AS DECIMAL(38,10))) AS DOUBLE)
                          AS w_sum
                 FROM src),
         rates AS (
           SELECT source, round(w / w_sum, 6) AS mix_weight,
                  CAST(round(least(1.0,
                    CAST(${Curation.MixTempBudgetFrac} AS DOUBLE)
                      * n_total * w / w_sum
                      / n_docs) * 10000) AS INT) AS keep_bp
           FROM src, tot)
         SELECT d.doc_id, d.source, r.mix_weight, r.keep_bp
         FROM documents d JOIN rates r ON d.source = r.source
         WHERE ${hexIntSql("'mixt:' || d.doc_id")} % 10000 < r.keep_bp
         ORDER BY d.doc_id""",
    // C4-style repeated-span removal: global first occurrence per span,
    // reassembly in original span order (mirrors Dedup.spanDedup)
    "q_dedup_spans" -> s"""
         WITH tk AS (SELECT doc_id, string_split_regex(text, '\\s+') AS toks
                     FROM documents),
         sp AS (SELECT doc_id,
                       list_transform(
                         range(0, greatest(CAST(ceil(len(toks) / ${Dedup.SpanTokens}.0) AS INT), 1)),
                         i -> array_to_string(
                           toks[i * ${Dedup.SpanTokens} + 1 : i * ${Dedup.SpanTokens} + ${Dedup.SpanTokens}], ' ')) AS spans
                FROM tk),
         ex AS (SELECT doc_id, unnest(spans) AS span,
                       unnest(range(0, len(spans))) AS idx
                FROM sp),
         kept AS (SELECT doc_id, idx, span,
                         row_number() OVER (PARTITION BY span
                                            ORDER BY doc_id, idx) AS rn
                  FROM ex),
         reb AS (SELECT doc_id, count(*) AS n_kept,
                        string_agg(span, ' ' ORDER BY idx) AS clean_text
                 FROM kept WHERE rn = 1 GROUP BY doc_id)
         SELECT t.doc_id, CAST(coalesce(r.n_kept, 0) AS INT) AS n_kept,
                coalesce(r.clean_text, '') AS clean_text
         FROM tk t LEFT JOIN reb r ON t.doc_id = r.doc_id
         ORDER BY t.doc_id""",
    // maximal duplicated token ranges (mirrors Dedup.substrRanges): the
    // shared substring replay, one row per island
    "q_dedup_substr_ranges" -> s"""
         WITH $substrCtes
         SELECT doc_id, start_tok, end_tok,
                CAST(end_tok - start_tok + 1 AS INT) AS len_toks
         FROM rg ORDER BY doc_id, start_tok""",
    // duplicated-range trim (mirrors Dedup.substrTrim): positions outside
    // every island survive; reassembly in token order
    "q_dedup_substr_trim" -> s"""
         WITH $substrCtes,
         px AS (SELECT doc_id, generate_subscripts(toks, 1) - 1 AS i,
                       unnest(toks) AS tok
                FROM tk),
         keep AS (SELECT p.doc_id, p.i, p.tok FROM px p
                  WHERE NOT EXISTS (SELECT 1 FROM rg r
                                    WHERE r.doc_id = p.doc_id
                                      AND p.i BETWEEN r.start_tok
                                        AND r.end_tok)),
         reb AS (SELECT doc_id, count(*) AS n_kept,
                        string_agg(tok, ' ' ORDER BY i) AS clean_text
                 FROM keep GROUP BY doc_id)
         SELECT t.doc_id, CAST(coalesce(r.n_kept, 0) AS INT) AS n_kept,
                coalesce(r.clean_text, '') AS clean_text
         FROM tk t LEFT JOIN reb r ON t.doc_id = r.doc_id
         ORDER BY t.doc_id""",
    // per-language duplication profile (mirrors Dedup.substrStats)
    "q_dedup_substr_stats" -> s"""
         WITH $substrCtes,
         dt AS (SELECT doc_id, count(*) AS n_ranges,
                       sum(end_tok - start_tok + 1) AS dup_toks
                FROM rg GROUP BY doc_id)
         SELECT t.lang, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(count(d.dup_toks) AS BIGINT) AS docs_affected,
                CAST(sum(coalesce(d.n_ranges, 0)) AS BIGINT) AS n_ranges,
                CAST(sum(coalesce(d.dup_toks, 0)) AS BIGINT) AS dup_tokens,
                CAST(sum(len(t.toks)) AS BIGINT) AS total_tokens,
                (CAST(sum(coalesce(d.dup_toks, 0)) AS BIGINT) * 1000000)
                  // CAST(sum(len(t.toks)) AS BIGINT) AS dup_rate_ppm
         FROM tk t LEFT JOIN dt d ON t.doc_id = d.doc_id
         GROUP BY t.lang ORDER BY t.lang""",
    // KMV sketch reproduced value-for-value: k smallest distinct 32-bit
    // md5 hashes per group + the estimate they imply (mirrors
    // Sketches.kmvDistinct / functions.KMinValues)
    // right-to-erasure cascade report: per-table erase/retain counts,
    // lineitems transitively through the erased orders (mirrors
    // PrivacyOps.erasurePropagation). Retain predicates are NULL-robust:
    // the Scala side splits with left_semi/left_anti, where a NULL FK
    // never matches (erase misses it) and anti KEEPS it (retain) — a bare
    // `NOT IN` would yield NULL on a NULL FK and silently drop the row
    // from retain, a latent engine mismatch even though the current
    // fixture's FKs are non-null.
    "q_privacy_erasure" -> {
      import graft.ops.PrivacyOps.ErasureModulus
      s"""
         WITH subj AS (SELECT c_custkey AS k FROM customer
                       WHERE c_custkey % $ErasureModulus = 0),
         eo AS (SELECT o_orderkey AS k FROM orders
                WHERE o_custkey IN (SELECT k FROM subj))
         SELECT tbl, action, n FROM (
           SELECT 'customer' AS tbl, 'erase' AS action,
                  CAST(count(*) AS BIGINT) AS n
           FROM customer WHERE c_custkey IN (SELECT k FROM subj)
           UNION ALL
           SELECT 'customer', 'retain', CAST(count(*) AS BIGINT)
           FROM customer WHERE c_custkey IS NULL
              OR c_custkey NOT IN (SELECT k FROM subj)
           UNION ALL
           SELECT 'orders', 'erase', CAST(count(*) AS BIGINT)
           FROM orders WHERE o_custkey IN (SELECT k FROM subj)
           UNION ALL
           SELECT 'orders', 'retain', CAST(count(*) AS BIGINT)
           FROM orders WHERE o_custkey IS NULL
              OR o_custkey NOT IN (SELECT k FROM subj)
           UNION ALL
           SELECT 'events', 'erase', CAST(count(*) AS BIGINT)
           FROM events WHERE user_id IN (SELECT k FROM subj)
           UNION ALL
           SELECT 'events', 'retain', CAST(count(*) AS BIGINT)
           FROM events WHERE user_id IS NULL
              OR user_id NOT IN (SELECT k FROM subj)
           UNION ALL
           SELECT 'lineitem', 'erase', CAST(count(*) AS BIGINT)
           FROM lineitem WHERE l_orderkey IN (SELECT k FROM eo)
           UNION ALL
           SELECT 'lineitem', 'retain', CAST(count(*) AS BIGINT)
           FROM lineitem WHERE l_orderkey IS NULL
              OR l_orderkey NOT IN (SELECT k FROM eo))
         ORDER BY tbl, action"""
    },
    // KMV-sketch IVM for distinct counts: the oracle REBUILDS the sketch
    // flat over base-union-delta — merged ≡ rebuilt is the kmvUnion
    // identity, the ivm family's proof shape (mirrors
    // IncrementalOps.ivmSketch)
    "q_ivm_sketch" -> s"""
         WITH hs AS (SELECT event_type,
                            ${hexIntSql("'kmv:' || user_id")} AS h,
                            user_id
                     FROM events),
         g AS (SELECT event_type,
                      list_sort(list(DISTINCT h))[1 : ${Sketches.KmvK}] AS kmv,
                      count(DISTINCT user_id) AS exact_distinct
               FROM hs GROUP BY event_type)
         SELECT event_type,
                CAST(len(kmv) AS INT) AS n_hashes,
                kmv[len(kmv)] AS max_hash,
                ${kmvEstSql("kmv")} AS est_distinct,
                exact_distinct
         FROM g ORDER BY event_type""",
    "q_sketch_distinct" -> s"""
         WITH hs AS (SELECT l_returnflag,
                            ${hexIntSql("'kmv:' || l_orderkey")} AS h,
                            l_orderkey
                     FROM lineitem),
         g AS (SELECT l_returnflag,
                      list_sort(list(DISTINCT h))[1 : ${Sketches.KmvK}] AS kmv,
                      count(DISTINCT l_orderkey) AS exact_distinct
               FROM hs GROUP BY l_returnflag)
         SELECT l_returnflag,
                CAST(len(kmv) AS INT) AS n_hashes,
                kmv[len(kmv)] AS max_hash,
                ${kmvEstSql("kmv")} AS est_distinct,
                exact_distinct
         FROM g ORDER BY l_returnflag""",
    // HLL register table reproduced value-for-value: bucket = top-6 hash
    // bits, register = max leftmost-1-bit rank of the 26-bit suffix; the
    // estimate derives from the INTEGER harmonic numerator s_num so both
    // engines divide the same exact values (mirrors Sketches.hllDistinct /
    // functions.HllRegisters)
    "q_sketch_hll" -> s"""
         WITH hs AS (SELECT l_returnflag,
                            ${hexIntSql("'hll:' || l_orderkey")} AS h,
                            l_orderkey
                     FROM lineitem),
         rk AS (SELECT l_returnflag,
                       h // ${1L << Sketches.HllW} AS bucket,
                       CASE WHEN h % ${1L << Sketches.HllW} = 0
                            THEN ${Sketches.HllMaxRank}
                            ELSE ${Sketches.HllMaxRank}
                                 - length(bin(h % ${1L << Sketches.HllW}))
                       END AS rank
                FROM hs),
         regs AS (SELECT l_returnflag, bucket, max(rank) AS r
                  FROM rk GROUP BY l_returnflag, bucket),
         grid AS (SELECT g.l_returnflag, b.bucket
                  FROM (SELECT DISTINCT l_returnflag FROM hs) g
                  CROSS JOIN (SELECT unnest(range(${Sketches.HllM})) AS bucket) b),
         fullr AS (SELECT grid.l_returnflag, grid.bucket,
                          COALESCE(regs.r, 0) AS r
                   FROM grid LEFT JOIN regs
                     ON grid.l_returnflag = regs.l_returnflag
                    AND grid.bucket = regs.bucket),
         agg AS (SELECT l_returnflag,
                        string_agg(CAST(r AS VARCHAR), ',' ORDER BY bucket)
                          AS registers_csv,
                        CAST(sum(CASE WHEN r = 0 THEN 1 ELSE 0 END) AS INT)
                          AS n_zero,
                        CAST(sum(CAST(1 AS BIGINT) << (${Sketches.HllMaxRank} - r))
                             AS BIGINT) AS s_num
                 FROM fullr GROUP BY l_returnflag),
         ex AS (SELECT l_returnflag,
                       count(DISTINCT l_orderkey) AS exact_distinct
                FROM hs GROUP BY l_returnflag)
         SELECT a.l_returnflag, registers_csv, n_zero, s_num,
                round(CAST(${Sketches.HllAlpha} AS DOUBLE)
                      * ${Sketches.HllM.toDouble * Sketches.HllM}
                      * ${(1L << Sketches.HllMaxRank).toDouble}
                      / CAST(s_num AS DOUBLE), 4) AS est_distinct,
                exact_distinct
         FROM agg a JOIN ex ON a.l_returnflag = ex.l_returnflag
         ORDER BY a.l_returnflag""",
    // count-min sketch reproduced value-for-value: every (row, bucket)
    // counter is an exact GROUP BY count, every probe estimate the min of
    // its d counters (mirrors Sketches.cmsTermFreq / functions.CmsSketch)
    "q_sketch_cms" -> s"""
         WITH tk AS (SELECT unnest(string_split_regex(text, '\\s+')) AS term
                     FROM documents),
         rows_ AS (SELECT unnest(range(${Sketches.CmsD})) AS i),
         cn AS (SELECT r.i,
                       ${hexIntSql("'cms' || r.i || ':' || term")}
                         % ${Sketches.CmsW} AS bucket,
                       CAST(count(*) AS BIGINT) AS c
                FROM tk CROSS JOIN rows_ r
                GROUP BY r.i, bucket),
         probe AS (SELECT term, CAST(count(*) AS BIGINT) AS exact_freq
                   FROM tk GROUP BY term
                   ORDER BY exact_freq DESC, term LIMIT ${Sketches.CmsProbeK}),
         est AS (SELECT p.term, p.exact_freq, min(c.c) AS est_freq
                 FROM probe p CROSS JOIN rows_ r
                 JOIN cn c ON c.i = r.i
                  AND c.bucket = ${hexIntSql("'cms' || r.i || ':' || p.term")}
                        % ${Sketches.CmsW}
                 GROUP BY p.term, p.exact_freq)
         SELECT term, est_freq, exact_freq,
                est_freq - exact_freq AS overcount
         FROM est ORDER BY term""",
    // heavy hitters FROM the sketch: whole vocabulary ranked by its
    // count-min estimate, top N by (est DESC, term) (mirrors
    // Sketches.cmsTopK; counter CTEs shared with q_sketch_cms)
    "q_sketch_cms_topk" -> s"""
         WITH tk AS (SELECT unnest(string_split_regex(text, '\\s+')) AS term
                     FROM documents),
         rows_ AS (SELECT unnest(range(${Sketches.CmsD})) AS i),
         cn AS (SELECT r.i,
                       ${hexIntSql("'cms' || r.i || ':' || term")}
                         % ${Sketches.CmsW} AS bucket,
                       CAST(count(*) AS BIGINT) AS c
                FROM tk CROSS JOIN rows_ r
                GROUP BY r.i, bucket),
         vocab AS (SELECT term, CAST(count(*) AS BIGINT) AS exact_freq
                   FROM tk GROUP BY term),
         est AS (SELECT v.term, v.exact_freq, min(c.c) AS est_freq
                 FROM vocab v CROSS JOIN rows_ r
                 JOIN cn c ON c.i = r.i
                  AND c.bucket = ${hexIntSql("'cms' || r.i || ':' || v.term")}
                        % ${Sketches.CmsW}
                 GROUP BY v.term, v.exact_freq)
         SELECT term, est_freq, exact_freq,
                est_freq - exact_freq AS overcount
         FROM est ORDER BY est_freq DESC, term LIMIT ${Sketches.CmsTopN}""",
    // KMV sketch algebra (mirrors Sketches.kmvOverlap): the k smallest of
    // two sketches' union IS the union's sketch (exact identity), so
    // union/intersection cardinalities answer from the sketches alone;
    // exact counterparts pin the error
    "q_sketch_overlap" -> {
      def est(kmv: String) = kmvEstSql(kmv)
      s"""
         WITH ha AS (SELECT DISTINCT ${hexIntSql("'kmv:' || o_custkey")} AS h
                     FROM orders),
         hb AS (SELECT DISTINCT ${hexIntSql("'kmv:' || c_custkey")} AS h
                FROM customer),
         ka AS (SELECT list_sort(list(h))[1 : ${Sketches.KmvK}] AS kmv_a FROM ha),
         kb AS (SELECT list_sort(list(h))[1 : ${Sketches.KmvK}] AS kmv_b FROM hb),
         ku AS (SELECT list_sort(list_distinct(list_concat(kmv_a, kmv_b)))
                         [1 : ${Sketches.KmvK}] AS kmv_u
                FROM ka, kb),
         ex AS (SELECT
             (SELECT count(DISTINCT o_custkey) FROM orders) AS exact_a,
             (SELECT count(DISTINCT c_custkey) FROM customer) AS exact_b,
             (SELECT count(DISTINCT o_custkey) FROM orders
              WHERE o_custkey IN (SELECT c_custkey FROM customer))
               AS exact_inter)
         SELECT ${est("kmv_a")} AS est_a,
                ${est("kmv_b")} AS est_b,
                ${est("kmv_u")} AS est_union,
                round(${est("kmv_a")} + ${est("kmv_b")} - ${est("kmv_u")}, 4)
                  AS est_inter,
                exact_a, exact_b,
                exact_a + exact_b - exact_inter AS exact_union,
                exact_inter
         FROM ka, kb, ku, ex"""
    },
    // one-pass table profile (mirrors ProfileOps.profileTable): per
    // column null count, min/max, KMV estimate + exact distinct —
    // generated from ProfileCols so the engines profile the same columns
    "q_profile_table" -> {
      import graft.ops.ProfileOps.ProfileCols
      val frameCte = """f AS (SELECT o_orderkey, o_custkey, o_orderpriority,
                   c_name, c_mktsegment
            FROM orders
            LEFT JOIN (SELECT c_custkey, c_name, c_mktsegment
                       FROM customer WHERE c_custkey % 2 = 0) c
              ON o_custkey = c_custkey)"""
      val parts = ProfileCols.map { c =>
        s"""SELECT a.column_name, a.n_rows, a.n_nulls, b.est_distinct,
                a.exact_distinct, a.min_val, a.max_val
         FROM (SELECT '$c' AS column_name,
                      CAST(count(*) AS BIGINT) AS n_rows,
                      CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_nulls,
                      count(DISTINCT $c) AS exact_distinct,
                      CAST(min($c) AS VARCHAR) AS min_val,
                      CAST(max($c) AS VARCHAR) AS max_val
               FROM f) a
         CROSS JOIN (
           SELECT ${kmvEstSql("kmv")} AS est_distinct
           FROM (SELECT list_sort(list(DISTINCT
                          ${hexIntSql(s"'kmv:' || $c")}))[1 : ${Sketches.KmvK}]
                          AS kmv
                 FROM f WHERE $c IS NOT NULL)) b"""
      }.mkString("\n         UNION ALL\n         ")
      s"""
         WITH $frameCte
         SELECT * FROM (
         $parts
         ) ORDER BY column_name"""
    },
    // sequence packing: exclusive per-(lang, shard) prefix sum of token
    // counts → per-shard bin namespace (mirrors Curation.packSequences)
    "q_pack_sequences" -> s"""
         SELECT doc_id, lang, n_tokens, shard,
                CAST(shard * ${Curation.PackShardBins}
                     + floor(start_tok / ${Curation.PackBudget}) AS BIGINT) AS bin,
                start_tok % ${Curation.PackBudget} AS bin_offset
         FROM (SELECT doc_id, lang, shard, n_tokens,
                      CAST(coalesce(sum(n_tokens)
                        OVER (PARTITION BY lang, shard ORDER BY doc_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tok
               FROM (SELECT doc_id, lang,
                            CAST(floor(doc_id / ${Curation.PackShardDocs}) AS BIGINT) AS shard,
                            CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS n_tokens
                     FROM documents))
         ORDER BY doc_id""",
    // stratified exact-quota sample: lowest salted-md5 ranks per language
    // (mirrors Curation.stratifiedSample)
    "q_sample_stratified" -> s"""
         SELECT doc_id, lang, CAST(rk AS INT) AS rk
         FROM (SELECT doc_id, lang,
                      row_number() OVER (PARTITION BY lang
                        ORDER BY ${hexIntSql("'strat:' || doc_id")}, doc_id) AS rk
               FROM documents)
         WHERE rk <= ${Curation.StratumQuota}
         ORDER BY doc_id""",
    // within-document n-gram repetition fractions (mirrors
    // TextAnalysis.repetition)
    "q_text_repetition" -> s"""
         WITH tk AS (SELECT doc_id, string_split_regex(text, '\\s+') AS toks
                     FROM documents),
         gr AS (SELECT doc_id,
                       CAST(len(toks) AS INT) AS n_tokens,
                       CASE WHEN len(toks) >= 2
                            THEN list_transform(range(1, len(toks)),
                                   i -> toks[i] || ' ' || toks[i+1])
                            ELSE [] END AS bi,
                       CASE WHEN len(toks) >= 3
                            THEN list_transform(range(1, len(toks) - 1),
                                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                            ELSE [] END AS tri
                FROM tk)
         SELECT doc_id, n_tokens,
                CASE WHEN len(bi) > 0
                     THEN round((len(bi) - len(list_distinct(bi)))::DOUBLE
                                / len(bi)::DOUBLE, 6)
                     ELSE 0.0 END AS dup_bigram_frac,
                CASE WHEN len(tri) > 0
                     THEN round((len(tri) - len(list_distinct(tri)))::DOUBLE
                                / len(tri)::DOUBLE, 6)
                     ELSE 0.0 END AS dup_trigram_frac,
                CASE WHEN len(tri) > 0
                     THEN round((len(tri) - len(list_distinct(tri)))::DOUBLE
                                / len(tri)::DOUBLE, 6)
                     ELSE 0.0 END <= ${TextAnalysis.DupTrigramMax} AS keep
         FROM gr ORDER BY doc_id""",
    // corpus vocabulary: top terms by global frequency, alphabetical
    // tie-break (mirrors TextAnalysis.vocabulary)
    "q_vocab_top" -> s"""
         SELECT term, count(*) AS freq
         FROM (SELECT unnest(string_split_regex(text, '\\s+')) AS term
               FROM documents)
         GROUP BY term
         ORDER BY freq DESC, term
         LIMIT ${TextAnalysis.VocabTopN}""",
    // Morton z-key over (customer, order day): the oracle replays the same
    // literal mask chain via ZOrderOps.zvalueSql — one definition site
    "q_zorder_key" -> s"""
         SELECT o_orderkey, x, y,
                ${ZOrderOps.zvalueSql("x", "y")} AS z
         FROM (SELECT o_orderkey,
                      o_custkey % ${1L << ZOrderOps.DimBits} AS x,
                      CAST(datediff('day', DATE '1992-01-01', o_orderdate)
                           % ${1 << ZOrderOps.DimBits} AS BIGINT) AS y
               FROM orders)
         ORDER BY o_orderkey""",
    // hashed-feature linear quality scoring: the md5-derived stand-in
    // weight vector is inlined as a literal on BOTH engines from the ONE
    // Scala definition (mirrors TextAnalysis.modelQualityScore)
    "q_quality_model" -> s"""
         WITH $modelScoreCtes
         SELECT doc_id, n_tokens, raw_score,
                round(raw_score::DOUBLE / n_tokens, 6) AS score,
                raw_score > 0 AS keep
         FROM sc ORDER BY doc_id""",
    // batch-perceptron training trajectory: epoch-unrolled integer
    // updates w += sum_miss y*x from w = 0 (mirrors
    // Training.perceptronTrain; label/features from trainFeatureCtes)
    "q_model_perceptron" -> {
      val names = graft.llm.Training.FeatureNames
      val epochs = (1 to graft.llm.Training.Epochs).map { r =>
        s"SELECT $r AS epoch, n_miss, ${
          names.map(f => s"w_$f AS w${f.drop(1)}").mkString(", ")} FROM e$r"
      }.mkString("\n         UNION ALL ")
      s"""
         WITH $trainFeatureCtes,
         $perceptronCtes
         $epochs
         ORDER BY epoch"""
    },
    // precision/recall/F1 sweep of the hashed model score against the
    // distilled gate label, one point per distinct score, integer ppm
    // ratios (mirrors Training.prCurve)
    "q_model_pr_curve" -> s"""
         WITH $modelScoreCtes, $trainFeatureCtes,
         j AS (SELECT sc.raw_score,
                      CASE WHEN lbl.y > 0 THEN 1 ELSE 0 END AS pos
               FROM sc JOIN lbl USING (doc_id)),
         g AS (SELECT raw_score, count(*) AS n, sum(pos) AS np
               FROM j GROUP BY raw_score),
         c AS (SELECT raw_score,
                  CAST(sum(n) OVER (ORDER BY raw_score DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS k,
                  CAST(sum(np) OVER (ORDER BY raw_score DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS tp,
                  CAST(sum(np) OVER () AS BIGINT) AS p
               FROM g)
         SELECT raw_score AS thr, k, tp, k - tp AS fp,
                (tp * ${graft.llm.Training.Ppm}) // k AS precision_ppm,
                (tp * ${graft.llm.Training.Ppm}) // p AS recall_ppm,
                (tp * 2 * ${graft.llm.Training.Ppm}) // (k + p) AS f1_ppm
         FROM c ORDER BY thr DESC""",
    // token-budget curation: admit by descending score until the budget
    // line, boundary bucket in doc_id order; cumulative walk over the
    // distinct-score aggregate (mirrors Curation.curateBudget; shared
    // modelScoreCtes)
    "q_curate_budget" -> s"""
         WITH $modelScoreCtes,
         g AS (SELECT raw_score, CAST(sum(n_tokens) AS BIGINT) AS btoks
               FROM sc GROUP BY raw_score),
         c AS (SELECT raw_score,
                  CAST(sum(btoks) OVER (ORDER BY raw_score DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    - btoks AS BIGINT) AS cum_before
               FROM g),
         w AS (SELECT sc.doc_id, sc.raw_score, sc.n_tokens, c.cum_before,
                  CAST(sum(sc.n_tokens) OVER (PARTITION BY sc.raw_score
                    ORDER BY sc.doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS within_cum
               FROM sc JOIN c USING (raw_score))
         SELECT doc_id, raw_score, n_tokens,
                cum_before + within_cum AS cum_tokens,
                cum_before + within_cum <= ${Curation.CurateBudgetTokens}
                  AS keep
         FROM w ORDER BY doc_id""",
    // distribution-calibrated quality cut: P25 of the raw model score as a
    // scalar, broadcast back as the keep verdict (mirrors
    // TextAnalysis.calibratedQualityCut; scoring CTE is q_quality_model's)
    "q_quality_cut" -> s"""
         WITH $modelScoreCtes,
         thr AS (SELECT round(quantile_cont(raw_score, ${TextAnalysis.CutPercentile}), 4)
                          AS cutoff
                 FROM sc)
         SELECT doc_id, raw_score, cutoff, raw_score >= cutoff AS keep
         FROM sc, thr ORDER BY doc_id""",
    // sketch-calibrated cut: Spark's approx_percentile at this accuracy is
    // rank-exact (count/accuracy < 1), returning the element at rank
    // ceil(q*n) — the same element DuckDB's quantile_disc picks for q=0.25
    // (mirrors TextAnalysis.approxQualityCut; scoring CTE is
    // q_quality_model's)
    "q_quality_cut_approx" -> s"""
         WITH $modelScoreCtes,
         thr AS (SELECT quantile_disc(raw_score, ${TextAnalysis.CutPercentile})
                          AS cutoff
                 FROM sc)
         SELECT doc_id, raw_score, cutoff, raw_score >= cutoff AS keep
         FROM sc, thr ORDER BY doc_id""",
    // BPE merge-candidate counts: adjacent char pairs over the distinct
    // vocabulary, weighted by word frequency (mirrors TextAnalysis.bpePairs)
    "q_bpe_pairs" -> s"""
         WITH $bpeCtes
         SELECT pair, CAST(sum(freq) AS BIGINT) AS weight
         FROM pr GROUP BY pair
         ORDER BY weight DESC, pair
         LIMIT ${TextAnalysis.BpeTopN}""",
    // one BPE merge applied to the vocabulary (mirrors
    // TextAnalysis.bpeMergeStep: greedy left-to-right non-overlapping —
    // replace()'s contract in both engines — merged symbols uppercased)
    "q_bpe_merge" -> s"""
         WITH $bpeCtes,
         top AS (SELECT pair FROM (
             SELECT pair, CAST(sum(freq) AS BIGINT) AS weight
             FROM pr GROUP BY pair
             ORDER BY weight DESC, pair LIMIT 1))
         SELECT term, CAST(freq AS BIGINT) AS freq, pair,
                CAST((length(term) - length(replace(term, pair, ''))) / 2
                  AS INT) AS n_merges,
                replace(term, pair, upper(pair)) AS merged
         FROM vocab, top
         ORDER BY freq DESC, term
         LIMIT ${TextAnalysis.VocabTopN}""",
    // OOV rate vs the top-K vocabulary (mirrors TextAnalysis.oovRate):
    // membership against the same ranked-cut vocabulary, share in exact
    // integer basis points
    "q_text_oov" -> s"""
         WITH tk AS (SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS term
                     FROM documents),
         voc AS (SELECT term FROM (
                   SELECT term, count(*) AS freq FROM tk GROUP BY term
                   ORDER BY freq DESC, term LIMIT ${TextAnalysis.OovVocabK})),
         j AS (SELECT t.doc_id, t.term, (v.term IS NOT NULL) AS in_vocab
               FROM tk t LEFT JOIN voc v ON t.term = v.term)
         SELECT doc_id,
                CAST(count(*) AS BIGINT) AS n_tokens,
                CAST(sum(CASE WHEN in_vocab THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_in_vocab,
                CAST((CAST(count(*) AS BIGINT)
                      - CAST(sum(CASE WHEN in_vocab THEN 1 ELSE 0 END) AS BIGINT))
                     * 10000
                     // CAST(count(*) AS BIGINT) AS INT) AS oov_bp
         FROM j GROUP BY doc_id
         ORDER BY doc_id""",
    // the learned merge TABLE applied in rank order (mirrors
    // TextAnalysis.bpeEncode): a list_reduce fold of replace() steps —
    // the same left-to-right non-overlapping rewrites as Spark's
    // aggregate() fold; letter-pairs only, merged symbols uppercased so
    // later rules never match inside an earlier merge
    // iterated BPE training (mirrors TextAnalysis.bpeTrain): the unrolled
    // per-round CTE chain — count pairs over the CURRENT segmentation,
    // argmax, rewrite, recount — emitting the learned rule per round
    "q_bpe_train" -> s"""
         WITH $bpeVocabCte,
         $bpeTrainCtes
         SELECT round, pair, weight FROM (
           ${(1 to TextAnalysis.BpeTrainK)
             .map(r => s"SELECT * FROM r$r")
             .mkString("\n           UNION ALL ")})
         ORDER BY round""",
    // the learned rule table applied in round order (mirrors
    // TextAnalysis.bpeEncode): fold-encoding from scratch equals the
    // training chain's end state — same rules, same order, same
    // replace() semantics — so the oracle reads v{K} directly
    "q_bpe_encode" -> s"""
         WITH $bpeVocabCte,
         $bpeTrainCtes
         SELECT term, CAST(freq AS BIGINT) AS freq, trim(ss) AS encoded,
                CASE WHEN length(trim(ss)) = 0 THEN 0
                     ELSE CAST(len(string_split(trim(ss), ' ')) AS INT)
                END AS n_syms
         FROM v${TextAnalysis.BpeTrainK}
         ORDER BY freq DESC, term
         LIMIT ${TextAnalysis.VocabTopN}""",
    // the trained tokenizer applied over the corpus (mirrors
    // TextAnalysis.bpeTokenizeCorpus): per-doc word + BPE-token counts
    // from the training chain's end-state vocabulary
    "q_bpe_tokenize" -> s"""
         WITH $bpeVocabCte,
         $bpeTrainCtes,
         enc AS (SELECT term,
                        CASE WHEN length(trim(ss)) = 0 THEN 0
                             ELSE len(string_split(trim(ss), ' '))
                        END AS n_syms
                 FROM v${TextAnalysis.BpeTrainK}),
         tk AS (SELECT doc_id,
                       unnest(string_split_regex(text, '\\s+')) AS term
                FROM documents)
         SELECT doc_id,
                CAST(count(*) AS BIGINT) AS n_words,
                CAST(sum(n_syms) AS BIGINT) AS n_bpe_tokens
         FROM tk JOIN enc USING (term)
         GROUP BY doc_id
         ORDER BY doc_id""",
    // per-language tokenizer fertility of the trained BPE rules (mirrors
    // TextAnalysis.bpeFertility; shared bpe training chain)
    "q_bpe_fertility" -> s"""
         WITH $bpeVocabCte,
         $bpeTrainCtes,
         enc AS (SELECT term,
                        CASE WHEN length(trim(ss)) = 0 THEN 0
                             ELSE len(string_split(trim(ss), ' '))
                        END AS n_syms
                 FROM v${TextAnalysis.BpeTrainK}),
         tk AS (SELECT lang,
                       unnest(string_split_regex(text, '\\s+')) AS term
                FROM documents),
         agg AS (SELECT lang,
                        CAST(count(*) AS BIGINT) AS n_words,
                        CAST(sum(n_syms) AS BIGINT) AS n_bpe_tokens
                 FROM tk JOIN enc USING (term)
                 GROUP BY lang)
         SELECT lang, n_words, n_bpe_tokens,
                (n_bpe_tokens * 1000000) // n_words AS fertility_ppm
         FROM agg ORDER BY lang""",
    // deterministic multi-epoch training order: md5 priorities scatter
    // docs to shards, positions numbered within (epoch, shard) (mirrors
    // Curation.epochShuffle)
    "q_epoch_shuffle" -> s"""
         WITH e AS (SELECT doc_id, unnest(range(1, ${Curation.ShuffleEpochs} + 1))
                      AS epoch
                    FROM documents),
         p AS (SELECT CAST(epoch AS INT) AS epoch, doc_id,
                      ${hexIntSql("'ep:' || epoch || ':' || doc_id")} AS pri
               FROM e),
         sh AS (SELECT epoch, doc_id, pri,
                       CAST(pri % ${Curation.ShuffleShards} AS INT) AS shard
                FROM p)
         SELECT epoch, shard,
                CAST(row_number() OVER (PARTITION BY epoch, shard
                       ORDER BY pri, doc_id) AS INT) AS shard_pos,
                doc_id
         FROM sh ORDER BY epoch, shard, shard_pos""",
    // KMV distinct users per tumbling window (mirrors
    // StreamOps.distinctPerWindow; same estimate arithmetic as
    // q_sketch_distinct)
    "q_w5_distinct" -> s"""
         WITH hs AS (SELECT date_trunc('hour', ts) AS window_start,
                            ${hexIntSql("'kmv:' || user_id")} AS h,
                            user_id
                     FROM events),
         g AS (SELECT window_start,
                      list_sort(list(DISTINCT h))[1 : ${graft.llm.Sketches.KmvK}] AS kmv,
                      count(DISTINCT user_id) AS exact_users
               FROM hs GROUP BY window_start)
         SELECT window_start,
                CAST(len(kmv) AS INT) AS n_hashes,
                ${kmvEstSql("kmv")} AS est_users,
                exact_users
         FROM g ORDER BY window_start""",
    // overlapping token-window chunking (mirrors Curation.chunkDocuments)
    "q_chunk_overlap" -> s"""
         WITH tk AS (SELECT doc_id, string_split_regex(text, '\\s+') AS toks
                     FROM documents),
         nc AS (SELECT doc_id, toks,
                       greatest(CAST(ceil((len(toks) - ${Curation.ChunkTokens})
                                     / ${Curation.ChunkStride}.0) AS INT) + 1,
                                1) AS nch
                FROM tk)
         SELECT doc_id,
                CAST(unnest(range(0, nch)) AS INT) AS chunk_id,
                CAST(unnest(list_transform(range(0, nch),
                       i -> i * ${Curation.ChunkStride} + 1)) AS INT) AS start_tok,
                unnest(list_transform(range(0, nch),
                  i -> array_to_string(
                         toks[i * ${Curation.ChunkStride} + 1 :
                              i * ${Curation.ChunkStride} + ${Curation.ChunkTokens}], ' ')))
                  AS chunk
         FROM nc
         ORDER BY doc_id, chunk_id""",
    // per-language token-count histogram over global fixed-width buckets
    // (mirrors TextAnalysis.lengthHistogram)
    "q_profile_hist" -> s"""
         WITH d AS (SELECT lang,
                           CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS n
                    FROM documents),
         b AS (SELECT min(n) AS lo, max(n) + 1 AS hi FROM d)
         SELECT lang,
                CAST(floor((n - lo) * ${TextAnalysis.HistBuckets} / (hi - lo))
                     + 1 AS INT) AS bucket,
                count(*) AS n_docs,
                min(n) AS min_tokens,
                max(n) AS max_tokens
         FROM d CROSS JOIN b
         GROUP BY lang, bucket
         ORDER BY lang, bucket""",
    // rank-function suite (mirrors AnalyticsOps.w8RankSuite): unique
    // ordering key, so every rank flavor is deterministic; percent_rank /
    // cume_dist are single IEEE-exact divisions
    "q_w8_rank_suite" ->
      """WITH src AS (
           SELECT o_orderkey, o_orderpriority,
                  CAST(round(o_totalprice*100) AS BIGINT) AS cents
           FROM orders)
         SELECT o_orderkey, o_orderpriority, cents,
                CAST(rank() OVER w AS INT) AS rk,
                CAST(dense_rank() OVER w AS INT) AS drk,
                percent_rank() OVER w AS pct_rank,
                cume_dist() OVER w AS cume,
                CAST(ntile(4) OVER w AS INT) AS tile4
         FROM src
         WINDOW w AS (PARTITION BY o_orderpriority
                      ORDER BY cents DESC, o_orderkey ASC)
         ORDER BY o_orderkey""",
    // CUBE over (status, priority) (mirrors AnalyticsOps.a12Cube);
    // grouping_id shares the same column-bitmask convention
    "q_a12_cube" ->
      """SELECT coalesce(o_orderstatus, '(all)') AS status,
                coalesce(o_orderpriority, '(all)') AS priority,
                CAST(grouping_id(o_orderstatus, o_orderpriority) AS INT) AS gid,
                count(*) AS n_orders,
                CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT)
                  AS total_cents
         FROM orders
         GROUP BY CUBE(o_orderstatus, o_orderpriority)
         ORDER BY status, priority, gid""",
    // explicit GROUPING SETS — the three requested rollups, no grand
    // total (mirrors AnalyticsOps.a15GroupingSets)
    "q_a15_grouping_sets" ->
      """SELECT coalesce(o_orderstatus, '(all)') AS status,
                coalesce(o_orderpriority, '(all)') AS priority,
                CAST(grouping_id(o_orderstatus, o_orderpriority) AS INT) AS gid,
                count(*) AS n_orders,
                CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT)
                  AS total_cents
         FROM orders
         GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                 (o_orderstatus), (o_orderpriority))
         ORDER BY status, priority, gid""",
    // gap-free calendar spine between observed order-date bounds;
    // day-of-week by the epoch-day formula, not each engine's dayofweek
    // numbering (mirrors CoreOps.calSpine)
    "q_cal_spine" -> """
         WITH b AS (SELECT CAST(min(o_orderdate) AS DATE) AS d0,
                           CAST(max(o_orderdate) AS DATE) AS d1
                    FROM orders),
         days AS (SELECT CAST(unnest(generate_series(d0, d1,
                           INTERVAL 1 DAY)) AS DATE) AS day
                  FROM b),
         e AS (SELECT day,
                  CAST(date_diff('day', DATE '1970-01-01', day) AS INT)
                    AS epoch_day
               FROM days),
         d AS (SELECT *, CAST((epoch_day + 4) % 7 AS INT) AS dow FROM e)
         SELECT strftime(day, '%Y-%m-%d') AS day, epoch_day, dow,
                dow IN (0, 6) AS is_weekend,
                CAST(year(day) AS INT) AS yr,
                CAST(quarter(day) AS INT) AS qtr,
                CAST(month(day) AS INT) AS mon,
                day = last_day(day) AS is_month_end
         FROM d ORDER BY day""",
    // dow seasonality through the spine: per-day rate normalized by how
    // many of each weekday the span contains (mirrors CoreOps.seasonality)
    "q_seasonality" -> """
         WITH b AS (SELECT CAST(min(o_orderdate) AS DATE) AS d0,
                           CAST(max(o_orderdate) AS DATE) AS d1
                    FROM orders),
         days AS (SELECT CAST(unnest(generate_series(d0, d1,
                           INTERVAL 1 DAY)) AS DATE) AS day
                  FROM b),
         sp AS (SELECT strftime(day, '%Y-%m-%d') AS day,
                  CAST((date_diff('day', DATE '1970-01-01', day) + 4) % 7
                    AS INT) AS dow
                FROM days),
         dd AS (SELECT dow, CAST(count(*) AS BIGINT) AS n_days
                FROM sp GROUP BY dow),
         oo AS (SELECT sp.dow, CAST(count(*) AS BIGINT) AS n_orders,
                  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS total_cents
                FROM orders
                JOIN sp ON strftime(CAST(o_orderdate AS DATE),
                             '%Y-%m-%d') = sp.day
                GROUP BY sp.dow)
         SELECT dow, n_days, n_orders,
                (n_orders * 1000) // n_days AS orders_per_day_x1000,
                total_cents
         FROM dd JOIN oo USING (dow)
         ORDER BY dow""",
    // k-anonymity / l-diversity classes over (segment, nationkey);
    // sensitive bucket shifted positive before the integer div (mirrors
    // PrivacyOps.kAnonymity)
    "q_privacy_kanon" -> {
      import graft.ops.PrivacyOps.{KAnonK, SensitiveBucket}
      s"""
         WITH cls AS (SELECT c_mktsegment AS segment,
                  CAST(c_nationkey AS BIGINT) AS nationkey,
                  CAST(count(*) AS BIGINT) AS class_size,
                  CAST(count(DISTINCT
                    (CAST(round(c_acctbal * 100) AS BIGINT) + 100000000)
                      // $SensitiveBucket) AS BIGINT) AS l_diversity
               FROM customer GROUP BY 1, 2)
         SELECT segment, nationkey, class_size, l_diversity,
                class_size < $KAnonK AS at_risk,
                l_diversity = 1 AS homogeneous
         FROM cls ORDER BY segment, nationkey"""
    },
    // asymmetric containment pairs (|A-intersect-B| / |A| >= 0.8, banded
    // candidates through df-capped shared shingles, exact re-verify on
    // the full gram sets) (mirrors Dedup.containmentPairs; shared
    // shingledCte)
    "q_dedup_containment" -> s"""
         WITH $shingledCte,
         post AS (SELECT doc_id, unnest(grams) AS gram FROM sh),
         dfb AS (SELECT gram FROM (SELECT gram, count(*) AS c FROM post
                                   GROUP BY gram)
                 WHERE c <= ${Dedup.ContainMaxDf}),
         bp AS (SELECT p.doc_id, p.gram FROM post p JOIN dfb USING (gram)),
         cand AS (SELECT x.doc_id AS inner_id, y.doc_id AS outer_id
                  FROM bp x JOIN bp y ON x.gram = y.gram
                                     AND x.doc_id <> y.doc_id
                  GROUP BY 1, 2),
         sz AS (SELECT doc_id, len(grams) AS sz, grams FROM sh)
         SELECT inner_id, outer_id,
                CAST(len(list_intersect(a.grams, b.grams)) AS INT) AS inter,
                CAST(a.sz AS INT) AS sz_in, CAST(b.sz AS INT) AS sz_out,
                (CAST(len(list_intersect(a.grams, b.grams)) AS BIGINT)
                   * 1000000) // a.sz AS cont_ppm
         FROM cand JOIN sz a ON a.doc_id = inner_id
                   JOIN sz b ON b.doc_id = outer_id
         WHERE a.sz <= b.sz
           AND len(list_intersect(a.grams, b.grams)) * 100 >= a.sz *
               ${math.round(Dedup.ContainThreshold * 100)}
         ORDER BY inner_id, outer_id""",
    // TPC-H Q3-shape star join: revenue of building-segment urgent
    // orders, exact integer discount arithmetic — one div at the END of
    // the scaled sum (mirrors AnalyticsOps.flagshipRevenue)
    "q_flagship_revenue" -> s"""
         WITH li AS (SELECT l_orderkey,
                  CAST(round(l_extendedprice * 100) AS BIGINT) *
                    (100 - CAST(round(l_discount * 100) AS BIGINT))
                    AS rev_scaled
               FROM lineitem)
         SELECT o_orderkey, c_name,
                CAST(sum(rev_scaled) AS BIGINT) // 100 AS revenue_cents
         FROM orders
         JOIN customer ON o_custkey = c_custkey
         JOIN li ON o_orderkey = l_orderkey
         WHERE c_mktsegment = 'BUILDING' AND o_orderpriority = '1-URGENT'
         GROUP BY o_orderkey, c_name
         ORDER BY revenue_cents DESC, o_orderkey
         LIMIT ${graft.ops.AnalyticsOps.FlagshipTopK}""",
    // directed association rules over distinct baskets; integer ppm/ppk
    // confidence and lift (mirrors AnalyticsOps.basketRules)
    "q_basket_rules" -> s"""
         WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                     FROM lineitem),
         n AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n_orders FROM li),
         ic AS (SELECT pk, CAST(count(*) AS BIGINT) AS cnt
                FROM li GROUP BY pk),
         pr AS (SELECT a.pk AS antecedent, b.pk AS consequent,
                       CAST(count(*) AS BIGINT) AS supp
                FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk
                GROUP BY 1, 2
                HAVING count(*) >= ${graft.ops.AnalyticsOps.RuleMinSupport})
         SELECT antecedent, consequent, supp,
                ca.cnt AS cnt_a, cb.cnt AS cnt_b,
                (supp * 1000000) // ca.cnt AS conf_ppm,
                (supp * n_orders * 1000) // (ca.cnt * cb.cnt) AS lift_ppk
         FROM pr JOIN ic ca ON ca.pk = antecedent
                 JOIN ic cb ON cb.pk = consequent, n
         ORDER BY lift_ppk DESC, antecedent, consequent
         LIMIT ${graft.ops.AnalyticsOps.RuleTopK}""",
    // RFM quintile segmentation; ceil(5*rank/cnt) cross-multiply, NOT
    // ntile (mirrors AnalyticsOps.rfmSegments)
    "q_rfm_segments" -> """
         WITH base AS (SELECT o_custkey,
                  max(epoch_us(o_orderdate)) AS last_us,
                  CAST(count(*) AS BIGINT) AS n_orders,
                  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS life_cents
               FROM orders GROUP BY o_custkey),
         rk AS (SELECT *, count(*) OVER () AS cnt,
                  row_number() OVER (ORDER BY last_us DESC, o_custkey) AS rn_r,
                  row_number() OVER (ORDER BY n_orders DESC, o_custkey) AS rn_f,
                  row_number() OVER (ORDER BY life_cents DESC, o_custkey) AS rn_m
               FROM base),
         sc AS (SELECT *,
                  CAST((rn_r * 5 + cnt - 1) // cnt AS INT) AS r,
                  CAST((rn_f * 5 + cnt - 1) // cnt AS INT) AS f,
                  CAST((rn_m * 5 + cnt - 1) // cnt AS INT) AS m
               FROM rk)
         SELECT o_custkey, last_us, n_orders, life_cents, r, f, m,
                CASE WHEN r = 1 AND f = 1 AND m = 1 THEN 'champion'
                     WHEN r >= 4 AND f <= 2 THEN 'at_risk'
                     WHEN f = 1 THEN 'loyal'
                     WHEN r = 1 THEN 'recent'
                     ELSE 'regular' END AS segment
         FROM sc ORDER BY o_custkey""",
    // chained-min funnel (mirrors AnalyticsOps.funnelStages); epoch micros
    // on both sides — the j9 shared-precision convention
    "q_funnel" ->
      """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS us
                     FROM events),
         s1 AS (SELECT *, min(CASE WHEN event_type = 'signup' THEN us END)
                            OVER (PARTITION BY user_id) AS t1_us FROM ev),
         s2 AS (SELECT *, min(CASE WHEN event_type = 'view' AND us > t1_us
                                   THEN us END)
                            OVER (PARTITION BY user_id) AS t2_us FROM s1),
         s3 AS (SELECT *, min(CASE WHEN event_type = 'purchase' AND us > t2_us
                                   THEN us END)
                            OVER (PARTITION BY user_id) AS t3_us FROM s2)
         SELECT user_id, min(t1_us) AS t1_us, min(t2_us) AS t2_us,
                min(t3_us) AS t3_us,
                CAST(CASE WHEN min(t1_us) IS NULL THEN 0
                          WHEN min(t2_us) IS NULL THEN 1
                          WHEN min(t3_us) IS NULL THEN 2
                          ELSE 3 END AS INT) AS stage
         FROM s3 GROUP BY user_id ORDER BY user_id""",
    // funnel-transition latency: exact rank-value median/p90 micros per
    // transition (mirrors AnalyticsOps.funnelLatency; shared funnel CTEs)
    "q_funnel_latency" ->
      """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS us
                     FROM events),
         s1 AS (SELECT *, min(CASE WHEN event_type = 'signup' THEN us END)
                            OVER (PARTITION BY user_id) AS t1_us FROM ev),
         s2 AS (SELECT *, min(CASE WHEN event_type = 'view' AND us > t1_us
                                   THEN us END)
                            OVER (PARTITION BY user_id) AS t2_us FROM s1),
         s3 AS (SELECT *, min(CASE WHEN event_type = 'purchase' AND us > t2_us
                                   THEN us END)
                            OVER (PARTITION BY user_id) AS t3_us FROM s2),
         fu AS (SELECT user_id, min(t1_us) AS t1_us, min(t2_us) AS t2_us,
                       min(t3_us) AS t3_us
                FROM s3 GROUP BY user_id),
         lat AS (SELECT user_id, transition, lat_us FROM (
             SELECT user_id, 'signup_to_view' AS transition,
                    t2_us - t1_us AS lat_us FROM fu
             UNION ALL
             SELECT user_id, 'view_to_purchase', t3_us - t2_us FROM fu)
           WHERE lat_us IS NOT NULL),
         rk AS (SELECT *, row_number() OVER (PARTITION BY transition
                     ORDER BY lat_us, user_id) AS rn,
                  count(*) OVER (PARTITION BY transition) AS cnt
                FROM lat)
         SELECT transition, CAST(max(cnt) AS BIGINT) AS n_users,
                min(CASE WHEN rn * 2 >= cnt THEN lat_us END) AS med_us,
                min(CASE WHEN rn * 10 >= cnt * 9 THEN lat_us END) AS p90_us
         FROM rk GROUP BY transition ORDER BY transition""",
    // first-touch attribution: each click credits the EARLIEST view in
    // its window — argmin under the unique (v_us, view_id) order (mirrors
    // IntervalOps.firstTouchAttribution)
    "q_j9b_first_touch" ->
      s"""WITH v AS (SELECT event_id AS view_id, user_id, epoch_us(ts) AS v_us
                    FROM events WHERE event_type = 'view'),
         c AS (SELECT event_id AS click_id, user_id AS c_user,
                      epoch_us(ts) AS c_us
               FROM events WHERE event_type = 'click'),
         p AS (SELECT c.click_id, v.user_id, c.c_us, v.view_id, v.v_us
               FROM v JOIN c ON v.user_id = c.c_user
                AND c.c_us > v.v_us AND c.c_us <= v.v_us
                    + ${IntervalOps.FirstTouchWindowSeconds * 1000000L})
         SELECT click_id, user_id, view_id AS first_view_id,
                CAST(c_us - first_v_us AS BIGINT) AS delay_us,
                CAST(nc AS BIGINT) AS n_candidates
         FROM (SELECT *, row_number() OVER (PARTITION BY click_id
                           ORDER BY v_us, view_id) AS rn,
                  count(*) OVER (PARTITION BY click_id) AS nc,
                  min(v_us) OVER (PARTITION BY click_id) AS first_v_us
               FROM p)
         WHERE rn = 1 ORDER BY click_id""",
    // retention triangle (mirrors AnalyticsOps.cohortRetention): integer
    // week buckets from the fixed origin — no week-start convention
    "q_cohort_retention" -> s"""
         WITH ev AS (SELECT user_id,
                            CAST(date_diff('day',
                                   DATE '${graft.ops.AnalyticsOps.CohortOrigin}',
                                   CAST(ts AS DATE)) // 7 AS INT) AS wk
                     FROM events),
         fw AS (SELECT user_id, min(wk) AS cohort_wk FROM ev GROUP BY user_id)
         SELECT cohort_wk, wk - cohort_wk AS offset_wk,
                CAST(count(DISTINCT ev.user_id) AS BIGINT) AS n_users
         FROM ev JOIN fw USING (user_id)
         GROUP BY 1, 2 ORDER BY 1, 2""",
    // deterministic weighted sample (mirrors AnalyticsOps.weightedSample):
    // priority = md5-hash / weight, ONE IEEE-exact division
    "q_sample_weighted" -> s"""
         SELECT doc_id, n_chars, priority FROM (
           SELECT doc_id, n_chars,
                  CAST(${hexIntSql("'wrs:' || CAST(doc_id AS VARCHAR)")}
                       AS DOUBLE) / CAST(n_chars AS DOUBLE) AS priority
           FROM documents
           ORDER BY priority ASC, doc_id ASC
           LIMIT ${graft.ops.AnalyticsOps.SampleK})
         ORDER BY priority ASC, doc_id ASC""",
    // integer-exact 1.5σ length outliers (mirrors
    // AnalyticsOps.lengthOutliers): 4·(n·x−S)² > 9·(n·Q−S²), all integer
    "q_text_outlier" ->
      """WITH st AS (SELECT lang, count(*) AS n, sum(n_chars) AS sx,
                            sum(n_chars*n_chars) AS sq
                     FROM documents GROUP BY lang)
         SELECT doc_id, d.lang, n_chars,
                4*(n*n_chars - sx)*(n*n_chars - sx) > 9*(n*sq - sx*sx)
                  AS is_outlier
         FROM documents d JOIN st ON d.lang = st.lang
         ORDER BY doc_id""",
    // triangle set by plain canonical a<b<c joins — the Spark side's
    // degree-ordered orientation must discover the SAME set
    // (mirrors GraphOps.triangles)
    "q_graph_triangles" -> s"""
         WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         pairs AS (SELECT a.pk AS pa, b.pk AS pb, count(*) AS supp
                   FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
                   GROUP BY 1, 2),
         edges AS (SELECT pa, pb FROM pairs
                   WHERE supp >= ${graft.ops.GraphOps.TriMinSupport})
         SELECT e1.pa AS pa, e1.pb AS pb, e2.pb AS pc
         FROM edges e1
         JOIN edges e2 ON e1.pb = e2.pa
         JOIN edges e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
         ORDER BY pa, pb, pc""",
    // weighted synchronous label propagation unrolled one CTE triple per
    // round (mirrors GraphOps.labelPropagation): neighbor votes weighted
    // by co-purchase support, weight-1 self-vote, argmax =
    // (weight DESC, label) row_number; edge CTEs are the triangles'
    // co-purchase graph
    "q_graph_lpa" -> {
      import graft.ops.GraphOps.{LpaRounds, TriMinSupport}
      val rounds = (1 to LpaRounds).map { r =>
        s"""v$r AS (SELECT e.src AS node, l.label, e.w
                FROM e0 e JOIN l${r - 1} l ON e.dst = l.node
                UNION ALL SELECT node, label, 1 AS w FROM l${r - 1}),
         c$r AS (SELECT node, label, sum(w) AS cnt FROM v$r GROUP BY 1, 2),
         l$r AS MATERIALIZED (SELECT node, label FROM (
                SELECT *, row_number() OVER (PARTITION BY node
                            ORDER BY cnt DESC, label) AS rn
                FROM c$r)
              WHERE rn = 1)"""
      }.mkString(",\n         ")
      s"""
         WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         pairs AS (SELECT a.pk AS pa, b.pk AS pb, count(*) AS supp
                   FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
                   GROUP BY 1, 2),
         base AS (SELECT pa, pb, supp FROM pairs WHERE supp >= $TriMinSupport),
         e0 AS MATERIALIZED (SELECT pa AS src, pb AS dst, supp AS w FROM base
                UNION ALL SELECT pb AS src, pa AS dst, supp AS w FROM base),
         l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS label
                FROM e0),
         $rounds,
         sz AS (SELECT label, CAST(count(*) AS BIGINT) AS csize
                FROM l$LpaRounds GROUP BY label)
         SELECT l.node AS part, l.label AS community, sz.csize
         FROM l$LpaRounds l JOIN sz USING (label)
         ORDER BY part"""
    },
    // iterative k-core peel unrolled one CTE triple per round — generated
    // from GraphOps.KCoreRounds so the engines can never disagree on the
    // peel depth (the PrIters device); the edge CTEs are the triangles'
    // co-purchase graph verbatim (mirrors GraphOps.kCore)
    "q_graph_kcore" -> {
      import graft.ops.GraphOps.{KCoreK, KCoreRounds, TriMinSupport}
      val steps = (1 to KCoreRounds).map { r =>
        // MATERIALIZED: each round references the previous twice, so an
        // inlining planner would expand the chain exponentially (the BPE
        // unrolled-oracle device)
        s"""a$r AS MATERIALIZED (SELECT src FROM e${r - 1} GROUP BY src
                HAVING count(*) >= $KCoreK),
         e$r AS MATERIALIZED (SELECT e.src, e.dst FROM e${r - 1} e
                JOIN a$r x ON e.src = x.src
                JOIN a$r y ON e.dst = y.src)"""
      }.mkString(",\n         ")
      s"""
         WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         pairs AS (SELECT a.pk AS pa, b.pk AS pb, count(*) AS supp
                   FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
                   GROUP BY 1, 2),
         base AS (SELECT pa, pb FROM pairs WHERE supp >= $TriMinSupport),
         e0 AS MATERIALIZED (SELECT pa AS src, pb AS dst FROM base
                UNION ALL SELECT pb AS src, pa AS dst FROM base),
         $steps
         SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
         FROM e$KCoreRounds GROUP BY src ORDER BY node"""
    },
    // the blob is the UTF-8 text bytes, so md5(blob) == md5(text) and the
    // oracle works on the text column directly
    // (mirrors MultimodalOps.mmDedup)
    "q_mm_dedup" -> s"""
         WITH b AS (SELECT doc_id, text FROM documents
                    UNION ALL
                    SELECT doc_id + ${graft.ops.MultimodalOps.ReingestOffset},
                           text
                    FROM documents WHERE doc_id % 7 = 0)
         SELECT min(doc_id) AS keep_id, count(*)::BIGINT AS n_copies,
                CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                md5(text) AS digest
         FROM b GROUP BY md5(text), octet_length(encode(text))
         ORDER BY keep_id""",
    // row-local windowed pair lists per offset, generated from the ONE
    // Scala window constant (mirrors TextAnalysis.skipgrams)
    "q_skipgrams" -> {
      import TextAnalysis.{SkipgramTopK, SkipgramWindow}
      val sels = (1 to SkipgramWindow).flatMap { off =>
        Seq(
          s"""SELECT unnest(list_transform(range(1, len(toks) - $off + 1),
               i -> {'w': toks[i], 'c': toks[i + $off]})) AS p FROM tk""",
          s"""SELECT unnest(list_transform(range(1, len(toks) - $off + 1),
               i -> {'w': toks[i + $off], 'c': toks[i]})) AS p FROM tk""")
      }.mkString("\n           UNION ALL\n           ")
      s"""
         WITH tk AS (SELECT string_split_regex(text, '\\s+') AS toks
                FROM documents),
         pairs AS ($sels)
         SELECT p.w AS w, p.c AS c, count(*)::BIGINT AS cnt
         FROM pairs GROUP BY 1, 2
         ORDER BY cnt DESC, w, c
         LIMIT $SkipgramTopK"""
    },
    // cumulative-range table + broadcast containment probes; probe hashes
    // are the md5-prefix convention (mirrors TextAnalysis.negativeSamples)
    "q_negsample" -> s"""
         WITH uni AS (SELECT term, count(*)::BIGINT AS cnt
               FROM (SELECT unnest(string_split_regex(text, '\\s+')) AS term
                     FROM documents)
               GROUP BY 1),
         r AS (SELECT term, cnt,
                  CAST(coalesce(sum(cnt) OVER (ORDER BY term
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS start,
                  CAST(sum(cnt) OVER () AS BIGINT) AS tot
               FROM uni),
         pr AS (SELECT probe_id,
                  ${hexIntSql("'neg:' || probe_id")} AS h0
                FROM (SELECT unnest(range(0, ${TextAnalysis.NegSampleK}))
                        AS probe_id))
         SELECT probe_id, h0 % tot AS h, term, cnt
         FROM pr JOIN r ON h0 % tot >= start AND h0 % tot < start + cnt
         ORDER BY probe_id""",
    // shared-term pair generation with the integer-cleared idf weight
    // (mirrors TextAnalysis.docNeighbors)
    "q_tfidf_neighbors" -> s"""
         WITH tk AS (SELECT doc_id, string_split_regex(text, '\\s+') AS toks
                FROM documents),
         n AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
         ex AS (SELECT doc_id, unnest(toks) AS term FROM tk),
         tfc AS (SELECT term, doc_id, count(*)::BIGINT AS tf
                 FROM ex GROUP BY 1, 2),
         dfp AS (SELECT term, count(*)::BIGINT AS df FROM tfc GROUP BY 1
                 HAVING count(*) >= 2
                    AND count(*) <= greatest(${TextAnalysis.NeighborMaxDf},
                      (SELECT n_docs FROM n)
                        // ${TextAnalysis.NeighborRareFrac})),
         w0 AS (SELECT tfc.term, tfc.doc_id, tfc.tf * (n_docs // df) AS w
                FROM tfc JOIN dfp USING (term), n),
         w AS (SELECT term, doc_id, w FROM (
                 SELECT term, doc_id, w,
                        row_number() OVER (PARTITION BY term
                          ORDER BY w DESC, doc_id) AS rn
                 FROM w0)
               WHERE rn <= ${TextAnalysis.NeighborChampions})
         SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                CAST(sum(a.w * b.w) AS BIGINT) AS dot,
                CAST(count(*) AS BIGINT) AS n_shared
         FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
         GROUP BY 1, 2
         ORDER BY dot DESC, a_id, b_id
         LIMIT ${TextAnalysis.NeighborTopK}""",
    // fixed-bin histogram quantiles; every threshold is the same integer
    // cross-multiply in both engines (mirrors Sketches.histQuantiles)
    "q_sketch_histquant" -> {
      import Sketches.{HistB, HistQs, HistW}
      val estCols = HistQs.map(q =>
        s"CAST(min(CASE WHEN cum*100 >= n*$q THEN bin END) AS INT) AS bin_$q")
        .mkString(",\n                ")
      val exCols = HistQs.map(q =>
        s"min(CASE WHEN rn*100 >= nn*$q THEN n_chars END) AS ex_$q")
        .mkString(",\n                ")
      val rowsOut = HistQs.map(q =>
        s"""SELECT lang, CAST($q AS INT) AS q, n, bin_$q AS bin_est,
                  CAST((bin_$q + 1) * $HistW AS INT) AS est_hi,
                  CAST((bin_$q + 1) * $HistW AS BIGINT) - ex_$q AS slack,
                  ex_$q AS exact_val
           FROM e JOIN x USING (lang)""").mkString("\n           UNION ALL\n           ")
      s"""
         WITH h AS (SELECT lang, least(n_chars // $HistW, ${HistB - 1}) AS bin,
                  count(*)::BIGINT AS cnt
               FROM documents GROUP BY 1, 2),
         c AS (SELECT lang, bin, cnt,
                  sum(cnt) OVER (PARTITION BY lang ORDER BY bin) AS cum,
                  sum(cnt) OVER (PARTITION BY lang) AS n
               FROM h),
         e AS (SELECT lang, CAST(max(n) AS BIGINT) AS n,
                $estCols
               FROM c GROUP BY lang),
         r AS (SELECT lang, n_chars,
                  row_number() OVER (PARTITION BY lang
                    ORDER BY n_chars, doc_id) AS rn,
                  count(*) OVER (PARTITION BY lang) AS nn
               FROM documents),
         x AS (SELECT lang,
                $exCols
               FROM r GROUP BY lang)
         $rowsOut
         ORDER BY lang, q"""
    },
    // the constraint suite over the same deterministically re-dirtied
    // frame (mirrors ProfileOps.dqChecks)
    "q_dq_checks" ->
      """WITH base AS (
           SELECT o_orderkey,
                  CASE WHEN o_orderkey % 37 = 0 THEN NULL
                       ELSE o_custkey END AS fk,
                  CASE WHEN o_orderkey % 53 = 0 THEN 'X'
                       ELSE o_orderstatus END AS status,
                  CAST(round(o_totalprice * 100) AS BIGINT) AS cents
           FROM orders),
         dirty AS (SELECT * FROM base
                   UNION ALL SELECT * FROM base WHERE o_orderkey % 101 = 0),
         rl AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
                  CAST(sum(CASE WHEN fk IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                    AS v_null,
                  CAST(sum(CASE WHEN status IN ('O','F','P') THEN 0 ELSE 1 END)
                    AS BIGINT) AS v_domain,
                  CAST(sum(CASE WHEN cents < 0 THEN 1 ELSE 0 END) AS BIGINT)
                    AS v_range
                FROM dirty),
         uq AS (SELECT CAST(count(*) AS BIGINT) AS n,
                  CAST(count(DISTINCT o_orderkey) AS BIGINT) AS nd
                FROM dirty),
         rf AS (SELECT CAST(count(*) AS BIGINT) AS n_checked,
                  CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_violations
                FROM dirty d
                LEFT JOIN (SELECT c_custkey FROM customer
                           WHERE c_custkey % 2 = 0) c
                  ON d.fk = c.c_custkey
                WHERE d.fk IS NOT NULL),
         rows_out AS (
           SELECT 'orders_fk_complete' AS check_name, n_rows AS n_checked,
                  v_null AS n_violations FROM rl
           UNION ALL
           SELECT 'orders_status_domain', n_rows, v_domain FROM rl
           UNION ALL
           SELECT 'orders_cents_nonneg', n_rows, v_range FROM rl
           UNION ALL
           SELECT 'orders_pk_unique', n, n - nd FROM uq
           UNION ALL
           SELECT 'orders_fk_customer', n_checked, n_violations FROM rf)
         SELECT check_name, n_checked, n_violations,
                n_violations = 0 AS pass
         FROM rows_out ORDER BY check_name""",
    // per-group clipping at the exact integer rank values
    // (mirrors AnalyticsOps.winsorize)
    "q_winsorize" -> {
      import graft.ops.AnalyticsOps.{WinsorHiPct, WinsorLoPct}
      s"""
         WITH r AS (SELECT o_orderkey, o_orderpriority,
                  CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
                  row_number() OVER (PARTITION BY o_orderpriority
                    ORDER BY CAST(round(o_totalprice * 100) AS BIGINT),
                             o_orderkey) AS rn,
                  count(*) OVER (PARTITION BY o_orderpriority) AS cnt
               FROM orders),
         b AS (SELECT *,
                  min(CASE WHEN rn * 100 >= cnt * $WinsorLoPct
                           THEN cents END)
                    OVER (PARTITION BY o_orderpriority) AS lo_cents,
                  min(CASE WHEN rn * 100 >= cnt * $WinsorHiPct
                           THEN cents END)
                    OVER (PARTITION BY o_orderpriority) AS hi_cents
               FROM r)
         SELECT o_orderkey, o_orderpriority, cents, lo_cents, hi_cents,
                least(greatest(cents, lo_cents), hi_cents) AS clipped_cents,
                cents < lo_cents OR cents > hi_cents AS was_clipped
         FROM b ORDER BY o_orderkey"""
    },
    // iterative BFS relaxation unrolled one MATERIALIZED CTE per round
    // from GraphOps.BfsRounds; the edge CTEs are the shared co-purchase
    // graph (mirrors GraphOps.bfs)
    "q_graph_bfs" -> {
      import graft.ops.GraphOps.{BfsRounds, TriMinSupport}
      val steps = (1 to BfsRounds).map { r =>
        s"""d$r AS MATERIALIZED (
           SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
             SELECT node, dist FROM d${r - 1}
             UNION ALL
             SELECT e.dst AS node, d.dist + 1 AS dist
             FROM d${r - 1} d JOIN e0 e ON d.node = e.src)
           GROUP BY node)"""
      }.mkString(",\n         ")
      s"""
         WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         pairs AS (SELECT a.pk AS pa, b.pk AS pb, count(*) AS supp
                   FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
                   GROUP BY 1, 2),
         base AS (SELECT pa, pb FROM pairs WHERE supp >= $TriMinSupport),
         e0 AS MATERIALIZED (SELECT pa AS src, pb AS dst FROM base
                UNION ALL SELECT pb AS src, pa AS dst FROM base),
         d0 AS MATERIALIZED (SELECT min(src) AS node,
                CAST(0 AS BIGINT) AS dist FROM e0),
         $steps
         SELECT node, dist FROM d$BfsRounds ORDER BY node"""
    },
    // skyline computed the DIRECT way (one global window over distinct
    // objective pairs) — matching Spark's two-phase per-lang/global split
    // proves the phased plan exact (mirrors AnalyticsOps.paretoFront)
    "q_pareto_front" ->
      """WITH d AS (SELECT doc_id, lang, n_chars,
                  CAST(len(list_distinct(string_split_regex(text, '\s+')))
                    AS INT) AS n_types
           FROM documents),
         p AS (SELECT DISTINCT n_chars, n_types FROM d),
         f AS (SELECT n_chars, n_types,
                  max(n_types) OVER (ORDER BY n_chars ASC, n_types DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    AS best_prev
               FROM p),
         g AS (SELECT n_chars, n_types FROM f
               WHERE best_prev IS NULL OR best_prev < n_types)
         SELECT doc_id, lang, d.n_chars, d.n_types
         FROM d JOIN g ON d.n_chars = g.n_chars AND d.n_types = g.n_types
         ORDER BY doc_id""",
    // OHLC bars on the shared (ts micros, event_id) total order; `//`
    // floors like Spark div on the non-negative epoch
    // (mirrors AnalyticsOps.ohlcResample)
    "q_w9_ohlc" -> s"""
         WITH ev AS (SELECT event_type, epoch_us(ts) AS us, event_id,
                  CAST(round(value * 100) AS BIGINT) AS cents
           FROM events),
         b AS (SELECT event_type, us // ${graft.ops.AnalyticsOps.OhlcBucketUs}
                  AS hr, us, event_id, cents
               FROM ev),
         r AS (SELECT *,
                  CAST(row_number() OVER (PARTITION BY event_type, hr
                    ORDER BY us, event_id) AS BIGINT) AS rn,
                  CAST(count(*) OVER (PARTITION BY event_type, hr)
                    AS BIGINT) AS cnt
               FROM b)
         SELECT event_type, hr,
                max(CASE WHEN rn = 1 THEN cents END) AS open_cents,
                max(cents) AS high_cents,
                min(cents) AS low_cents,
                max(CASE WHEN rn = cnt THEN cents END) AS close_cents,
                CAST(count(*) AS BIGINT) AS n_events,
                CAST(sum(cents) AS BIGINT) AS vol_cents
         FROM r GROUP BY event_type, hr
         ORDER BY event_type, hr""",
    // blocked fuzzy name match (mirrors MatchOps.fuzzyNameMatch):
    // levenshtein is the same full-matrix edit distance in both engines
    "q_fuzzy_match" -> s"""
         WITH names AS (SELECT DISTINCT p_name FROM part),
         blocked AS (SELECT p_name, string_split(p_name, ' ')[1] AS blk
                     FROM names)
         SELECT a.blk AS blk, a.p_name AS name_a, b.p_name AS name_b,
                CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
         FROM blocked a JOIN blocked b
           ON a.blk = b.blk AND a.p_name < b.p_name
         WHERE levenshtein(a.p_name, b.p_name)
                 <= ${graft.ops.MatchOps.MaxEditDistance}
         ORDER BY blk, name_a, name_b""",
    // join-view IVM (mirrors IncrementalOps.ivmJoin): the oracle is the
    // FULL recompute — matching it proves the delta-rule expansion
    "q_ivm_join" ->
      """SELECT o_orderkey, o_custkey, c_name,
                CAST(round(o_totalprice*100) AS BIGINT) AS cents
         FROM orders JOIN customer ON o_custkey = c_custkey
         ORDER BY o_orderkey""",
    // Markov transitions (mirrors SequenceOps.seqTransitions): each
    // probability is one division of two exact counts
    "q_seq_transitions" ->
      """WITH seq AS (
           SELECT user_id, event_type,
                  lag(event_type) OVER
                    (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
                    AS src
           FROM events),
         p AS (SELECT src, event_type AS dst, count(*) AS n
               FROM seq WHERE src IS NOT NULL GROUP BY 1, 2),
         tt AS (SELECT src, CAST(sum(n) AS BIGINT) AS tot FROM p GROUP BY src)
         SELECT p.src, p.dst, p.n,
                CAST(p.n AS DOUBLE) / CAST(tt.tot AS DOUBLE) AS prob
         FROM p JOIN tt USING (src)
         ORDER BY src, dst""",
    // session path mining (mirrors SequenceOps.sessionPaths): the session
    // CTE shares q_w3_sessionize's second-granularity gap rule
    "q_seq_paths" -> s"""
         WITH sess AS (
           SELECT user_id, us, event_id, event_type,
                  CAST(sum(CASE WHEN us // 1000000 - prev_us // 1000000
                                     > ${StreamOps.SessionGapMinutes * 60} THEN 1
                                ELSE 0 END)
                    OVER (PARTITION BY user_id ORDER BY us, event_id) AS BIGINT)
                    AS session_id
           FROM (SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
                        lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                      ORDER BY epoch_us(ts), event_id) AS prev_us
                 FROM events)),
         paths AS (
           SELECT user_id, session_id,
                  array_to_string(list(event_type ORDER BY us, event_id), '>')
                    AS path
           FROM sess GROUP BY user_id, session_id)
         SELECT path, count(*) AS n_sessions
         FROM paths GROUP BY path
         ORDER BY n_sessions DESC, path
         LIMIT ${graft.ops.SequenceOps.PathTopK}""",
    // point-in-time SCD2 lookup (mirrors ChangeOps.j10ScdLookup): the
    // history CTEs are q_a7d_scd2's; intervals compare in epoch micros
    "q_j10_scd_lookup" ->
      """WITH chg AS (
           SELECT user_id, event_type, epoch_us(ts) AS us, event_id,
                  lag(event_type) OVER
                    (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
                    AS prev
           FROM events),
         ver AS (
           SELECT user_id, event_id AS version_id, event_type,
                  us AS from_us0
           FROM chg
           WHERE prev IS NULL OR prev <> event_type),
         hist AS (
           SELECT user_id AS h_user, version_id,
                  event_type AS version_type,
                  from_us0 AS from_us,
                  lead(from_us0) OVER
                    (PARTITION BY user_id ORDER BY from_us0, version_id)
                    AS to_us
           FROM ver),
         f AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us
               FROM events WHERE event_type = 'purchase')
         SELECT f.event_id, f.user_id, f.ts_us, h.version_id, h.version_type
         FROM f JOIN hist h
           ON f.user_id = h.h_user AND h.from_us <= f.ts_us
          AND (h.to_us IS NULL OR f.ts_us < h.to_us)
         ORDER BY event_id""",
    // the full posting table with df and the corpus scalars denormalized
    // (mirrors TextAnalysis.bm25Index)
    "q_inverted_index" -> invertedIndexOracleSql,
    // the merge-maintained index must equal the full rebuild hash-exact —
    // sharing the oracle string IS the delta-rule soundness contract
    // (the q_ivm_agg/q_ivm_join pattern)
    "q_ivm_index" -> invertedIndexOracleSql,
    // adjacent-pair collocations by integer-cleared lift
    // (mirrors TextAnalysis.collocations)
    "q_cooc_lift" -> s"""
         WITH tk AS (SELECT doc_id, string_split_regex(text, '\\s+') AS toks
                FROM documents),
         uc AS (SELECT w, count(*)::BIGINT AS c
                FROM (SELECT unnest(toks) AS w FROM tk) GROUP BY 1),
         tot AS (SELECT sum(c)::BIGINT AS t FROM uc),
         bg AS (SELECT unnest(list_transform(range(1, len(toks)),
                  i -> {'a': toks[i], 'b': toks[i + 1]})) AS p
                FROM tk),
         bc AS (SELECT p.a AS a, p.b AS b, count(*)::BIGINT AS cooc
                FROM bg GROUP BY 1, 2)
         SELECT a, b, cooc, ca.c AS ca, cb.c AS cb,
                round((cooc * t)::DOUBLE / (ca.c * cb.c)::DOUBLE, 9) AS lift
         FROM bc JOIN uc ca ON bc.a = ca.w JOIN uc cb ON bc.b = cb.w, tot
         WHERE cooc >= ${TextAnalysis.CoocMin}
         ORDER BY lift DESC, a, b
         LIMIT ${TextAnalysis.CoocTopK}""",
    // per-document bigram commonness; `//` floors like the Spark side
    // (mirrors TextAnalysis.bigramCommonness)
    "q_bigram_lm" ->
      """WITH tk AS (SELECT doc_id, string_split_regex(text, '\s+') AS toks
                FROM documents),
         bg AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
                  i -> {'a': toks[i], 'b': toks[i + 1]})) AS p
                FROM tk),
         dbc AS (SELECT doc_id, p.a AS a, p.b AS b, count(*)::BIGINT AS dcnt
                 FROM bg GROUP BY 1, 2, 3),
         cc AS (SELECT a, b, sum(dcnt)::BIGINT AS cooc FROM dbc GROUP BY 1, 2),
         per AS (SELECT doc_id, sum(dcnt)::BIGINT AS n_bigrams,
                        sum(dcnt * cooc)::BIGINT AS sum_freq
                 FROM dbc JOIN cc USING (a, b) GROUP BY 1)
         SELECT d.doc_id,
                coalesce(per.n_bigrams, 0) AS n_bigrams,
                coalesce(per.sum_freq, 0) AS sum_freq,
                CASE WHEN coalesce(per.n_bigrams, 0) = 0 THEN NULL
                     ELSE (1000 * per.sum_freq) // per.n_bigrams
                END AS avg_freq_x1000
         FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
         ORDER BY d.doc_id""",
    // JL random projection onto the md5-seeded hyperplanes (mirrors
    // Similarity.randomProjection; plane literals from the ONE Scala
    // definition, dot as the shared left-fold macro)
    "q_embed_rp" -> {
      val cols = Similarity.planeComponents(Similarity.EmbedDims)
        .zipWithIndex.map { case (w, p) =>
          s"round(${dotSql("v", s"[${w.mkString(", ")}]")}, 9) AS p$p"
        }.mkString(",\n                ")
      s"""WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
         SELECT vec_id,
                $cols
         FROM c ORDER BY vec_id"""
    },
    // leakage-safe split: split keyed by the near-dup component label
    // (mirrors TextAnalysis.leakageSafeSplit; component CTEs are
    // q_dedup_components')
    "q_split_leakage" -> s"""
         WITH RECURSIVE $simhash64SkCtes,
         $simhash64PairsCte,
         edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
                   UNION ALL SELECT b_id, a_id FROM pairs),
         reach(a, b) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src),
         comp AS (SELECT a AS doc_id, min(b) AS component
                  FROM reach GROUP BY a),
         sp AS (SELECT doc_id, component,
                  CASE WHEN ${hexIntSql("'split:' || CAST(component AS VARCHAR)")}
                            % 100 < 90
                       THEN 'train' ELSE 'val' END AS split,
                  CASE WHEN ${hexIntSql("'split:' || CAST(doc_id AS VARCHAR)")}
                            % 100 < 90
                       THEN 'train' ELSE 'val' END AS naive_split
                FROM comp)
         SELECT doc_id, component, split, naive_split,
                split <> naive_split AS moved
         FROM sp ORDER BY doc_id""",
    // exact rank-value median and MAD via the winsorize cross-multiply
    // device (rn*2 >= cnt selects the value at rank ceil(n/2)); mirrors
    // AnalyticsOps.anomalyMad
    "q_anomaly_mad" -> {
      import graft.ops.AnalyticsOps.MadK
      s"""
         WITH r AS (SELECT event_id, event_type,
                  CAST(round(value * 100) AS BIGINT) AS cents,
                  row_number() OVER (PARTITION BY event_type
                    ORDER BY CAST(round(value * 100) AS BIGINT),
                             event_id) AS rn,
                  count(*) OVER (PARTITION BY event_type) AS cnt
               FROM events),
         m AS (SELECT *,
                  min(CASE WHEN rn * 2 >= cnt THEN cents END)
                    OVER (PARTITION BY event_type) AS med_cents
               FROM r),
         d AS (SELECT *, abs(cents - med_cents) AS abs_dev,
                  row_number() OVER (PARTITION BY event_type
                    ORDER BY abs(cents - med_cents), event_id) AS dn
               FROM m),
         f AS (SELECT *,
                  min(CASE WHEN dn * 2 >= cnt THEN abs_dev END)
                    OVER (PARTITION BY event_type) AS mad_cents
               FROM d)
         SELECT event_id, event_type, cents, med_cents, mad_cents,
                abs_dev > $MadK * mad_cents AS is_anomaly
         FROM f ORDER BY event_id"""
    },
    // exact weighted median: smallest value whose cumulative synthetic
    // weight (event_id % 7 + 1) reaches half the total — the MAD
    // cross-multiply device lifted from counts to weights (mirrors
    // AnalyticsOps.weightedMedian)
    "q_w11_weighted_median" -> s"""
         WITH r AS (SELECT event_id, event_type,
                  CAST(round(value * 100) AS BIGINT) AS cents,
                  event_id % 7 + 1 AS w
               FROM events),
         c AS (SELECT *,
                  sum(w) OVER (PARTITION BY event_type
                    ORDER BY cents, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
                  sum(w) OVER (PARTITION BY event_type) AS totw,
                  row_number() OVER (PARTITION BY event_type
                    ORDER BY cents, event_id) AS rn,
                  count(*) OVER (PARTITION BY event_type) AS cnt
               FROM r)
         SELECT event_type,
                CAST(max(cnt) AS BIGINT) AS n,
                CAST(max(totw) AS BIGINT) AS tot_w,
                min(CASE WHEN rn * 2 >= cnt THEN cents END) AS med_cents,
                min(CASE WHEN cumw * 2 >= totw THEN cents END) AS wmed_cents
         FROM c GROUP BY event_type ORDER BY event_type""",
    // time-weighted linear interpolation between the surrounding
    // observations; floor division spelled out as (a - ((a%b + b)%b)) // b
    // so the negative-numerator semantics are engine-identical (mirrors
    // AsofOps.interpFill)
    "q_w10_interp" -> s"""
         WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us,
                  CASE WHEN event_id % 3 = 0
                       THEN CAST(round(value * 100) AS BIGINT)
                  END AS reading_cents
               FROM events),
         w AS (SELECT *,
                  last_value(reading_cents IGNORE NULLS) OVER pb
                    AS prev_cents,
                  last_value(CASE WHEN reading_cents IS NOT NULL
                                  THEN ts_us END IGNORE NULLS) OVER pb
                    AS prev_ts,
                  first_value(reading_cents IGNORE NULLS) OVER pf
                    AS next_cents,
                  first_value(CASE WHEN reading_cents IS NOT NULL
                                   THEN ts_us END IGNORE NULLS) OVER pf
                    AS next_ts
               FROM e
               WINDOW pb AS (PARTITION BY user_id ORDER BY ts_us, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                      pf AS (PARTITION BY user_id ORDER BY ts_us, event_id
                        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
         SELECT event_id, user_id, ts_us, reading_cents,
                CASE WHEN reading_cents IS NOT NULL THEN reading_cents
                     WHEN prev_cents IS NULL THEN next_cents
                     WHEN next_cents IS NULL THEN prev_cents
                     WHEN next_ts = prev_ts THEN prev_cents
                     ELSE prev_cents +
                       ((next_cents - prev_cents) * (ts_us - prev_ts)
                        - ((((next_cents - prev_cents) * (ts_us - prev_ts))
                             % (next_ts - prev_ts) + (next_ts - prev_ts))
                           % (next_ts - prev_ts)))
                       // (next_ts - prev_ts)
                END AS interp_cents,
                reading_cents IS NULL AS was_filled
         FROM w ORDER BY event_id""",
    // the component closure (shared CTE chain with q_dedup_components)
    // plus keep-longest selection under the unique (n_chars desc, doc_id)
    // order; mirrors Dedup.dedupCanonical
    "q_dedup_canonical" -> s"""
         WITH RECURSIVE $simhash64SkCtes,
         $simhash64PairsCte,
         edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
                   UNION ALL SELECT b_id, a_id FROM pairs),
         reach(a, b) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src),
         comp AS (SELECT a AS doc_id, min(b) AS component
                  FROM reach GROUP BY a),
         j AS (SELECT c.doc_id, c.component, d.n_chars
               FROM comp c JOIN documents d ON c.doc_id = d.doc_id)
         SELECT doc_id, component, n_chars,
                row_number() OVER (PARTITION BY component
                  ORDER BY n_chars DESC, doc_id) = 1 AS is_canonical
         FROM j ORDER BY doc_id""",
    // the fuzzy-pair closure on min-partkey surrogate ids; the oracle
    // blocks on first token only (unsalted) — matching proves the salted
    // staircase plan lossless, the q_fuzzy_match contract extended to
    // the transitive clustering (mirrors MatchOps.entityResolve)
    "q_entity_resolve" -> s"""
         WITH RECURSIVE nm AS (SELECT p_name, min(p_partkey) AS nid
                               FROM part GROUP BY p_name),
         blocked AS (SELECT p_name, nid,
                            string_split(p_name, ' ')[1] AS blk FROM nm),
         prs AS (SELECT a.nid AS a_id, b.nid AS b_id
                 FROM blocked a JOIN blocked b
                   ON a.blk = b.blk AND a.p_name < b.p_name
                 WHERE levenshtein(a.p_name, b.p_name)
                         <= ${graft.ops.MatchOps.MaxEditDistance}),
         edges AS (SELECT a_id AS src, b_id AS dst FROM prs
                   UNION ALL SELECT b_id, a_id FROM prs),
         reach(a, b) AS (
           SELECT nid, nid FROM nm
           UNION
           SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src),
         comp AS (SELECT a AS name_id, min(b) AS entity_id
                  FROM reach GROUP BY a)
         SELECT n.p_name, c.name_id, c.entity_id,
                cn.p_name AS canonical_name,
                c.name_id = c.entity_id AS is_canonical
         FROM comp c JOIN nm n ON c.name_id = n.nid
                     JOIN nm cn ON c.entity_id = cn.nid
         ORDER BY name_id""",
    // share-delta drift with the probabilities cleared to integer
    // cross-products (mirrors ProfileOps.dqDrift)
    "q_dq_drift" -> {
      import graft.ops.ProfileOps.{DriftBins, DriftDenom}
      s"""
         WITH e AS (SELECT event_type, epoch_us(ts) AS ts_us,
                  CAST(round(value * 100) AS BIGINT) AS cents FROM events),
         g AS (SELECT min(ts_us) AS lo, max(ts_us) AS hi,
                      max(cents) AS mc FROM e),
         b AS (SELECT event_type,
                      CASE WHEN ts_us * 2 < lo + hi THEN 0 ELSE 1 END
                        AS half,
                      least($DriftBins - 1, cents * $DriftBins // (mc + 1))
                        AS bin
               FROM e, g),
         c AS (SELECT event_type, bin,
                      CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END)
                           AS BIGINT) AS c1,
                      CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END)
                           AS BIGINT) AS c2
               FROM b GROUP BY 1, 2),
         tt AS (SELECT *,
                      CAST(sum(c1) OVER (PARTITION BY event_type)
                           AS BIGINT) AS n1,
                      CAST(sum(c2) OVER (PARTITION BY event_type)
                           AS BIGINT) AS n2
                FROM c)
         SELECT event_type, bin, c1, c2, n1, n2,
                abs(c1 * n2 - c2 * n1) * $DriftDenom > n1 * n2 AS drifted
         FROM tt ORDER BY event_type, bin"""
    },
    // monotone-cumulative knee per coverage target (mirrors
    // TextAnalysis.vocabCoverage)
    "q_vocab_coverage" -> s"""
         WITH v AS (SELECT term, count(*)::BIGINT AS freq
               FROM (SELECT unnest(string_split_regex(text, '\\s+')) AS term
                     FROM documents)
               GROUP BY 1),
         r AS (SELECT CAST(row_number() OVER
                        (ORDER BY freq DESC, term) AS BIGINT) AS rn,
                  CAST(sum(freq) OVER (ORDER BY freq DESC, term
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum,
                  CAST(sum(freq) OVER () AS BIGINT) AS tot
               FROM v),
         p AS (SELECT unnest([${TextAnalysis.CoveragePcts.mkString(", ")}])
                 AS pct)
         SELECT pct,
                min(CASE WHEN cum * 100 >= tot * pct THEN rn END)
                  AS vocab_size,
                min(CASE WHEN cum * 100 >= tot * pct THEN cum END)
                  AS covered_cnt,
                max(tot) AS total_cnt
         FROM p, r GROUP BY pct ORDER BY pct""",
    // both layouts' file envelopes + the box-overlap scan count; the
    // z-value macro is the ONE ZOrderOps definition (mirrors
    // ZOrderOps.zorderPrune)
    "q_zorder_prune" -> {
      import graft.ops.ZOrderOps._
      s"""
         WITH b AS (SELECT o_orderkey,
                  o_custkey % ${1L << DimBits} AS x,
                  CAST(datediff('day', DATE '1992-01-01', o_orderdate)
                       % ${1 << DimBits} AS BIGINT) AS y
               FROM orders),
         zz AS (SELECT *, ${zvalueSql("x", "y")} AS z FROM b),
         files AS (
           SELECT 'natural' AS layout,
                  ntile($PruneFiles) OVER (ORDER BY o_orderkey) AS f, x, y
           FROM zz
           UNION ALL
           SELECT 'zorder',
                  ntile($PruneFiles) OVER (ORDER BY z, o_orderkey), x, y
           FROM zz),
         fs AS (SELECT layout, f,
                  min(x) AS x_lo, max(x) AS x_hi,
                  min(y) AS y_lo, max(y) AS y_hi,
                  CAST(sum(CASE WHEN x BETWEEN $BoxXLo AND $BoxXHi
                                 AND y BETWEEN $BoxYLo AND $BoxYHi
                           THEN 1 ELSE 0 END) AS BIGINT) AS rows_in_box
               FROM files GROUP BY 1, 2)
         SELECT layout, count(*) AS n_files,
                CAST(sum(CASE WHEN x_lo <= $BoxXHi AND x_hi >= $BoxXLo
                               AND y_lo <= $BoxYHi AND y_hi >= $BoxYLo
                         THEN 1 ELSE 0 END) AS BIGINT) AS files_scanned,
                CAST(sum(rows_in_box) AS BIGINT) AS rows_matched
         FROM fs GROUP BY layout ORDER BY layout"""
    },
    // the pivot matrix melted back to rows — one UNION ALL branch per
    // priority literal, generated from the ONE Priorities list (mirrors
    // CoreOps.a14Unpivot's stack)
    "q_a14_unpivot" -> {
      val cells = CoreOps.Priorities.map(p =>
        s"""CAST(sum(CASE WHEN o_orderpriority = '$p' THEN 1 ELSE 0 END)
                 AS BIGINT) AS "$p"""").mkString(",\n                ")
      val branches = CoreOps.Priorities.map(p =>
        s"""SELECT o_orderstatus, '$p' AS o_orderpriority,
                "$p" AS n_orders FROM p""").mkString("\n         UNION ALL\n         ")
      s"""
         WITH p AS (SELECT o_orderstatus,
                $cells
               FROM orders GROUP BY 1)
         $branches
         ORDER BY o_orderstatus, o_orderpriority"""
    },
    // odd/even snapshot halves reconciled as SETS (mirrors
    // CoreOps.j12FullOuter)
    "q_j12_full_outer" -> """
         WITH a AS (SELECT o_custkey,
                  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                       AS BIGINT) AS ca,
                  CAST(count(*) AS BIGINT) AS na
               FROM orders WHERE o_orderkey % 2 = 0 GROUP BY 1),
         b AS (SELECT o_custkey,
                  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                       AS BIGINT) AS cb,
                  CAST(count(*) AS BIGINT) AS nb
               FROM orders WHERE o_orderkey % 2 = 1 GROUP BY 1)
         SELECT coalesce(a.o_custkey, b.o_custkey) AS o_custkey,
                coalesce(ca, 0) AS cents_a, coalesce(na, 0) AS n_a,
                coalesce(cb, 0) AS cents_b, coalesce(nb, 0) AS n_b,
                CASE WHEN ca IS NULL THEN 'right_only'
                     WHEN cb IS NULL THEN 'left_only'
                     ELSE 'both' END AS presence,
                coalesce(cb, 0) - coalesce(ca, 0) AS delta_cents
         FROM a FULL OUTER JOIN b ON a.o_custkey = b.o_custkey
         ORDER BY o_custkey""",
    // induced-subgraph common neighbors + integer-cleared Jaccard
    // (mirrors GraphOps.nodeSimilarity; edge CTEs shared with the
    // triangle/bfs oracles' co-purchase build)
    // every shared CTE is MATERIALIZED: DuckDB's default inlining
    // re-derives the co-purchase edge set once per reference and at sf5
    // the re-planned wedge join spilled past the disk (the stepwise
    // sizes are tiny: 193k edges, 603k wedge pairs, 3 s materialized) —
    // an evaluation hint, zero semantics change
    "q_graph_jaccard" -> {
      import graft.ops.GraphOps.{SimMaxDeg, SimTopK, TriMinSupport}
      s"""
         WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         prs AS MATERIALIZED (SELECT a.pk AS pa, b.pk AS pb, count(*) AS supp
                 FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
                 GROUP BY 1, 2),
         base AS MATERIALIZED (SELECT pa, pb FROM prs WHERE supp >= $TriMinSupport),
         sym AS MATERIALIZED (SELECT pa AS node, pb AS nbr FROM base
                 UNION ALL SELECT pb, pa FROM base),
         keep AS MATERIALIZED (SELECT node FROM sym GROUP BY node
                  HAVING count(*) <= $SimMaxDeg),
         se AS MATERIALIZED (SELECT s.node, s.nbr FROM sym s
                JOIN keep k1 ON s.node = k1.node
                JOIN keep k2 ON s.nbr = k2.node),
         sdeg AS MATERIALIZED (SELECT node, CAST(count(*) AS BIGINT) AS deg
                  FROM se GROUP BY node),
         it AS MATERIALIZED (SELECT l.node AS a, r.node AS b,
                       CAST(count(*) AS BIGINT) AS inter
                FROM se l JOIN se r
                  ON l.nbr = r.nbr AND l.node < r.node
                GROUP BY 1, 2)
         SELECT a, b, inter, da.deg AS da, db.deg AS db,
                inter * 1000 // (da.deg + db.deg - inter) AS jac_x1000
         FROM it JOIN sdeg da ON it.a = da.node
                 JOIN sdeg db ON it.b = db.node
         ORDER BY jac_x1000 DESC, a, b LIMIT $SimTopK"""
    },
    // base + delta stats merged by the min/max/count monoid; the oracle
    // is the FULL recompute — merged = rebuilt is the delta-rule proof
    // (mirrors ZOrderOps.ivmZonemap)
    "q_ivm_zonemap" -> {
      import graft.ops.ZOrderOps.{ZonemapShift, DimBits}
      s"""
         WITH b AS (SELECT o_orderkey,
                  o_custkey % ${1L << DimBits} AS x,
                  CAST(datediff('day', DATE '1992-01-01', o_orderdate)
                       % ${1 << DimBits} AS BIGINT) AS y
               FROM orders),
         zz AS (SELECT *, ${graft.ops.ZOrderOps.zvalueSql("x", "y")} AS z
                FROM b)
         SELECT z >> $ZonemapShift AS f,
                min(x) AS x_lo, max(x) AS x_hi,
                min(y) AS y_lo, max(y) AS y_hi,
                CAST(count(*) AS BIGINT) AS n_rows
         FROM zz GROUP BY 1 ORDER BY f"""
    },
    // byte-shingle `sh` CTE + the SAME shared minhashCtes the text tier
    // uses — one update site per engine for the signature/band arithmetic
    // (mirrors MultimodalOps.mmNearDup through Dedup.lshVerifiedPairs)
    "q_mm_neardup" -> s"""
         WITH hx AS (SELECT doc_id, hex(encode(text)) AS hx FROM documents),
         sh AS (SELECT doc_id,
                  CASE WHEN len(hx) >= 16
                       THEN list_distinct(list_transform(
                              range(1, len(hx) - 14, 2),
                              i -> substr(hx, CAST(i AS INT), 16)))
                       ELSE [hx] END AS grams
                FROM hx),
         $minhashCtes,
         cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
                  FROM bands x JOIN bands y
                    ON x.band_idx = y.band_idx AND x.bkey = y.bkey
                       AND x.doc_id < y.doc_id)
         SELECT a_id, b_id, jac FROM (
           SELECT a_id, b_id, ${jaccardSql("ga.grams", "gb.grams")} AS jac
           FROM cand JOIN sh ga ON cand.a_id = ga.doc_id
                     JOIN sh gb ON cand.b_id = gb.doc_id)
         WHERE jac >= 0.5 ORDER BY a_id, b_id""",
  )
}
