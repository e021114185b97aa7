package graft

import org.apache.spark.sql.SparkSession
import graft.functions.{BloomBuild, BloomContains, CharStats, CharTrigrams, CmsSketch, DotProduct, HashedScore, HllRegisters, JsonProject, KMinValues, MinhashSig, NgramDupStats, QuantizeInt8, RollingFingerprint, Simhash64Sketch, SimhashSketch, SlugTruncate, TagPipeline, Unidecode, WordShingles}

/** SQL-surface registration: mounts the star schema and the engine's derived
  * relations as temp views and registers the native functions, so the whole
  * library is reachable from `spark.sql(...)` — the switchover surface for a
  * user of the reference (their five legacy tables become views the same
  * way via [[graft.sources.JdbcTables]]).
  */
object GraftCatalog {

  /** Register base tables, derived views, and functions on the session.
    * The views pin nothing: they mount inside [[Reuse.released]].
    */
  def register(spark: SparkSession, sfDir: String): Unit = Reuse.released {
    Tables.names.foreach { n =>
      Tables.table(spark, sfDir, n).createOrReplaceTempView(n)
    }
    SyncPipeline.packageFlat(spark, sfDir).createOrReplaceTempView("package_flat")
    SyncPipeline.mergeActions(spark, sfDir).createOrReplaceTempView("merge_actions")
    // the two tree views DO run eager jobs at registration (treeWalk's
    // per-level localCheckpoint + isEmpty) — the accepted exception to
    // the lazy-mount rule below: the loop is bounded by tree DEPTH over
    // DIMENSION-sized tables (a few tiny jobs), unlike the corpus-sized
    // fixpoints (components/kCore/bfs) that stay unmounted
    graft.ops.HierarchyOps.j5Tree(spark, sfDir).createOrReplaceTempView("category_tree")
    graft.ops.HierarchyOps.groupDocs(spark, sfDir)
      .createOrReplaceTempView("group_docs")
    // lazy plans only: nearDupComponents is deliberately NOT mounted — its
    // iterative loop runs Spark jobs eagerly, which a view registration
    // must not do; call it directly when needed
    graft.llm.TextAnalysis.tfidfTopTerms(spark, sfDir)
      .createOrReplaceTempView("tfidf_top_terms")
    graft.llm.TextAnalysis.trainValSplit(spark, sfDir)
      .createOrReplaceTempView("sample_split")
    graft.llm.Curation.decontaminate(spark, sfDir)
      .createOrReplaceTempView("decontaminated")
    graft.llm.Curation.sourceMix(spark, sfDir)
      .createOrReplaceTempView("source_mix")
    graft.llm.Curation.sourceMixTemperature(spark, sfDir)
      .createOrReplaceTempView("source_mix_temp")
    // k pinned: auto-sizing (k = None) counts the corpus — an eager job
    // a view registration must not run; the fixture-fixed k is identical
    // at any mounted harness scale ≤ sf0.1
    graft.llm.Similarity.semDedup(spark, sfDir,
      k = Some(graft.llm.Similarity.KmeansK))
      .createOrReplaceTempView("semdedup")
    graft.llm.Curation.pipelineCurate(spark, sfDir)
      .createOrReplaceTempView("curated_corpus")
    graft.llm.Similarity.retrieveRerank(spark, sfDir)
      .createOrReplaceTempView("retrieve_rerank")
    // round-6 additions — all lazy plans (pageRank's loop only BUILDS the
    // plan; the eagerly-iterating components stays unmounted)
    graft.llm.Sketches.hllDistinct(spark, sfDir)
      .createOrReplaceTempView("hll_distinct")
    graft.llm.Sketches.cmsTermFreq(spark, sfDir)
      .createOrReplaceTempView("cms_term_freq")
    graft.llm.Sketches.kmvOverlap(spark, sfDir)
      .createOrReplaceTempView("sketch_overlap")
    graft.ops.ProfileOps.profileTable(spark, sfDir)
      .createOrReplaceTempView("table_profile")
    graft.ops.GraphOps.pageRank(spark, sfDir)
      .createOrReplaceTempView("pagerank")
    graft.ops.ChangeOps.scd2History(spark, sfDir)
      .createOrReplaceTempView("scd2_history")
    graft.ops.AsofOps.gapFill(spark, sfDir)
      .createOrReplaceTempView("gap_fill")
    graft.ops.CoreOps.w7MovingAvg(spark, sfDir)
      .createOrReplaceTempView("moving_avg")
    graft.ops.IncrementalOps.ivmMergeAgg(spark, sfDir)
      .createOrReplaceTempView("ivm_agg")
    // k pinned for the same no-eager-jobs reason as the semdedup mount
    graft.llm.Similarity.hardNegatives(spark, sfDir,
      k = Some(graft.llm.Similarity.KmeansK))
      .createOrReplaceTempView("hard_negatives")
    graft.llm.TextAnalysis.bpeEncode(spark, sfDir)
      .createOrReplaceTempView("bpe_encoded")
    graft.llm.TextAnalysis.oovRate(spark, sfDir)
      .createOrReplaceTempView("oov_rate")
    // analytics batch — all lazy plans
    graft.ops.AnalyticsOps.funnelStages(spark, sfDir)
      .createOrReplaceTempView("funnel_stages")
    graft.ops.AnalyticsOps.cohortRetention(spark, sfDir)
      .createOrReplaceTempView("cohort_retention")
    graft.ops.AnalyticsOps.weightedSample(spark, sfDir)
      .createOrReplaceTempView("weighted_sample")
    graft.ops.AnalyticsOps.lengthOutliers(spark, sfDir)
      .createOrReplaceTempView("length_outliers")
    graft.ops.GraphOps.triangles(spark, sfDir)
      .createOrReplaceTempView("copurchase_triangles")
    graft.ops.MatchOps.fuzzyNameMatch(spark, sfDir)
      .createOrReplaceTempView("fuzzy_name_match")
    graft.ops.IncrementalOps.ivmJoin(spark, sfDir)
      .createOrReplaceTempView("ivm_join")
    // retrieval-index tier — lazy plans
    graft.llm.TextAnalysis.invertedIndex(spark, sfDir)
      .createOrReplaceTempView("inverted_index")
    graft.llm.TextAnalysis.bm25Indexed(spark, sfDir)
      .createOrReplaceTempView("bm25_indexed")
    graft.llm.TextAnalysis.collocations(spark, sfDir)
      .createOrReplaceTempView("collocations")
    graft.llm.TextAnalysis.bigramCommonness(spark, sfDir)
      .createOrReplaceTempView("bigram_lm")
    // leakageSafeSplit stays unmounted like the components it composes
    // (its fixpoint runs Spark jobs eagerly - the view contract forbids it)
    graft.llm.Similarity.randomProjection(spark, sfDir)
      .createOrReplaceTempView("embed_rp")
    graft.llm.TextAnalysis.ivmIndex(spark, sfDir)
      .createOrReplaceTempView("ivm_index")
    // round-7 batch — lazy plans; kCore stays UNMOUNTED (its per-round
    // localCheckpoint runs Spark jobs eagerly, the same exclusion as the
    // components fixpoint)
    graft.ops.AnalyticsOps.paretoFront(spark, sfDir)
      .createOrReplaceTempView("pareto_front")
    graft.ops.AnalyticsOps.ohlcResample(spark, sfDir)
      .createOrReplaceTempView("ohlc_bars")
    graft.ops.ProfileOps.dqChecks(spark, sfDir)
      .createOrReplaceTempView("dq_checks")
    graft.llm.Sketches.histQuantiles(spark, sfDir)
      .createOrReplaceTempView("hist_quantiles")
    graft.llm.TextAnalysis.docNeighbors(spark, sfDir)
      .createOrReplaceTempView("tfidf_neighbors")
    // bfs stays unmounted with kCore (eager per-round checkpoints)
    graft.ops.AnalyticsOps.winsorize(spark, sfDir)
      .createOrReplaceTempView("winsorized")
    graft.llm.TextAnalysis.skipgrams(spark, sfDir)
      .createOrReplaceTempView("skipgrams")
    graft.llm.TextAnalysis.negativeSamples(spark, sfDir)
      .createOrReplaceTempView("negative_samples")
    graft.ops.AnalyticsOps.anomalyMad(spark, sfDir)
      .createOrReplaceTempView("anomaly_mad")
    graft.ops.AsofOps.interpFill(spark, sfDir)
      .createOrReplaceTempView("interp_fill")
    graft.ops.ProfileOps.dqDrift(spark, sfDir)
      .createOrReplaceTempView("dq_drift")
    graft.llm.TextAnalysis.vocabCoverage(spark, sfDir)
      .createOrReplaceTempView("vocab_coverage")
    graft.ops.ZOrderOps.zorderPrune(spark, sfDir)
      .createOrReplaceTempView("zorder_prune")
    graft.ops.CoreOps.a14Unpivot(spark, sfDir)
      .createOrReplaceTempView("unpivoted_counts")
    graft.ops.CoreOps.j12FullOuter(spark, sfDir)
      .createOrReplaceTempView("snapshot_reconciliation")
    graft.ops.GraphOps.nodeSimilarity(spark, sfDir)
      .createOrReplaceTempView("node_similarity")
    graft.ops.ZOrderOps.ivmZonemap(spark, sfDir)
      .createOrReplaceTempView("ivm_zonemap")
    // dedupCanonical and entityResolve stay unmounted with the components
    // fixpoint they compose (eager jobs, the standing view-contract
    // exclusion)
    // training/eval + retrieval-fusion batch — lazy plans;
    // perceptronTrain (per-epoch scalar collects) and mmrDiversify
    // (per-round localCheckpoint) stay unmounted with kCore/BFS
    graft.ops.AnalyticsOps.weightedMedian(spark, sfDir)
      .createOrReplaceTempView("weighted_median")
    graft.llm.Training.prCurve(spark, sfDir)
      .createOrReplaceTempView("pr_curve")
    graft.llm.Sketches.cmsTopK(spark, sfDir)
      .createOrReplaceTempView("cms_topk")
    graft.llm.Similarity.rrfFusion(spark, sfDir)
      .createOrReplaceTempView("rrf_fusion")
    graft.llm.Similarity.maxSimLate(spark, sfDir)
      .createOrReplaceTempView("maxsim_results")
    // batch 2 — lazy plans; labelPropagation stays unmounted with
    // kCore/BFS/MMR (eager per-round checkpoints)
    graft.ops.AnalyticsOps.a15GroupingSets(spark, sfDir)
      .createOrReplaceTempView("grouping_sets_report")
    graft.llm.Curation.epochShuffle(spark, sfDir)
      .createOrReplaceTempView("epoch_shuffle")
    graft.llm.TextAnalysis.bpeFertility(spark, sfDir)
      .createOrReplaceTempView("bpe_fertility")
    graft.ops.AnalyticsOps.basketRules(spark, sfDir)
      .createOrReplaceTempView("basket_rules")
    graft.ops.AnalyticsOps.rfmSegments(spark, sfDir)
      .createOrReplaceTempView("rfm_segments")
    graft.ops.CoreOps.calSpine(spark, sfDir)
      .createOrReplaceTempView("cal_spine")
    graft.ops.PrivacyOps.kAnonymity(spark, sfDir)
      .createOrReplaceTempView("privacy_kanon")
    graft.llm.Dedup.containmentPairs(spark, sfDir)
      .createOrReplaceTempView("containment_pairs")
    graft.ops.AsofOps.asofClickTol(spark, sfDir)
      .createOrReplaceTempView("asof_tolerance")
    graft.ops.CoreOps.w15RangeFrame(spark, sfDir)
      .createOrReplaceTempView("range_frame_1h")
    graft.ops.AnalyticsOps.flagshipRevenue(spark, sfDir)
      .createOrReplaceTempView("flagship_revenue")
    graft.llm.TextAnalysis.langIdConfusion(spark, sfDir)
      .createOrReplaceTempView("langid_confusion")
    graft.llm.Curation.curateBudget(spark, sfDir)
      .createOrReplaceTempView("curate_budget")
    graft.ops.PrivacyOps.erasurePropagation(spark, sfDir)
      .createOrReplaceTempView("erasure_report")
    graft.ops.IncrementalOps.ivmSketch(spark, sfDir)
      .createOrReplaceTempView("ivm_sketch")
    graft.ops.IntervalOps.firstTouchAttribution(spark, sfDir,
        windowSeconds = graft.ops.IntervalOps.FirstTouchWindowSeconds)
      .createOrReplaceTempView("first_touch_attr")
    graft.ops.AnalyticsOps.funnelLatency(spark, sfDir)
      .createOrReplaceTempView("funnel_latency")
    graft.ops.CoreOps.seasonality(spark, sfDir)
      .createOrReplaceTempView("dow_seasonality")
    // round-8 additions — both lazy plans (the pixel decode's
    // mapPartitions and the error classifier build no jobs at mount time)
    graft.ops.MultimodalOps.mmPixels(spark, sfDir)
      .createOrReplaceTempView("pixel_stats")
    SyncPipeline.syncErrors(spark, sfDir)
      .createOrReplaceTempView("sync_errors")
    // round-9: the color/JPEG decode tier — lazy mapPartitions plan
    graft.ops.MultimodalOps.mmPixelsRgb(spark, sfDir)
      .createOrReplaceTempView("pixel_rgb_stats")
    // round-10: audio (WAVE/PCM) and real-resize tiers — lazy plans too
    graft.ops.MultimodalOps.mmAudio(spark, sfDir)
      .createOrReplaceTempView("audio_stats")
    graft.ops.MultimodalOps.mmResize(spark, sfDir)
      .createOrReplaceTempView("resize_stats")
    // round-10 continuation: the multi-frame (animated GIF) tier
    graft.ops.MultimodalOps.mmVideo(spark, sfDir)
      .createOrReplaceTempView("video_frame_stats")
    // round-13 continuation: DSIR selection + retrieval-quality eval —
    // lazy plans
    graft.llm.Curation.dsirWeights(spark, sfDir)
      .createOrReplaceTempView("dsir_weights")
    graft.llm.Curation.dsirSelect(spark, sfDir)
      .createOrReplaceTempView("dsir_selected")
    graft.llm.Similarity.annEval(spark, sfDir)
      .createOrReplaceTempView("ann_eval")
    graft.llm.Curation.textDrift(spark, sfDir)
      .createOrReplaceTempView("text_drift")
    // round-13 continuation: duplicated-substring family + prototype
    // pruning — all lazy plans; k pinned on the prune for the same
    // no-eager-jobs reason as the semdedup mount
    graft.llm.Dedup.substrRanges(spark, sfDir)
      .createOrReplaceTempView("substr_ranges")
    graft.llm.Dedup.substrTrim(spark, sfDir)
      .createOrReplaceTempView("substr_trimmed")
    graft.llm.Dedup.substrStats(spark, sfDir)
      .createOrReplaceTempView("substr_stats")
    graft.llm.Similarity.prototypePrune(spark, sfDir,
      k = Some(graft.llm.Similarity.KmeansK))
      .createOrReplaceTempView("prototype_prune")
    // round-13 continuation: CCNet LM-perplexity filter — lazy plans
    graft.llm.Curation.lmScore(spark, sfDir)
      .createOrReplaceTempView("lm_scores")
    graft.llm.Curation.lmBuckets(spark, sfDir)
      .createOrReplaceTempView("lm_buckets")
    graft.llm.Curation.lmProfile(spark, sfDir)
      .createOrReplaceTempView("lm_profile")
    graft.llm.Curation.tokenBudgetSelect(spark, sfDir)
      .createOrReplaceTempView("lm_budget_selected")
    graft.llm.Curation.pipelineQuality(spark, sfDir)
      .createOrReplaceTempView("quality_pipeline")
    // round-13 continuation: excess-surprise / novelty / balanced-sample /
    // semantic-decon selection tier — lazy plans
    graft.llm.Curation.lmExcess(spark, sfDir)
      .createOrReplaceTempView("lm_excess_selected")
    graft.llm.Curation.ngramNovelty(spark, sfDir)
      .createOrReplaceTempView("ngram_novelty")
    graft.llm.Similarity.diversitySample(spark, sfDir,
      k = Some(graft.llm.Similarity.KmeansK))
      .createOrReplaceTempView("diversity_sample")
    graft.llm.Similarity.semanticDecontaminate(spark, sfDir)
      .createOrReplaceTempView("semantic_decon")
    registerFunctions(spark)
  }

  /** Register the native SQL functions only (idempotent). */
  def registerFunctions(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    if (!reg.functionExists(SlugTruncate.identifier))
      reg.registerFunction(SlugTruncate.identifier, SlugTruncate.info,
        SlugTruncate.builder)
    if (!reg.functionExists(JsonProject.identifier))
      reg.registerFunction(JsonProject.identifier, JsonProject.info,
        JsonProject.builder)
    if (!reg.functionExists(TagPipeline.identifier))
      reg.registerFunction(TagPipeline.identifier, TagPipeline.info,
        TagPipeline.builder)
    if (!reg.functionExists(CharTrigrams.identifier))
      reg.registerFunction(CharTrigrams.identifier, CharTrigrams.info,
        CharTrigrams.builder)
    if (!reg.functionExists(DotProduct.identifier))
      reg.registerFunction(DotProduct.identifier, DotProduct.info,
        DotProduct.builder)
    if (!reg.functionExists(WordShingles.identifier))
      reg.registerFunction(WordShingles.identifier, WordShingles.info,
        WordShingles.builder)
    if (!reg.functionExists(QuantizeInt8.identifier))
      reg.registerFunction(QuantizeInt8.identifier, QuantizeInt8.info,
        QuantizeInt8.builder)
    if (!reg.functionExists(KMinValues.identifier))
      reg.registerFunction(KMinValues.identifier, KMinValues.info,
        KMinValues.builder)
    if (!reg.functionExists(HllRegisters.identifier))
      reg.registerFunction(HllRegisters.identifier, HllRegisters.info,
        HllRegisters.builder)
    if (!reg.functionExists(CmsSketch.identifier))
      reg.registerFunction(CmsSketch.identifier, CmsSketch.info,
        CmsSketch.builder)
    if (!reg.functionExists(NgramDupStats.identifier))
      reg.registerFunction(NgramDupStats.identifier, NgramDupStats.info,
        NgramDupStats.builder)
    if (!reg.functionExists(BloomBuild.identifier))
      reg.registerFunction(BloomBuild.identifier, BloomBuild.info,
        BloomBuild.builder)
    if (!reg.functionExists(BloomContains.identifier))
      reg.registerFunction(BloomContains.identifier, BloomContains.info,
        BloomContains.builder)
    if (!reg.functionExists(HashedScore.identifier))
      reg.registerFunction(HashedScore.identifier, HashedScore.info,
        HashedScore.builder)
    if (!reg.functionExists(MinhashSig.identifier))
      reg.registerFunction(MinhashSig.identifier, MinhashSig.info,
        MinhashSig.builder)
    if (!reg.functionExists(SimhashSketch.identifier))
      reg.registerFunction(SimhashSketch.identifier, SimhashSketch.info,
        SimhashSketch.builder)
    if (!reg.functionExists(Simhash64Sketch.identifier))
      reg.registerFunction(Simhash64Sketch.identifier, Simhash64Sketch.info,
        Simhash64Sketch.builder)
    if (!reg.functionExists(RollingFingerprint.identifier))
      reg.registerFunction(RollingFingerprint.identifier,
        RollingFingerprint.info, RollingFingerprint.builder)
    if (!reg.functionExists(Unidecode.identifier))
      reg.registerFunction(Unidecode.identifier, Unidecode.info,
        Unidecode.builder)
    if (!reg.functionExists(CharStats.identifier))
      reg.registerFunction(CharStats.identifier, CharStats.info,
        CharStats.builder)
  }
}
