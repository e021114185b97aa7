package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regression guards: the scale properties .explain verified
  * by hand (pushdown, pruning, broadcast strategy, rank-limit pushdown,
  * shuffle counts) asserted so refactors can't silently lose them.
  */
class PlanSpec extends AnyFunSuite with SharedSpark {

  val sf = "/root/testdata/sf0.001"

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan.toString

  test("filtered scan pushes the predicate and prunes columns") {
    val p = plan("q_s3_filtered_scan")
    assert(p.contains("PushedFilters: [IsNotNull(o_orderstatus), EqualTo(o_orderstatus,F)]"))
    assert(!p.contains("o_orderdate"), "unreferenced columns must not be read")
  }

  test("dimension joins are broadcast, never sort-merge") {
    for (q <- Seq("q_j1_left_defaults", "q_j2_dim_chain", "q_j3_bridge_groups")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q should broadcast")
      assert(!p.contains("SortMergeJoin"), s"$q must not sort-merge a dim join")
    }
  }

  test("row-local string pipelines have exactly one exchange (the final sort)") {
    for (q <- Seq("q_sf5_package_tags", "q_sf2_slugify_norm", "q_mm_features",
        "q_text_pretok", "q_text_entropy")) {
      val p = plan(q)
      val exchanges = "(?<!Broadcast)Exchange".r.findAllIn(p).length
      assert(exchanges == 1, s"$q should shuffle only for the output sort, got $exchanges:\n$p")
    }
  }

  test("top-k windows push the rank limit below the full sort") {
    for (q <- Seq("q_w1_topk", "q_embed_topk")) {
      assert(plan(q).contains("WindowGroupLimit"), s"$q should pre-limit per group")
    }
  }

  test("semi/anti joins stay semi/anti (no row explosion)") {
    assert(plan("q_j6_semi").contains("LeftSemi"))
    assert(plan("q_j7_anti").contains("LeftAnti"))
  }

  // ---- round-2 guards ------------------------------------------------------

  test("package doc serializes via json_project, not CodegenFallback to_json") {
    val p = plan("q_p4_package_doc")
    assert(p.contains("json_project"), p.take(2000))
    assert(!p.contains("to_json"), "to_json would drag the pipeline out of codegen")
  }

  test("a7b prefix diff runs one aggregation, no self-join") {
    val p = plan("q_a7b_prefix_diff")
    assert(!p.contains("SortMergeJoin"), "the old self-join shape is back")
    val aggPasses = "ObjectHashAggregate\\(keys=\\[l_orderkey".r.findAllIn(p).length
    assert(aggPasses == 2, s"expected one partial+final aggregation pair, got $aggPasses")
  }

  test("simhash pairs join on pigeonhole bands, not language blocks") {
    val p = plan("q_dedup_simhash_pairs")
    assert(p.contains("band_idx"), "candidates must come from band equi-joins")
  }

  test("wide-band simhash64 joins on combination keys, dedups row-locally") {
    val p = plan("q_dedup_simhash64_wide")
    assert(p.contains("band_idx"), "candidates must come from band equi-joins")
    // the 20-key explode must not be followed by a distinct over the
    // candidate pairs — the first-agreeing-combination predicate dedups
    // row-locally at any block count, exactly like the degenerate plans
    assert(!p.toLowerCase.contains("hashaggregate(keys=[a_id"),
      s"pair dedup regressed to a distinct over the candidate set:\n${p.take(1500)}")
    assert(!p.contains("CartesianProduct"),
      "wide banding must never fall back to a cross join")
  }

  test("ngram join is prefix-filtered (DF-ranked postings feed the self-join)") {
    val p = plan("q_dedup_ngram")
    assert(p.contains("row_number"), "prefix ranking missing")
  }

  test("ivf2 centroids broadcast; assignment and rank windows pre-limit") {
    val p = plan("q_embed_ivf2")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"))
    assert(p.contains("WindowGroupLimit"))
  }

  test("nativized hot paths carry no interpreted lambdas") {
    // each of these replaced a CodegenFallback higher-order-function chain
    // with a native expression; `lambdafunction` reappearing means the
    // interpreted form leaked back into the plan
    val nativized = Map(
      "q_sf5_package_tags" -> "tag_pipeline",
      "q_text_langid" -> "char_trigrams",
      "q_embed_topk" -> "dot_product",
      "q_embed_ivf2" -> "dot_product",
      "q_p4_package_doc" -> "json_project",
      "q_quality_model" -> "hashed_score",
      "q_quality_cut" -> "hashed_score")
    for ((q, fn) <- nativized) {
      val p = plan(q)
      assert(p.contains(fn), s"$q lost its native $fn expression")
      assert(!p.contains("lambdafunction"),
        s"$q has an interpreted lambda back on the hot path")
    }
  }

  test("interval join is a hash equi-join on the key, never a loop join") {
    val p = plan("q_j9_interval")
    assert(p.contains("HashJoin"), s"expected a hash equi-join:\n${p.take(1200)}")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "the time range must be a residual condition, not the join strategy")
  }

  test("tfidf ranks with WindowGroupLimit and derives df from the cached tf") {
    val p = plan("q_text_tfidf")
    assert(p.contains("WindowGroupLimit"), "top-3 rank must pre-limit per doc")
    // df must come from the shared cached tf table, not a second
    // scan+explode of documents (the per-term-vs-per-document shape the
    // operator's doc promises)
    assert(p.contains("InMemoryTableScan"),
      "df should reuse the cached tf, not re-derive from documents")
  }

  test("k-means assignment is a row-local native argmax, not a shuffle") {
    val p = plan("q_embed_ivf2")
    // the corpus-side argmax must be the native nearest_centroid loop over
    // the broadcast centroid array (a scan-side projection — zero
    // exchanges, zero candidate fan-out), never a partial_max aggregation
    // or a row_number window over k x corpus rows; the only windows left
    // rank the tiny query set
    assert(p.contains("nearest_centroid"),
      s"native nearest_centroid argmax missing:\n${p.take(1200)}")
    assert(!p.contains("partial_max(cand"),
      s"assignment fell back to the aggregation form:\n${p.take(1200)}")
  }

  // ---- round-3 guards ------------------------------------------------------

  test("decontamination broadcasts the benchmark shingle set") {
    val p = plan("q_decontaminate")
    assert(p.contains("BroadcastHashJoin"),
      "the benchmark side must broadcast — the corpus is the 100 TB side")
    assert(!p.contains("SortMergeJoin"),
      s"posting join must not shuffle the corpus against the benchmark:\n${p.take(1500)}")
  }

  test("row-local curation ops shuffle only for the output sort") {
    for (q <- Seq("q_pii_redact", "q_source_mix")) {
      val p = plan(q)
      val exchanges = "(?<!Broadcast)Exchange".r.findAllIn(p).length
      assert(exchanges == 1, s"$q should shuffle only for the final sort, got $exchanges")
    }
  }

  test("simhash pair dedup is the first-band predicate, not a distinct") {
    val p = plan("q_dedup_simhash_pairs")
    // the candidate set must not pass through a dedup aggregation: the
    // first-agreeing-band filter makes every pair unique by construction
    assert(!p.toLowerCase.contains("hashaggregate(keys=[a_id"),
      s"pair dedup regressed to a distinct over the candidate set:\n${p.take(1500)}")
  }

  // ---- round-4 guards ------------------------------------------------------

  test("span dedup pre-limits hot spans map-side (partial WindowGroupLimit)") {
    val p = plan("q_dedup_spans")
    // a boilerplate span must cost its reducer one row per upstream
    // partition, not one per occurrence
    assert(p.contains("WindowGroupLimit") && p.contains("Partial"),
      s"partial window-group-limit missing — hot spans would flood one reducer:\n${p.take(1500)}")
    // the split must evaluate once below the Generate, not inside the
    // slice lambdas
    assert("split\\(text".r.findAllIn(p).length == 1,
      "split(text) should appear exactly once (materialized below the explode)")
  }

  test("kmv sketch aggregates with map-side partial state") {
    val p = plan("q_sketch_distinct")
    assert(p.contains("partial_kmin_values"),
      s"kmin_values must combine map-side (bounded state through the shuffle):\n${p.take(1500)}")
    assert(p.contains("ObjectHashAggregate"),
      "typed-imperative sketch should plan as ObjectHashAggregate, not SortAggregate")
  }

  test("hll sketch aggregates with map-side partial registers, no Expand") {
    val p = plan("q_sketch_hll")
    assert(p.contains("partial_hll_registers"),
      s"hll_registers must combine map-side (m bytes through the shuffle):\n${p.take(1500)}")
    assert(p.contains("ObjectHashAggregate"),
      "typed-imperative sketch should plan as ObjectHashAggregate, not SortAggregate")
    assert(!p.contains("Expand"),
      "sketch and exact aggregations must stay separate — a fused " +
        "distinct-rewrite would build register state per distinct key")
  }

  test("cms sketch: one matrix through the shuffle, broadcast to the probes") {
    val p = plan("q_sketch_cms")
    assert(p.contains("partial_cms_sketch"),
      s"cms_sketch must combine map-side (fixed matrix through the shuffle):\n${p.take(1500)}")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "the 1-row matrix must broadcast over the probe terms")
    assert(!p.contains("SortMergeJoin"),
      "nothing in this query should shuffle-join")
  }

  test("gap fill: one running-frame window, one shuffle, no join") {
    val p = plan("q_w6_gap_fill")
    val userExchanges = "Exchange hashpartitioning\\(user_id".r.findAllIn(p).length
    assert(userExchanges == 1,
      s"the fill is one window over one (user_id) shuffle, found $userExchanges:\n${p.take(1200)}")
    assert(p.contains("RunningWindowFunction") || p.contains("Window"),
      "the carry must be a window, not a self-join")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("moving average: one bounded-frame window over one shuffle, no join") {
    val p = plan("q_w7_moving_avg")
    val userExchanges = "Exchange hashpartitioning\\(user_id".r.findAllIn(p).length
    assert(userExchanges == 1,
      s"both frame aggregates share ONE (user_id) exchange, found $userExchanges:\n${p.take(1200)}")
    assert(p.contains("Window"),
      "the trailing frame must be a window, not a self-join")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("scd2: both windows share one shuffle of the change stream") {
    val p = plan("q_a7d_scd2")
    val userExchanges = "Exchange hashpartitioning\\(user_id".r.findAllIn(p).length
    assert(userExchanges == 1,
      s"lag and lead must reuse ONE (user_id) exchange, found $userExchanges:\n${p.take(1500)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("sketch overlap: everything broadcasts, nothing shuffle-joins") {
    val p = plan("q_sketch_overlap")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"all joins are 1-row scalars or a broadcast semi join:\n${p.take(1500)}")
    assert(p.contains("partial_kmin_values"),
      "per-side sketches must combine map-side")
  }

  test("table profile: one pass, multi-sketch, never an Expand replica") {
    val p = plan("q_profile_table")
    assert(p.contains("partial_kmin_values"),
      s"per-column sketches must combine map-side in the single pass:\n${p.take(1500)}")
    assert(!p.contains("Expand"),
      "the profile exists to AVOID the multi-count-distinct Expand — " +
        "each exact distinct must stay its own tiny aggregation")
  }

  test("stratified sample pre-limits per stratum map-side") {
    val p = plan("q_sample_stratified")
    assert(p.contains("WindowGroupLimit") && p.contains("Partial"),
      s"rank <= quota must push a partial group limit below the exchange:\n${p.take(1500)}")
  }

  test("sequence packing is one window shuffle plus the output sort") {
    val p = plan("q_pack_sequences")
    val exchanges = "(?<!Broadcast)Exchange".r.findAllIn(p).length
    assert(exchanges == 2, s"expected (lang,shard)-window shuffle + final sort, got $exchanges:\n${p.take(1500)}")
    assert(!p.contains("Join"), "packing must not join")
  }

  test("sequence packing windows by (lang, shard), never bare lang") {
    val p = plan("q_pack_sequences")
    // a window partitioned by lang alone serializes the dominant language
    // through one reducer; the shard key must be inside the partition spec
    val bareLang = "windowspecdefinition\\(lang#\\d+, doc_id".r
    assert(bareLang.findFirstIn(p).isEmpty,
      s"found a window partitioned by bare lang:\n${p.take(1500)}")
    assert("windowspecdefinition\\(lang#\\d+, shard#".r.findFirstIn(p).nonEmpty,
      s"expected the (lang, shard) window spec:\n${p.take(1500)}")
  }

  test("bloom decontamination probes in codegen and never sort-merges") {
    val p = plan("q_bloom_decontaminate")
    assert(p.contains("bloom_contains"),
      s"the bloom probe must gate the corpus grams:\n${p.take(1500)}")
    assert(!p.contains("SortMergeJoin"),
      "both the bitset and the verify set must broadcast — the corpus side never shuffles on text")
    assert(p.contains("partial_bloom_build"),
      "the bitset must build with map-side partial state (one fixed-size buffer per partition)")
  }

  test("retrieve+rerank broadcasts candidates over the document scan") {
    val p = plan("q_retrieve_rerank")
    assert(!p.contains("SortMergeJoin"),
      "document text must stream against broadcast candidates, never shuffle")
    assert(p.contains("WindowGroupLimit"),
      "both rank stages should pre-limit per query group")
  }

  test("calibrated cut reduces to one scalar and broadcasts it back") {
    val p = plan("q_quality_cut")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"the percentile cutoff must come back as a broadcast scalar:\n${p.take(1200)}")
    assert(!p.contains("SortMergeJoin"))
  }

  test("salted aggregation shuffles on (key, salt) first, then re-aggregates") {
    val p = plan("q_skew_agg")
    assert(p.contains("hashpartitioning(event_type") && p.contains("__salt"),
      s"first shuffle must scatter on the salted key:\n${p.take(1200)}")
    // two aggregation phases, each with map-side partials = 4 HashAggregates
    assert("HashAggregate".r.findAllIn(p).length >= 4,
      "expected partial+final aggregates for both the salted and merge phases")
  }

  test("null-skew join: nulls bypass the exchange, union restores them") {
    val p = plan("q_j11_null_skew")
    assert(p.contains("ShuffledHashJoin"),
      s"the hint must keep a real exchange in the plan:\n${p.take(1200)}")
    // Catalyst pushes the isNotNull guard through the CASE that
    // synthesizes fk, so it lands on the scan as `THEN false ELSE
    // isnotnull(o_custkey)` — either spelling proves no null key can
    // reach the join's exchange
    assert("Filter isnotnull\\(fk".r.findFirstIn(p).isDefined ||
      p.contains("THEN false ELSE isnotnull"),
      s"the join's probe input must filter null keys BELOW the exchange:\n${p.take(1500)}")
    assert(p.contains("Union"),
      "null rows must re-enter via union, not through the join")
  }

  test("bucketed range frame: every Window partitions on (key, bucket), never key alone") {
    val p = plan("q_skew_range_frame")
    // both window passes carry the bucket in their partitioning — the
    // whole point: no sort partition ever holds a key's full history
    val winParts = "Window .*windowspecdefinition\\(([^,]+), ([^,]+),"
      .r.findAllMatchIn(p).map(m => (m.group(1), m.group(2))).toSeq
    assert(winParts.nonEmpty, s"expected Window operators:\n${p.take(1200)}")
    winParts.foreach { case (k1, k2) =>
      assert(k1.contains("event_type") &&
        (k2.contains("__bucket") || k2.contains("__b")),
        s"a Window partitions on $k1 WITHOUT a bucket key — the unbounded " +
          s"per-key sort this rewrite exists to avoid:\n${p.take(1500)}")
    }
    assert(p.contains("Union"),
      "probe rows must enter through the union as-of frame")
  }

  test("ivm merge: two group-sized states union into one final aggregate") {
    val p = plan("q_ivm_agg")
    assert(p.contains("Union"),
      s"base and delta state must merge by union:\n${p.take(1200)}")
    // three aggregations (base state, delta state, merge), each partial+final
    assert("HashAggregate".r.findAllIn(p).length >= 6,
      "expected map-side partials for base, delta, and the merge")
  }

  test("salted join shuffles on (key, salt) and replicates the build side") {
    val p = plan("q_skew_join")
    assert("ShuffledHashJoin \\[user_id\\S*, __salt".r.findFirstIn(p).isDefined,
      s"the join must key on (user_id, __salt) under the shuffle-hash hint:\n${p.take(1500)}")
    assert(p.contains("Generate explode"),
      "the build side must replicate each row to all salt buckets")
    assert(!p.contains("BroadcastHashJoin"),
      "the broadcast-averse path is the point — no broadcast join here")
  }

  test("temperature mix: rates broadcast back, the corpus is never windowed") {
    val p = plan("q_source_mix_temp")
    assert(p.contains("BroadcastHashJoin"),
      "per-source rates must broadcast over the document scan")
    assert(!p.contains("SortMergeJoin"),
      "the corpus must not shuffle to meet the tiny rates frame")
    assert(!p.contains("Window"),
      "weight normalization must run on the per-source aggregate, not a window")
  }

  test("hard negatives: within-cluster equi-join + struct-max, no window") {
    val p = plan("q_embed_hardneg")
    assert(!p.contains("CartesianProduct"),
      "the pair scan must stay within clusters, never all-pairs")
    assert("(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \\[cid".r
      .findFirstIn(p).isDefined,
      s"pair join must key on cid:\n${p.take(1500)}")
    assert(p.contains("partial_max"),
      "the per-vector argmax must be a map-side-combined struct max, not a window")
    spark.catalog.clearCache()
  }

  test("semdedup pairs join hash-partitioned on cluster id, never cartesian") {
    val p = plan("q_semdedup")
    assert(!p.contains("CartesianProduct"),
      "the pair scan must stay within clusters, never all-pairs")
    // the only nested-loop joins allowed are the k-means centroid
    // broadcasts (tiny build side, the assign pattern ivf2 also uses);
    // the PAIR join itself must be an equi-join keyed on cid
    assert("(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \\[cid".r
      .findFirstIn(p).isDefined,
      s"pair join must key on cid:\n${p.take(1500)}")
  }

  test("oov rate: the vocabulary broadcasts, the token stream never shuffles to meet it") {
    val p = plan("q_text_oov")
    assert(p.contains("BroadcastHashJoin"),
      s"the K-row vocabulary must broadcast over the token stream:\n${p.take(1200)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "membership marking must not shuffle the exploded corpus")
  }

  test("bpe pair counting aggregates the corpus once, map-side combined") {
    val p = plan("q_bpe_pairs")
    // corpus tokens are aggregated to the vocabulary before the pair
    // explode: the Generate over char pairs must sit ABOVE the first
    // HashAggregate, so the explode runs on distinct terms only
    val genAt = p.indexOf("Generate explode")
    val aggs = "HashAggregate".r.findAllIn(p).matchData.map(_.start).toSeq
    assert(genAt >= 0 && aggs.exists(_ > genAt),
      s"pair explode must run over the aggregated vocabulary, not the corpus:\n${p.take(1500)}")
  }

  test("bm25: term filter broadcast below the tf aggregate, rank-limited top-k") {
    val p = plan("q_bm25")
    assert(p.contains("WindowGroupLimit"),
      "top-k per query must push the rank limit below the full sort")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "every join side here is broadcast-sized (terms, df, scalars)")
    assert(p.contains("InMemoryTableScan"),
      "the filtered tf table must be cached — df derives from it")
    // the broadcast query-term join must sit BETWEEN the tf aggregation
    // and the corpus explode: only matching terms reach the shuffle
    val agg = p.indexOf("HashAggregate(keys=[doc_id")
    val gen = p.indexOf("Generate explode")
    val join = p.indexOf("BroadcastHashJoin [term", agg)
    assert(agg >= 0 && gen > agg && join > agg && join < gen,
      s"term filter must prune the explode before the tf shuffle:\n${p.take(1200)}")
    spark.catalog.clearCache()
  }

  test("bpe merge: scalar top pair broadcasts over a cached vocabulary") {
    val p = plan("q_bpe_merge")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      "the 1-row top pair must broadcast, never shuffle the vocabulary")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "the scalar join must be the broadcast nested-loop scalar pattern")
    assert(p.contains("InMemoryTableScan"),
      "the vocabulary aggregation must be cached — it feeds both the " +
        "pair-weight argmax and the merge projection")
    spark.catalog.clearCache()
  }

  test("pagerank iterates equi-joins over a cached edge table, no cartesian") {
    val p = plan("q_pagerank")
    assert(!p.contains("CartesianProduct"),
      "rank propagation must join on the node key, never all-pairs")
    assert(p.contains("InMemoryTableScan"),
      "the edge+degree table must build once and cache across iterations")
    // one inflow aggregation per iteration, each with a map-side partial
    assert("partial_sum".r.findAllIn(p).length >= graft.ops.GraphOps.PrIters,
      s"expected ${graft.ops.GraphOps.PrIters} partial-combined inflow sums:\n${p.take(1200)}")
    spark.catalog.clearCache()
  }

  test("bpe encode: unrolled literal fold, no join, single uncached scan") {
    val p = plan("q_bpe_encode")
    // the learned rules come from a training run as driver-local
    // literals: the encode must be a plain projection — no join of any
    // kind between rules and vocabulary
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"rule application must be a literal projection, not a join:\n${p.take(1200)}")
    // since the train/encode split, this plan has exactly ONE consumer of
    // the vocabulary (training runs first, on its own cached scan) —
    // a cache here would be pure pinned overhead, so its ABSENCE is the
    // pinned property now, along with the single corpus scan + heap top-K
    assert(!p.contains("InMemoryTableScan"),
      "encode must not re-cache a single-consumer vocabulary")
    assert("FileScan parquet".r.findAllIn(p).length == 1,
      s"encode probe must read the corpus exactly once:\n${p.take(1200)}")
    assert(p.contains("TakeOrderedAndProject"),
      "the declared top slice must plan as a heap top-K, not a global sort")
    spark.catalog.clearCache()
  }

  // ---- analytics-batch guards ---------------------------------------------

  test("rank suite evaluates all five ranks in one Window pass") {
    val p = plan("q_w8_rank_suite")
    assert("(?m)^\\s*[+:]?-?\\s*Window ".r.findAllIn(p).length <= 1,
      s"five rank functions over one frame must share one Window operator:\n${p.take(1200)}")
  }

  test("cube expands once (one Expand, one aggregate pair)") {
    val p = plan("q_a12_cube")
    assert("Expand".r.findAllIn(p).length == 1,
      "all four grouping sets must come from a single Expand")
  }

  test("funnel: one shuffle shared by windows and per-user collapse") {
    val p = plan("q_funnel")
    // the three stage windows and the groupBy all key on user_id: exactly
    // one hash exchange (plus the final output sort's range exchange)
    val exchanges = "(?<!Broadcast)Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1,
      s"stage windows and collapse must reuse one user_id partitioning, got $exchanges:\n${p.take(1500)}")
  }

  test("length outliers broadcast the language stats onto the scan") {
    val p = plan("q_text_outlier")
    assert(p.contains("BroadcastHashJoin"), "O(langs) stats must broadcast")
    assert(!p.contains("SortMergeJoin"),
      "the corpus side must never shuffle for the verdict join")
  }

  test("weighted sample is a top-K heap merge, not a full sort") {
    val p = plan("q_sample_weighted")
    assert(p.contains("TakeOrderedAndProject"),
      s"the K-smallest selection must be TakeOrderedAndProject:\n${p.take(1200)}")
  }

  test("triangles and fuzzy match stay equi-join shaped (no cartesian)") {
    for (q <- Seq("q_graph_triangles", "q_fuzzy_match", "q_ivm_join")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"),
        s"$q must pair via equi-joins (order key / block key / node key)")
    }
  }

  test("pq rerank and ivfpq: shortlist broadcasts, corpus never sort-merges") {
    for (q <- Seq("q_embed_pq_rerank", "q_embed_ivfpq")) {
      val p = plan(q)
      assert(!p.contains("SortMergeJoin"),
        s"$q: every join side is broadcast-sized (shortlist, tables, " +
          s"routing, queries) — the corpus must stream:\n${p.take(1200)}")
      assert(p.contains("BroadcastHashJoin"),
        s"$q: the shortlist must broadcast back over the embedding scan")
      spark.catalog.clearCache()
    }
  }

  test("inverted index: df broadcasts back, postings cached, no sort-merge") {
    val p = plan("q_inverted_index")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "df is O(vocab) and must broadcast onto the postings")
    assert(p.contains("InMemoryTableScan"),
      "the posting aggregation must be cached — df derives from it")
    spark.catalog.clearCache()
  }

  test("indexed bm25 probe: broadcast term pruning, rank-limited top-k, no corpus rescan") {
    val p = plan("q_bm25_indexed")
    assert(p.contains("WindowGroupLimit"),
      "top-k per query must push the rank limit below the full sort")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "the probe joins are broadcast-sized (query terms, df)")
    assert(p.contains("BroadcastHashJoin [term"),
      "the query-term probe must be a broadcast hash join on term")
    spark.catalog.clearCache()
  }

  test("collocations: ordered limit is a top-K heap, unigram joins broadcast") {
    val p = plan("q_cooc_lift")
    assert(p.contains("TakeOrderedAndProject"),
      s"the top-K must be per-partition heaps, never a global sort:\n${p.take(1200)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "the O(vocab) unigram count table must broadcast onto the survivors")
    spark.catalog.clearCache()
  }

  test("bigram commonness: shuffle joins only, no cartesian, shared bigram agg cached") {
    val p = plan("q_bigram_lm")
    assert(!p.contains("CartesianProduct"),
      "the (a,b) join is an equi-join — the corpus pair table can't broadcast at scale")
    assert(p.contains("InMemoryTableScan"),
      "the per-doc pair aggregation must be cached — the corpus counts re-aggregate it")
    spark.catalog.clearCache()
  }

  test("ivm index: posting union appends, no cartesian, sides cached") {
    val p = plan("q_ivm_index")
    assert(!p.contains("CartesianProduct"),
      "the df merge is a vocab-sized full-outer equi-join, never cartesian")
    assert(p.contains("InMemoryTableScan"),
      "each side's postings must be cached - df derives from them")
    assert(p.contains("Union"),
      "disjoint-doc posting sets must merge by append, not join")
    spark.catalog.clearCache()
  }

  test("random projection is a pure scan-speed re-encode") {
    val p = plan("q_embed_rp")
    assert(!p.contains("Join") && !p.contains("HashAggregate"),
      "the projection must be row-local - no joins, no aggregation")
    assert(!p.contains("Exchange hashpartitioning"),
      "no shuffle may appear besides the final deterministic-order sort")
    spark.catalog.clearCache()
  }

  test("fuzzy match shuffles on the SALTED block key, not the raw token") {
    // the length-bucket salt must reach the join's equi-key — a hot first
    // token then subdivides across shuffle partitions instead of pairing
    // |block|² rows on one key (ops/MatchOps.candidatePairs)
    val p = plan("q_fuzzy_match")
    val joinLine = p.linesIterator
      .find(l => l.contains("Join") && l.contains("blk")).getOrElse("")
    assert(joinLine.contains("k#") || joinLine.contains("k ="),
      s"the bucket salt k must be part of the join key:\n$joinLine")
  }

  // ---- round-7 guards ------------------------------------------------------

  test("ohlc bars: the bar aggregate is ONE hash exchange") {
    val p = plan("q_w9_ohlc")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashEx == 1,
      s"the min_by/max_by bar aggregate must need one (window, type) shuffle, got $hashEx:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("dq checks: referential check broadcasts the dim, nothing sort-merges") {
    val p = plan("q_dq_checks")
    assert(p.contains("BroadcastHashJoin"), "fk check must broadcast the dim")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("pareto frontier: docs attach by broadcast semi-join on winning pairs") {
    val p = plan("q_pareto_front")
    assert(p.contains("LeftSemi") && p.contains("BroadcastHashJoin"),
      "the corpus must semi-join the tiny frontier, not the reverse")
    // the single-partition pass runs over per-lang survivors, never docs:
    // the corpus-side exchange keys are the lang partition / pair distinct
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("hist quantiles: the exact side broadcasts onto the O(langs·B) sketch") {
    val p = plan("q_sketch_histquant")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("tfidf neighbors: term-equi pair join over cached postings, heap top-K") {
    val p = plan("q_tfidf_neighbors")
    assert(p.contains(s"TakeOrderedAndProject(limit=${
      graft.llm.TextAnalysis.NeighborTopK}"),
      "global top-K must be per-partition heaps, not a full sort")
    assert(p.contains("InMemoryTableScan"),
      "the posting aggregation must be computed once and cached")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
    spark.catalog.clearCache()
  }

  test("winsorize: one hash exchange, zero joins — bounds ride the window") {
    val p = plan("q_winsorize")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashEx == 1,
      s"rank pass and bounds must share one priority shuffle, got $hashEx:\n$p")
    assert(!p.contains("Join"), s"the window form needs no bounds join:\n$p")
  }

  test("bfs: the per-round checkpoint truncates the relaxation lineage") {
    val p = plan("q_graph_bfs")
    assert(p.contains("Scan ExistingRDD"),
      s"final plan should read the checkpointed distances:\n$p")
    assert(!p.contains("CartesianProduct"))
    assert("Scan parquet".r.findAllIn(p).isEmpty,
      "checkpoint must cut the parquet lineage")
  }

  test("kcore: the per-round checkpoint truncates the fixpoint lineage") {
    val p = plan("q_graph_kcore")
    // after 8 peel rounds the final plan must hang off the materialized
    // round-8 edge set, not re-derive 8 rounds of joins (2^8 leaf scans)
    assert(p.contains("Scan ExistingRDD"),
      s"final plan should read the checkpointed edges:\n$p")
    assert(!p.contains("CartesianProduct"))
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 0, s"checkpoint must cut the parquet lineage, got $scans")
  }

  test("anomaly mad: one hash exchange, zero joins — both rank passes share it") {
    val p = plan("q_anomaly_mad")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashEx == 1,
      s"median and MAD passes must share one type shuffle, got $hashEx:\n$p")
    assert(!p.contains("Join"), s"the window form needs no stats join:\n$p")
  }

  test("cms topk: heap top-N over the vocabulary, matrix broadcast") {
    val p = plan("q_sketch_cms_topk")
    assert(p.contains(s"TakeOrderedAndProject(limit=${
      graft.llm.Sketches.CmsTopN}"),
      "vocabulary ranking must be per-partition heaps, not a full sort")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"),
      "the 8KB counter matrix must broadcast, never shuffle")
    assert(!p.contains("SortMergeJoin"))
  }

  test("asof tolerance: same one-exchange window plan as the plain asof") {
    val p = plan("q_j8b_asof_tol")
    assert(!p.contains("Join"), "the composed asof needs no join operator")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashEx <= 2, s"carry window + click collapse only, got $hashEx:\n$p")
  }

  test("range frame: one type shuffle, no joins") {
    val p = plan("q_w15_range_frame")
    assert(!p.contains("Join"))
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashEx == 1,
      s"both range aggregates must share one type shuffle, got $hashEx:\n$p")
  }

  test("cal spine: a generated dimension off one single-row bounds aggregate") {
    val p = plan("q_cal_spine")
    assert("Scan parquet".r.findAllIn(p).length == 1,
      s"one pruned date-column scan feeds the bounds:\n$p")
    assert(p.contains("ReadSchema: struct<o_orderdate"),
      "the bounds scan must prune to the date column")
    assert(!p.contains("Join"))
  }

  test("privacy kanon: one QI shuffle, distinct folded into the aggregate") {
    val p = plan("q_privacy_kanon")
    assert(!p.contains("Join"))
    assert("Scan parquet".r.findAllIn(p).length == 1)
  }

  test("containment: banded posting candidates, no cartesian") {
    val p = plan("q_dedup_containment")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("InMemoryTableScan"),
      "the shingle pipeline must be computed once and cached")
    spark.catalog.clearCache()
  }

  test("batch queries over a stream twin's body plan without the watermark") {
    // the twin's withWatermark is dropped by EliminateEventTimeWatermark on
    // a batch frame; the shared bodies rely on that rule
    for (q <- Seq("q_w2_tumbling", "q_w5_distinct", "q_w9_ohlc",
        "q_j9_interval", "q_j9b_first_touch")) {
      val p = SparkEntry.queries(q)(spark, sf).queryExecution.optimizedPlan
      assert(p.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark => w
      }.isEmpty, s"$q still carries an EventTimeWatermark:\n$p")
    }
  }

  test("first touch: the argmin is an aggregate over the pair join, no window") {
    val p = plan("q_j9b_first_touch")
    assert(p.contains("min_by") || p.contains("MinBy"),
      s"credit assignment must be arg-min-by-struct, not a per-click sort:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("funnel latency: one user shuffle feeds the transition rank passes") {
    val p = plan("q_funnel_latency")
    assert(!p.contains("Join"))
    assert(!p.contains("CartesianProduct"))
  }

  test("erasure: broadcast semi/anti splits, counts collapse map-side") {
    val p = plan("q_privacy_erasure")
    assert(p.contains("BroadcastHashJoin") &&
      (p.contains("LeftSemi") && p.contains("LeftAnti")),
      s"the request set must broadcast into semi/anti splits:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("ivm sketch: bounded KMV partial state through the shuffle") {
    val p = plan("q_ivm_sketch")
    assert(p.contains("partial_kmin_values"),
      s"the sketch must partially aggregate map-side:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("curate budget: offsets broadcast back; no global corpus sort") {
    val p = plan("q_curate_budget")
    assert(p.contains("BroadcastHashJoin"),
      "per-score offsets must broadcast over the scored corpus")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
    // the only single-partition exchange feeds the distinct-score walk,
    // never the corpus: the corpus-side window partitions by raw_score
    assert(p.contains("Window [sum") || p.contains("RunningWindowFunction")
      || p.contains("Window"), s"within-bucket walk must be a window:\n$p")
  }

  test("flagship revenue: dim broadcast, filters pushed, heap top-K") {
    val p = plan("q_flagship_revenue")
    assert(p.contains("BroadcastHashJoin"),
      "the filtered customer dim must broadcast, never shuffle the fact")
    assert(p.contains(s"TakeOrderedAndProject(limit=${
      graft.ops.AnalyticsOps.FlagshipTopK}"))
    assert(p.contains("PushedFilters: [IsNotNull(o_orderpriority), EqualTo(o_orderpriority,1-URGENT)")
      || p.contains("EqualTo(o_orderpriority,1-URGENT)"),
      s"the priority predicate must reach the orders scan:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("basket rules: heap top-K, broadcast item counts, no cartesian blowup") {
    val p = plan("q_basket_rules")
    assert(p.contains(s"TakeOrderedAndProject(limit=${
      graft.ops.AnalyticsOps.RuleTopK}"),
      "rule ranking must be per-partition heaps, not a full sort")
    assert(p.contains("BroadcastExchange"),
      "item counts and the order-count scalar must broadcast")
    assert(!p.contains("SortMergeJoin"))
    spark.catalog.clearCache()
  }

  test("rfm: fact collapses before the dimension-frame rank passes; no joins") {
    val p = plan("q_rfm_segments")
    assert("Scan parquet".r.findAllIn(p).length == 1,
      s"one orders scan, collapsed before ranking:\n$p")
    assert(!p.contains("Join"))
    // the rank passes run AFTER the per-customer aggregate — the
    // single-partition windows touch the dim frame, never the fact rows
    assert(p.indexOf("HashAggregate") > p.indexOf("Window"),
      s"aggregate must sit below the windows in the tree:\n$p")
  }

  test("grouping sets: one Expand pass, one scan — no per-set rescan") {
    val p = plan("q_a15_grouping_sets")
    assert("Expand".r.findAllIn(p).length >= 1 &&
      "Scan parquet".r.findAllIn(p).length == 1,
      s"all requested sets must come from one Expand over one scan:\n$p")
    assert(!p.contains("Union"), "sets must not union separate aggregates")
  }

  test("lpa: per-round checkpoint truncates the propagation lineage") {
    val p = plan("q_graph_lpa")
    assert(p.contains("Scan ExistingRDD"),
      s"final plan should read the checkpointed labels:\n$p")
    assert(!p.contains("CartesianProduct"))
    assert("Scan parquet".r.findAllIn(p).isEmpty,
      "checkpoint must cut the parquet lineage")
  }

  test("epoch shuffle: narrow doc_id scan, one (epoch, shard) exchange") {
    val p = plan("q_epoch_shuffle")
    assert(p.contains("ReadSchema: struct<doc_id:bigint>"),
      s"the shuffle plan must never read the text column:\n$p")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashEx == 1,
      s"position numbering must ride one (epoch, shard) shuffle, got $hashEx:\n$p")
    assert(!p.contains("Join"))
  }

  test("bpe fertility: corpus joins the broadcast vocabulary, no SMJ") {
    val p = plan("q_bpe_fertility")
    assert(p.contains("BroadcastHashJoin"),
      s"per-term piece counts must broadcast over the corpus explode:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
    spark.catalog.clearCache()
  }

  test("bloom join: probe scan filters through the bloom BELOW the shuffle join") {
    val p = plan("q_j13_bloom_join")
    assert(p.contains("bloom_contains"),
      s"the runtime filter must reach the probe side:\n$p")
    assert(p.contains("ShuffledHashJoin"),
      "the hint must model the broadcast-averse dim regime")
    // the bloom filter must sit BELOW the join: its bloom_contains
    // predicate appears before the first join operator in the plan text
    assert(p.indexOf("bloom_contains") > p.indexOf("ShuffledHashJoin"),
      s"pre-filter must be on the join's input side, not above it:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"))
  }

  test("rrf: broadcast query sides, no cartesian; fusion joins rank lists only") {
    val p = plan("q_retrieve_rrf")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("BroadcastExchange"),
      "query gram/vector sets must broadcast over the corpus scans")
    // both rank lists cut to RrfDepth below the exchange — the fusion
    // join's inputs are O(queries x depth), never the scored corpus
    assert(p.contains("WindowGroupLimit"),
      s"rank-list cut must push partial limits below the exchange:\n$p")
  }

  test("maxsim: row-local part cosines on a broadcast-queries scan") {
    val p = plan("q_retrieve_maxsim")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"))
    assert(p.contains("BroadcastExchange"),
      "the query part-vectors must broadcast; the corpus never shuffles")
    assert(p.contains("WindowGroupLimit"),
      s"top-k must cut below the exchange:\n$p")
  }

  test("mmr: per-round checkpoint truncates the greedy lineage") {
    val p = plan("q_retrieve_mmr")
    // each round reads `selected` three times; without the checkpoint the
    // final plan would re-derive every earlier round ~3^r times
    assert(p.contains("Scan ExistingRDD"),
      s"final plan should read the checkpointed selections:\n$p")
    assert(!p.contains("CartesianProduct"))
    assert("Scan parquet".r.findAllIn(p).isEmpty,
      "checkpoint must cut the corpus lineage")
  }

  test("pr curve: one corpus scan, no joins — sweep runs on the score aggregate") {
    val p = plan("q_model_pr_curve")
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1,
      s"score and label must ride one documents scan, got $scans:\n$p")
    assert(!p.contains("Join"), s"no corpus self-join for row-local signals:\n$p")
    // the global-order cumulative window runs AFTER the groupBy(raw_score)
    // collapse — a single-partition exchange over the distinct-score frame
    // is the deliberate small-frame plan, but there must be exactly one
    // hash exchange feeding it (the score aggregation)
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashEx == 1, s"expected one score-collapse shuffle, got $hashEx:\n$p")
  }

  test("weighted median: window and final aggregate share one type shuffle") {
    val p = plan("q_w11_weighted_median")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashEx == 1,
      s"weight sweep and group collapse must share one shuffle, got $hashEx:\n$p")
    assert(!p.contains("Join"), s"the window form needs no stats join:\n$p")
  }

  test("interp fill: one key shuffle; the division is integer `div`") {
    val p = plan("q_w10_interp")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashEx == 1,
      s"carry and fill frames must share one user shuffle, got $hashEx:\n$p")
    assert(!p.contains("Join"))
    // a double `/` would round the >2^53 numerator before dividing
    assert(p.contains(" div "), s"floor division must stay integral:\n$p")
  }

  test("dq drift: single-row bounds broadcast, tiny count shuffle, no SMJ") {
    val p = plan("q_dq_drift")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"the 1-row bounds aggregate must broadcast onto the scan:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
    assert(p.contains("partial_sum"),
      "the half counters must combine map-side before the (type,bin) shuffle")
  }

  test("entity resolve: checkpointed closure, no cartesian in the attach") {
    val p = plan("q_entity_resolve")
    assert(p.contains("Scan ExistingRDD"),
      s"final plan should read the checkpointed entity labels:\n$p")
    assert(!p.contains("CartesianProduct"))
    spark.catalog.clearCache()
  }

  test("vocab coverage: pure window-and-aggregate — no joins anywhere") {
    val p = plan("q_vocab_coverage")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"the knee must come from the monotone cumulative, not a join:\n$p")
    assert(p.contains("Generate explode"),
      "coverage targets fan out as a literal explode over the ranked vocab")
  }

  test("unpivot plans as one Generate over the pivoted rows, not N scans") {
    val p = plan("q_a14_unpivot")
    assert(p.contains("Generate stack"),
      s"the melt must be a generator, not a union of re-scans:\n$p")
    assert("Scan parquet".r.findAllIn(p).length == 1,
      s"orders must be read exactly once:\n$p")
    assert(!p.contains("Join"))
  }

  test("full-outer reconciliation joins reduced sides on the grouping key") {
    val p = plan("q_j12_full_outer")
    assert(p.contains("FullOuter"), s"must be a genuine full outer:\n$p")
    // both inputs aggregate to O(customers) BEFORE the join shuffle
    val joinIdx = p.indexOf("SortMergeJoin")
    assert(joinIdx >= 0 &&
      p.substring(joinIdx).contains("HashAggregate"),
      s"sides must reduce before joining:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("node similarity: equi-joins through shared neighbors, heap top-K") {
    val p = plan("q_graph_jaccard")
    assert(p.contains(s"TakeOrderedAndProject(limit=${
      graft.ops.GraphOps.SimTopK}"),
      "global top-K must be per-partition heaps, not a full sort")
    assert(!p.contains("CartesianProduct"),
      s"pairs must come from the center equi-join, never all-pairs:\n$p")
  }

  test("zonemap maintenance: union-merge aggregate, zero joins") {
    val p = plan("q_ivm_zonemap")
    assert(p.contains("Union"), s"base and delta stats must union-merge:\n$p")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"the monoid merge is an aggregate, not a join:\n$p")
  }

  test("media near-dup: banded equi-join candidates, cached shingles") {
    val p = plan("q_mm_neardup")
    assert(!p.contains("CartesianProduct"),
      s"candidates must come from the band bucket join, never all-pairs:\n$p")
    assert(p.contains("InMemoryTableScan"),
      "the shingle/band pipeline must be computed once and cached")
    spark.catalog.clearCache()
  }

  test("zorder prune: window-and-aggregate diagnostic — no joins") {
    val p = plan("q_zorder_prune")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"envelopes and skip counts ride the ntile windows, not a join:\n$p")
  }

  test("dedup canonical: broadcast length attach, pruned scan, no cartesian") {
    val p = plan("q_dedup_canonical")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("SortMergeJoin"),
      s"the narrow n_chars attach must not sort-merge at fixture scale:\n$p")
    // the selection stage must read lengths only — document text stays in
    // its row groups (the component fixpoint reads it separately upstream)
    val finalScan = p.split("Scan ExistingRDD")(1)
    assert(finalScan.contains("ReadSchema: struct<doc_id:bigint,n_chars:bigint>"),
      s"selection-stage scan should prune to (doc_id, n_chars):\n$p")
  }

  test("codec tiers: doc_id-only scan, two fused object stages, blobs never shuffle") {
    // the real-decode family (grayscale PNG, WAVE/PCM, box-filter resize,
    // animated-GIF frames) shares one stage economics: encode + decode are
    // the only object-mode stages, the scan reads no payload column, and
    // exactly two things ever shuffle — the 8-byte doc_ids fanned out
    // BEFORE the expensive encode (the tiny fixture file is one scan
    // partition; without the fan-out the whole codec family serializes
    // onto one core) and the O(docs) stats rows for the output sort.
    // Blobs live and die inside their partition.
    for (q <- Seq("q_mm_pixels", "q_mm_audio", "q_mm_resize", "q_mm_video")) {
      val p = plan(q)
      assert(p.contains("ReadSchema: struct<doc_id:bigint>"),
        s"$q must scan doc_id only:\n$p")
      val mp = "MapPartitions".r.findAllIn(p).length
      assert(mp == 2, s"$q: encode + decode = exactly two object stages, got $mp:\n$p")
      assert(!p.contains("Join"), s"$q: blobs must never join:\n$p")
      val exchanges = "(?<!Broadcast)Exchange".r.findAllIn(p).length
      assert(exchanges == 2,
        s"$q should shuffle only the pre-encode ids + the stats sort, got $exchanges:\n$p")
      // the fan-out carries the ids alone, never an encoded payload
      assert(p.contains("Exchange hashpartitioning(doc_id#"),
        s"$q: the pre-encode fan-out must partition by doc_id:\n$p")
    }
  }

  test("dsir: ratio table broadcasts, selection is an ordered limit") {
    val p = plan("q_dsir_select")
    assert(p.contains("TakeOrderedAndProject(limit=200"),
      s"selection must be a per-partition-heap top-k, not a global sort:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the ratio and label joins must broadcast, never sort-merge:\n$p")
    // the corpus text scan happens once, into the cached bucket counts;
    // fit (tc/rc/totals) and score all read the cache, never text again
    val w = plan("q_dsir_weights")
    assert("InMemoryTableScan".r.findAllIn(w).length >= 4,
      s"fit + score must reuse the cached bucket counts:\n$w")
  }

  test("substring dedup: gram stats combine map-side, islands stay per-doc") {
    val p = plan("q_dedup_substr_ranges")
    // a boilerplate gram with 10^6 occurrences must cost its reducer one
    // row per upstream partition — the digest aggregate needs partials
    assert(p.contains("partial_min(struct(doc_id") &&
      p.contains("partial_count"),
      s"gram-stat aggregate lost its map-side combine:\n${p.take(1500)}")
    // island merging must partition by doc_id, never sort the corpus whole
    assert(p.contains("windowspecdefinition(doc_id#"),
      s"island windows must partition by doc_id:\n${p.take(1500)}")
    assert(!p.contains("CartesianProduct"),
      s"no data-sized cartesian anywhere in the substring family:\n${p.take(1500)}")
    // tokenization evaluates once below each Generate (occurrence side is
    // deliberately recomputed rather than materialized — two scans total)
    assert("split\\(text".r.findAllIn(p).length <= 2,
      "split(text) must stay materialized below the explodes")
  }

  test("lm scorer: model aggs combine map-side, nothing cartesian") {
    val p = plan("q_lm_score")
    // c12/c1 model counts are digest-keyed aggregates with partials — a
    // trusted-corpus bigram occurring 10^6 times costs its reducer one
    // row per upstream partition
    assert(p.contains("partial_count"),
      s"model-count aggregates lost their map-side combine:\n${p.take(1500)}")
    // model tables are trusted-corpus-bounded: at fixture scale they must
    // broadcast onto the pool scoring pass, never sort-merge it
    assert(!p.contains("SortMergeJoin"),
      s"model joins must broadcast at this scale:\n${p.take(1500)}")
    assert(!p.contains("CartesianProduct"),
      s"no cartesian in the LM chain:\n${p.take(1500)}")
  }

  test("lm buckets: the tercile window partitions by lang over scores only") {
    val p = plan("q_lm_buckets")
    assert(p.contains("windowspecdefinition(lang#"),
      s"tercile window must partition by language:\n${p.take(1500)}")
    assert(p.contains("ntile(3)"),
      s"bucketing must be the rank function, not a join:\n${p.take(1500)}")
  }

  test("prototype prune: one scoring pass on cid, no pair scan") {
    val p = plan("q_prototype_prune")
    // centroid component sums combine map-side (decimal partial_sum)
    assert(p.contains("partial_sum(cast(x"),
      s"centroid sums lost their map-side combine:\n${p.take(1500)}")
    // the prototypicality rank runs per cluster — (cid, proto) window,
    // ~PairClusterTarget rows per partition at any corpus size
    assert("windowspecdefinition\\(cid#\\d+, proto#".r
      .findFirstIn(p).isDefined,
      s"rank window must partition by cid:\n${p.take(1500)}")
    assert(!p.contains("CartesianProduct"),
      s"no cartesian in the prune chain:\n${p.take(1500)}")
  }

  test("lm excess: one cached bigram stream, ordered-limit selection") {
    val p = plan("q_lm_excess")
    import graft.llm.Curation
    // the selection is a per-partition-heap top-k, never a global sort
    assert(p.contains(s"TakeOrderedAndProject(limit=${Curation.LmExcessQuota}"),
      s"quota selection must be TakeOrderedAndProject:\n${p.take(1500)}")
    // the pool bigram stream explodes ONCE into the cache; the pool
    // model's two count aggregations and the scoring join all re-read it
    assert("InMemoryTableScan".r.findAllIn(p).length >= 3,
      s"pool-model fit + scoring must reuse the cached bigram stream:\n${p.take(1500)}")
    assert(p.contains("partial_count"),
      s"model-count aggregates lost their map-side combine:\n${p.take(1500)}")
    assert(!p.contains("CartesianProduct"),
      s"nothing all-pairs in the two-model chain:\n${p.take(1500)}")
  }

  test("ngram novelty: reference set broadcasts onto one posting probe") {
    val p = plan("q_ngram_novelty")
    assert(!p.contains("SortMergeJoin"),
      s"the trusted-set membership probe must broadcast at this scale:\n${p.take(1500)}")
    assert(!p.contains("CartesianProduct"),
      s"no cartesian in the novelty chain:\n${p.take(1500)}")
    // the per-doc ratio aggregate combines map-side
    assert(p.contains("partial_count"),
      s"per-doc aggregate lost its map-side combine:\n${p.take(1500)}")
  }

  test("diversity sample: per-cluster rank window, quota filter pushed " +
      "below the output sort") {
    val p = plan("q_diversity_sample")
    assert("windowspecdefinition\\(cid#\\d+".r.findFirstIn(p).isDefined,
      s"sampling rank must partition by cid:\n${p.take(1500)}")
    // the quota cut is a plain filter on the rank — the window sorts
    // (cid, md5, vec_id) tuples, never vectors or text
    assert(p.contains("rk#"),
      s"rank column missing:\n${p.take(1500)}")
  }

  test("semantic decon: eval set broadcasts, argmax folds map-side") {
    val p = plan("q_semantic_decon")
    // the eval set rides a broadcast nested-loop join — the corpus
    // streams once, pairs never materialize past the partial max
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"eval set must broadcast onto the corpus stream:\n${p.take(1500)}")
    assert(p.contains("partial_max(cand"),
      s"the per-vector argmax must fold map-side:\n${p.take(1500)}")
    assert(!p.contains("SortMergeJoin"),
      s"nothing may shuffle-join the corpus against the eval set:\n${p.take(1500)}")
  }
}
