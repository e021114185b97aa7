package graft

import org.scalatest.funsuite.AnyFunSuite

/** The SQL surface: base tables, derived views, and native functions are
  * reachable from spark.sql after registration.
  */
class GraftCatalogSpec extends AnyFunSuite with SharedSpark {

  test("registered views and functions answer SQL end to end") {
    spark.catalog.clearCache()
    GraftCatalog.register(spark, "/root/testdata/sf0.001")
    assert(spark.sharedState.cacheManager.isEmpty) // the views pin nothing
    val joined = spark.sql("""
      SELECT p.o_orderkey, p.owner_name, t.root_name,
             slug_truncate(p.name_slug, 20) AS short_slug
      FROM package_flat p
      JOIN orders o ON p.o_orderkey = o.o_orderkey
      LEFT JOIN category_tree t ON t.node_id = o.o_custkey % 5 + 1
      WHERE p.n_groups > 0
      ORDER BY p.o_orderkey LIMIT 10""").collect()
    assert(joined.length == 10)
    joined.foreach { r =>
      assert(r.getString(3).length <= 20 || !r.getString(3).contains("--"))
    }
    val actions = spark.sql(
      "SELECT action, count(*) FROM merge_actions GROUP BY action").collect()
    assert(actions.map(_.getString(0)).toSet == Set("create", "update", "delete"))
    // group_docs ≡ category_tree algebra: same node set (slug embeds the
    // node id), and every non-leaf's children csv splits to exactly its
    // tree children count
    val gd = spark.sql("""
      SELECT t.node_id,
             CASE WHEN g.children = '' THEN 0
                  ELSE length(g.children) - length(replace(g.children, '|', '')) + 1
             END AS n_children
      FROM group_docs g
      JOIN category_tree t
        ON g.group_slug LIKE '%-' || CAST(t.node_id AS STRING)
       AND g.depth = t.depth""").collect()
    assert(gd.length == spark.sql("SELECT * FROM category_tree").count())
    val kidCounts = spark.sql("""
      SELECT p.node_id, count(c.node_id) AS n
      FROM category_tree p LEFT JOIN category_tree c
        ON c.path = p.path || '/' || c.name AND c.depth = p.depth + 1
      GROUP BY p.node_id""").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    gd.foreach { r =>
      assert(r.getInt(1).toLong == kidCounts(r.getLong(0)),
        s"node ${r.getLong(0)}: children csv disagrees with the tree") }
    val splits = spark.sql(
      "SELECT split, count(*) AS n FROM sample_split GROUP BY split").collect()
    assert(splits.map(_.getString(0)).toSet == Set("train", "val"))
    val topTerm = spark.sql(
      "SELECT term FROM tfidf_top_terms WHERE rk = 1 ORDER BY doc_id LIMIT 1")
      .collect()
    assert(topTerm.nonEmpty && topTerm.head.getString(0).nonEmpty)
    val curated = spark.sql(
      """SELECT (SELECT count(*) FROM decontaminated WHERE keep) AS kept,
                (SELECT count(*) FROM source_mix) AS mixed,
                (SELECT count(*) FROM curated_corpus) AS curated,
                (SELECT count(*) FROM retrieve_rerank) AS reranked,
                (SELECT count(*) FROM source_mix_temp) AS mixed_t,
                (SELECT count(*) FROM semdedup WHERE keep) AS sem_kept""").head()
    assert(curated.getLong(0) > 0 && curated.getLong(1) > 0)
    assert(curated.getLong(2) > 0 && curated.getLong(2) <= curated.getLong(0),
      "curated corpus must be a subset of the decontaminated keeps")
    assert(curated.getLong(3) > 0)
    assert(curated.getLong(4) > 0 && curated.getLong(5) > 0)
    // round-13 continuation views: DSIR + retrieval eval compose in SQL
    val dsir = spark.sql(
      """SELECT (SELECT count(*) FROM dsir_weights) AS scored,
                (SELECT count(*) FROM dsir_selected) AS picked,
                (SELECT count(*) FROM ann_eval
                 WHERE recall_x1e6 BETWEEN 0 AND 1000000) AS evaled,
                (SELECT count(*) FROM ann_eval) AS evaln""").head()
    assert(dsir.getLong(0) > 0 && dsir.getLong(1) > 0)
    assert(dsir.getLong(1) <= dsir.getLong(0),
      "selection must be a subset of the scored pool")
    assert(dsir.getLong(2) == dsir.getLong(3),
      "every eval row's recall must be a valid fraction")
    // the KMV aggregate resolves from SQL and matches exact distinct when
    // the group has fewer distinct hashes than k
    val kmv = spark.sql("""
      SELECT lang, size(kmin_values(doc_id, 1000)) AS n,
             count(DISTINCT doc_id) AS exact
      FROM documents GROUP BY lang ORDER BY lang""").collect()
    assert(kmv.nonEmpty)
    kmv.foreach(r => assert(r.getInt(1).toLong == r.getLong(2),
      s"kmin_values under capacity must equal exact distinct: $r"))
    // the repetition-stats expression resolves from SQL
    val rep = spark.sql("""
      SELECT ngram_dup_stats(split(text, '\\s+')) AS st
      FROM documents ORDER BY doc_id LIMIT 1""").head().getStruct(0)
    assert(rep.getInt(0) > 0 && rep.getDouble(1) >= 0.0 && rep.getDouble(2) >= 0.0)
    // the transliteration expression resolves from SQL (the catalog path,
    // not only the GraftExtensions injection path)
    val uni = spark.sql(
      "SELECT unidecode('Žalgiris Москва θερμός plain') AS t").head().getString(0)
    assert(uni === "Zalgiris Moskva thermos plain", uni)
  }

  test("round-6 views and sketch aggregates answer SQL end to end") {
    // a cross-view SQL query: which current SCD2 versions belong to the
    // top PageRank users? — proves the new views compose in one statement
    val joined = spark.sql("""
      SELECT count(*) AS n FROM scd2_history s
      WHERE s.is_current""").head().getLong(0)
    assert(joined > 0)
    val pr = spark.sql(
      "SELECT count(*) AS n, min(pr) AS mn FROM pagerank").head()
    assert(pr.getLong(0) > 0 && pr.getLong(1) > 0L)
    val prof = spark.sql("""
      SELECT column_name, n_nulls, est_distinct, exact_distinct
      FROM table_profile ORDER BY column_name""").collect()
    assert(prof.length == graft.ops.ProfileOps.ProfileCols.length)
    // the HLL and CMS aggregates resolve from SQL; HLL registers have
    // fixed arity and the CMS matrix row-sums equal the input count
    val hll = spark.sql("""
      SELECT size(hll_registers(CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT), 6)) AS m
      FROM documents""").head().getInt(0)
    assert(hll == graft.llm.Sketches.HllM)
    val cms = spark.sql("""
      SELECT cms_sketch(array(CAST(doc_id % 8 AS INT)), 1, 8) AS m,
             count(*) AS n
      FROM documents""").head()
    assert(cms.getSeq[Long](0).sum == cms.getLong(1))
    // sketch algebra view: estimates and exacts agree on direction
    val ov = spark.sql("""
      SELECT est_inter, exact_inter FROM sketch_overlap""").head()
    assert(ov.getDouble(0) > 0 && ov.getLong(1) > 0)
  }

  test("analytics-batch views answer SQL end to end") {
    // funnel × cohort in one statement: every purchaser's cohort week
    // exists in the retention triangle
    val n = spark.sql("""
      SELECT count(*) AS n FROM funnel_stages f
      JOIN cohort_retention c ON c.offset_wk = 0
      WHERE f.stage = 3""").head().getLong(0)
    assert(n > 0)
    val tri = spark.sql(
      "SELECT count(*) AS n FROM copurchase_triangles WHERE pa < pb AND pb < pc")
      .head().getLong(0)
    assert(tri > 0)
    assert(spark.sql("SELECT count(*) FROM fuzzy_name_match WHERE dist <= 4")
      .head().getLong(0) > 0)
    assert(spark.sql("SELECT count(*) FROM weighted_sample").head().getLong(0)
      == graft.ops.AnalyticsOps.SampleK)
    assert(spark.sql(
      "SELECT count(*) FROM length_outliers WHERE is_outlier").head().getLong(0) > 0)
    assert(spark.sql("SELECT count(*) FROM ivm_join").head().getLong(0) > 0)
  }

  test("retrieval-index and collocation views answer SQL end to end") {
    // the probe view serves a full top-k per standing query (row-level
    // parity with q_bm25 is pinned in LlmOpsSpec and by the shared oracle)
    val served = spark.sql("""
      SELECT query_id, count(*) AS n, max(rk) AS mx
      FROM bm25_indexed GROUP BY query_id""").collect()
    assert(served.length == graft.llm.TextAnalysis.Bm25Queries.length)
    served.foreach { r =>
      assert(r.getLong(1) == graft.llm.TextAnalysis.Bm25TopK
        && r.getInt(2) == graft.llm.TextAnalysis.Bm25TopK)
    }
    // every posting's df never exceeds the corpus size carried on the row
    assert(spark.sql(
      "SELECT count(*) FROM inverted_index WHERE df > n_docs")
      .head().getLong(0) == 0)
    // collocations: lift reconstructs from the row's own integer counts
    val bad = spark.sql("""
      SELECT count(*) AS n FROM collocations c,
        (SELECT sum(tf) AS t FROM inverted_index)
      WHERE abs(lift - round(CAST(cooc * t AS DOUBLE) /
              CAST(ca * cb AS DOUBLE), 9)) > 0""").head().getLong(0)
    assert(bad == 0)
    // bigram commonness covers every document, zero-bigram rows included
    val cov = spark.sql("""
      SELECT count(*) AS n,
             count(CASE WHEN n_bigrams = 0 AND avg_freq_x1000 IS NULL
                        THEN 1 END) AS zeros_null
      FROM bigram_lm""").head()
    assert(cov.getLong(0) == spark.table("documents").count())
  }

  test("round-7 views answer SQL end to end") {
    // no frontier doc may dominate another (both-axes-better is impossible
    // inside a skyline — checked in SQL over the mounted view itself)
    assert(spark.sql("""
      SELECT count(*) FROM pareto_front a JOIN pareto_front b
      ON b.n_types >= a.n_types AND b.n_chars <= a.n_chars
         AND (b.n_types > a.n_types OR b.n_chars < a.n_chars)""")
      .head().getLong(0) == 0)
    // OHLC internal consistency over every bar
    assert(spark.sql("""
      SELECT count(*) FROM ohlc_bars
      WHERE low_cents > open_cents OR low_cents > close_cents
         OR high_cents < open_cents OR high_cents < close_cents""")
      .head().getLong(0) == 0)
    // the dq suite reports all five constraints; injected dirt is caught
    val dq = spark.sql(
      "SELECT count(*), sum(CASE WHEN pass THEN 0 ELSE 1 END) FROM dq_checks")
      .head()
    assert(dq.getLong(0) == 5 && dq.getLong(1) >= 4)
    // histogram quantile estimates stay one-sided over the exact value
    assert(spark.sql(
      "SELECT count(*) FROM hist_quantiles WHERE slack < 0")
      .head().getLong(0) == 0)
    // neighbor pairs are canonical and idf-scored positive
    assert(spark.sql(
      "SELECT count(*) FROM tfidf_neighbors WHERE a_id >= b_id OR dot <= 0")
      .head().getLong(0) == 0)
  }

  test("anomaly and interpolation views answer SQL end to end") {
    // every anomaly verdict honors its own published threshold, and the
    // skewed fixture produces real anomalies
    val an = spark.sql(s"""
      SELECT count(*),
             sum(CASE WHEN is_anomaly THEN 1 ELSE 0 END),
             sum(CASE WHEN is_anomaly !=
                   (abs(cents - med_cents) >
                    ${graft.ops.AnalyticsOps.MadK} * mad_cents)
                 THEN 1 ELSE 0 END)
      FROM anomaly_mad""").head()
    assert(an.getLong(0) > 0 && an.getLong(1) > 0 && an.getLong(2) == 0)
    // interpolated values never leave the [prev, next] envelope: a filled
    // reading lies between the min and max observed reading of its user
    assert(spark.sql("""
      SELECT count(*) FROM interp_fill f
      JOIN (SELECT user_id, min(reading_cents) lo, max(reading_cents) hi
            FROM interp_fill WHERE reading_cents IS NOT NULL
            GROUP BY user_id) b USING (user_id)
      WHERE f.interp_cents NOT BETWEEN b.lo AND b.hi""")
      .head().getLong(0) == 0)
    // drift rows: per-type bucket counts add to the type totals, and the
    // verdict column honors the published cross-multiplied rule
    assert(spark.sql(s"""
      SELECT count(*) FROM (
        SELECT event_type, max(n1) n1, max(n2) n2, sum(c1) s1, sum(c2) s2,
               sum(CASE WHEN drifted !=
                     (abs(c1*n2 - c2*n1) * ${graft.ops.ProfileOps.DriftDenom}
                      > n1*n2) THEN 1 ELSE 0 END) bad
        FROM dq_drift GROUP BY event_type)
      WHERE s1 != n1 OR s2 != n2 OR bad > 0""")
      .head().getLong(0) == 0)
    // the coverage curve is monotone in both coordinates
    assert(spark.sql("""
      SELECT count(*) FROM vocab_coverage a JOIN vocab_coverage b
      ON a.pct < b.pct
      WHERE a.vocab_size > b.vocab_size OR a.covered_cnt > b.covered_cnt""")
      .head().getLong(0) == 0)
    // the layout diagnostic: both layouts see the same matching rows and
    // z-order scans strictly fewer files
    assert(spark.sql("""
      SELECT count(*) FROM zorder_prune n JOIN zorder_prune z
      ON n.layout = 'natural' AND z.layout = 'zorder'
      WHERE n.rows_matched != z.rows_matched
         OR z.files_scanned >= n.files_scanned""")
      .head().getLong(0) == 0)
    // melt × reconciliation compose in one statement: total orders agree
    val tot = spark.sql("""
      SELECT (SELECT sum(n_orders) FROM unpivoted_counts) AS a,
             (SELECT sum(n_a) + sum(n_b) FROM snapshot_reconciliation) AS b
      """).head()
    assert(tot.getLong(0) == tot.getLong(1), "order counts must reconcile")
    // similarity rows respect their own algebra: inter bounds and the
    // published scaled-Jaccard arithmetic
    assert(spark.sql("""
      SELECT count(*) FROM node_similarity
      WHERE inter < 1 OR inter > least(da, db)
         OR jac_x1000 != inter * 1000 div (da + db - inter)""")
      .head().getLong(0) == 0)
    // zone rows: envelopes ordered and counts sum to the table size
    assert(spark.sql("""
      SELECT count(*) FROM ivm_zonemap
      WHERE x_lo > x_hi OR y_lo > y_hi OR n_rows <= 0""")
      .head().getLong(0) == 0)
    assert(spark.sql("SELECT sum(n_rows) FROM ivm_zonemap").head().getLong(0)
      == spark.table("orders").count())
  }

  test("training/eval and retrieval-fusion views answer SQL end to end") {
    // weighted median: an actual data value, bracketed by group extremes,
    // and the weight total exceeds the count (weights are 1..7)
    assert(spark.sql("""
      SELECT count(*) FROM weighted_median
      WHERE tot_w < n OR wmed_cents IS NULL OR med_cents IS NULL""")
      .head().getLong(0) == 0)
    // PR sweep: k and tp are non-decreasing as the threshold loosens,
    // recall ends at exactly 1e6, and the ppm arithmetic self-checks
    assert(spark.sql("""
      SELECT count(*) FROM pr_curve
      WHERE precision_ppm != tp * 1000000 div k
         OR tp > k OR fp != k - tp""").head().getLong(0) == 0)
    assert(spark.sql(
      "SELECT max(recall_ppm) FROM pr_curve").head().getLong(0) == 1000000L)
    // sketch top-k: one-sided overcount, ranked by estimate
    assert(spark.sql("""
      SELECT count(*) FROM cms_topk
      WHERE overcount < 0 OR est_freq != exact_freq + overcount""")
      .head().getLong(0) == 0)
    // rrf: every fused row cites at least one source list, and the ppm
    // value honors the published formula
    assert(spark.sql(s"""
      SELECT count(*) FROM rrf_fusion
      WHERE (dense_rank IS NULL AND sparse_rank IS NULL)
         OR rrf_ppm != coalesce(1000000 div (${
           graft.llm.Similarity.RrfC} + dense_rank), 0)
                     + coalesce(1000000 div (${
           graft.llm.Similarity.RrfC} + sparse_rank), 0)""")
      .head().getLong(0) == 0)
    // maxsim: a sum of MaxSimParts cosines stays inside [-P, P], and the
    // flat cosine rides along as a sane unit-interval score
    assert(spark.sql(s"""
      SELECT count(*) FROM maxsim_results
      WHERE abs(maxsim) > ${graft.llm.Similarity.MaxSimParts}.0 + 1e-9
         OR abs(cos) > 1.0 + 1e-9""").head().getLong(0) == 0)
    // grouping sets: per-gid totals reconcile with the base table, and no
    // grand-total row exists
    val gs = spark.sql("""
      SELECT (SELECT sum(n_orders) FROM grouping_sets_report WHERE gid = 0),
             (SELECT sum(n_orders) FROM grouping_sets_report WHERE gid = 1),
             (SELECT count(*) FROM orders),
             (SELECT count(*) FROM grouping_sets_report WHERE gid = 3)""")
      .head()
    assert(gs.getLong(0) == gs.getLong(2) && gs.getLong(1) == gs.getLong(2)
      && gs.getLong(3) == 0)
    // epoch shuffle: every epoch is a full permutation of the corpus
    val es = spark.sql("""
      SELECT count(DISTINCT epoch),
             count(*),
             count(DISTINCT (epoch, doc_id)),
             (SELECT count(*) FROM documents)
      FROM epoch_shuffle""").head()
    assert(es.getLong(0) == graft.llm.Curation.ShuffleEpochs.toLong
      && es.getLong(1) == es.getLong(0) * es.getLong(3)
      && es.getLong(2) == es.getLong(1))
    // fertility: at least one piece per word, totals positive
    assert(spark.sql("""
      SELECT count(*) FROM bpe_fertility
      WHERE fertility_ppm < 1000000 OR n_words <= 0
         OR n_bpe_tokens < n_words""").head().getLong(0) == 0)
    // basket rules: confidence never exceeds 1, support bounded by both
    // item counts, and the published div arithmetic holds
    assert(spark.sql("""
      SELECT count(*) FROM basket_rules
      WHERE conf_ppm > 1000000 OR supp > least(cnt_a, cnt_b)
         OR conf_ppm != (supp * 1000000) div cnt_a""")
      .head().getLong(0) == 0)
    // calendar spine: row count equals the inclusive day span, weekend
    // flags consistent with dow
    val cs = spark.sql("""
      SELECT count(*),
             CAST(max(epoch_day) - min(epoch_day) + 1 AS BIGINT),
             sum(CASE WHEN is_weekend != (dow IN (0, 6)) THEN 1 ELSE 0 END)
      FROM cal_spine""").head()
    assert(cs.getLong(0) == cs.getLong(1) && cs.getLong(2) == 0)
    // k-anonymity: class sizes sum to the table, verdicts honor k
    assert(spark.sql("SELECT sum(class_size) FROM privacy_kanon")
      .head().getLong(0) == spark.table("customer").count())
    assert(spark.sql(s"""
      SELECT count(*) FROM privacy_kanon
      WHERE at_risk != (class_size < ${graft.ops.PrivacyOps.KAnonK})
         OR l_diversity > class_size""").head().getLong(0) == 0)
    // containment: the published threshold and div arithmetic hold
    assert(spark.sql(s"""
      SELECT count(*) FROM containment_pairs
      WHERE sz_in > sz_out OR inter > sz_in
         OR cont_ppm != (CAST(inter AS BIGINT) * 1000000) div sz_in
         OR inter * 100 < sz_in * ${math.round(
           graft.llm.Dedup.ContainThreshold * 100)}""")
      .head().getLong(0) == 0)
    // seasonality: spine day counts reconcile and rates honor the div
    assert(spark.sql("""
      SELECT count(*) FROM dow_seasonality
      WHERE orders_per_day_x1000 != (n_orders * 1000) div n_days
         OR n_days <= 0""").head().getLong(0) == 0)
    assert(spark.sql(
      "SELECT sum(n_days) FROM dow_seasonality").head().getLong(0)
      == spark.table("cal_spine").count())
    // first touch: delay non-negative within the window; candidates >= 1
    // (window micros derived from the shared constant — the three-site
    // desync class the advisor flagged, closed here too)
    assert(spark.sql(s"""
      SELECT count(*) FROM first_touch_attr
      WHERE delay_us <= 0
         OR delay_us > ${graft.ops.IntervalOps.FirstTouchWindowSeconds * 1000000L}
         OR n_candidates < 1""")
      .head().getLong(0) == 0)
    // pixel stats: extrema bounded by the byte range and by each other,
    // n_px reconciles with the decoded dimensions, corpus fully covered
    val ps = spark.sql("""
      SELECT count(*),
             sum(CASE WHEN min_px < 0 OR max_px > 255 OR min_px > max_px
                       OR n_px != CAST(width AS BIGINT) * height
                       OR sum_px < CAST(min_px AS BIGINT) * n_px
                       OR sum_px > CAST(max_px AS BIGINT) * n_px
                  THEN 1 ELSE 0 END)
      FROM pixel_stats""").head()
    assert(ps.getLong(0) == spark.table("documents").count()
      && ps.getLong(1) == 0)
    // sync errors: every reported object really carries its corruption
    // class's modulus, and both classes occur on the fixture
    val se = spark.sql(s"""
      SELECT sum(CASE WHEN error = 'missing_guid'
                       AND obj_id % ${SyncPipeline.CorruptGuidMod} != 0
                  THEN 1 ELSE 0 END),
             sum(CASE WHEN error = 'parse_error'
                       AND obj_id % ${SyncPipeline.CorruptTruncMod} != 0
                  THEN 1 ELSE 0 END),
             sum(CASE WHEN error = 'missing_guid' THEN 1 ELSE 0 END),
             sum(CASE WHEN error = 'parse_error' THEN 1 ELSE 0 END)
      FROM sync_errors""").head()
    assert(se.getLong(0) == 0 && se.getLong(1) == 0)
    assert(se.getLong(2) > 0 && se.getLong(3) > 0)
    // rgb/jpeg pixel stats: every decode asserted ok, dims reconcile,
    // lossless rows carry exact sums (bounded by the fixture's value
    // range), lossy rows carry none, corpus fully covered in both formats
    val pr = spark.sql("""
      SELECT count(*),
             sum(CASE WHEN NOT decode_ok
                       OR n_px != CAST(width AS BIGINT) * height
                       OR fmt NOT IN ('png', 'jpg')
                       OR (fmt = 'png') != (sum_r IS NOT NULL)
                       OR (fmt = 'png') != (sum_g IS NOT NULL)
                       OR (fmt = 'png') != (sum_b IS NOT NULL)
                       OR (fmt = 'png' AND
                           (sum_r < 0 OR sum_r > 230 * n_px
                            OR sum_g < 0 OR sum_g > 230 * n_px
                            OR sum_b < 0 OR sum_b > 230 * n_px))
                  THEN 1 ELSE 0 END),
             sum(CASE WHEN fmt = 'jpg' THEN 1 ELSE 0 END)
      FROM pixel_rgb_stats""").head()
    assert(pr.getLong(0) == spark.table("documents").count()
      && pr.getLong(1) == 0)
    assert(pr.getLong(2) > 0 && pr.getLong(2) < pr.getLong(0))
    // audio stats: every decode ok, Cauchy-Schwarz ties the L1/L2
    // energies to the peak, duration reconciles with rate in floor
    // millis, all three fixture rates present, corpus fully covered
    val au = spark.sql("""
      SELECT count(*),
             sum(CASE WHEN NOT decode_ok
                       OR sample_rate NOT IN (8000, 16000, 24000)
                       OR duration_ms != CAST(n_samples AS BIGINT) * 1000
                                         DIV sample_rate
                       OR peak_abs < 0 OR peak_abs > 2048
                       OR sum_abs > CAST(peak_abs AS BIGINT) * n_samples
                       OR sum_sq > CAST(peak_abs AS BIGINT) * sum_abs
                       OR zero_cross < 0 OR zero_cross >= n_samples
                  THEN 1 ELSE 0 END),
             count(DISTINCT sample_rate)
      FROM audio_stats""").head()
    assert(au.getLong(0) == spark.table("documents").count()
      && au.getLong(1) == 0 && au.getLong(2) == 3)
    // resize stats: round trip asserted, output dims are the ceil-half of
    // the input dims, resized extrema inside the byte range and ordering
    val rz = spark.sql("""
      SELECT count(*),
             sum(CASE WHEN NOT roundtrip_ok
                       OR out_w != (in_w + 1) DIV 2 OR out_h != (in_h + 1) DIV 2
                       OR min_px < 0 OR max_px > 255 OR min_px > max_px
                       OR sum_px < CAST(min_px AS BIGINT) * out_w * out_h
                       OR sum_px > CAST(max_px AS BIGINT) * out_w * out_h
                  THEN 1 ELSE 0 END)
      FROM resize_stats""").head()
    assert(rz.getLong(0) == spark.table("documents").count()
      && rz.getLong(1) == 0)
    // video frame stats: every sampled frame decoded ok, one row per
    // EVERY-2nd frame index (so idx is even and below the frame count),
    // duration is the sum of per-frame 1..4 cs delays (bounded both
    // sides by the frame count), extrema inside the byte range and
    // bracketing the mean
    val vf = spark.sql(s"""
      SELECT count(*),
             sum(CASE WHEN NOT decode_ok
                       OR frame_idx % ${graft.ops.MultimodalOps.VidSampleEvery} != 0
                       OR frame_idx >= n_frames
                       OR duration_cs < n_frames OR duration_cs > 4 * n_frames
                       OR min_px < 0 OR max_px > 255 OR min_px > max_px
                       OR sum_px < CAST(min_px AS BIGINT) * width * height
                       OR sum_px > CAST(max_px AS BIGINT) * width * height
                  THEN 1 ELSE 0 END),
             count(DISTINCT doc_id)
      FROM video_frame_stats""").head()
    assert(vf.getLong(0) >= spark.table("documents").count()
      && vf.getLong(1) == 0
      && vf.getLong(2) == spark.table("documents").count())
    // funnel latency: p90 >= median, both actual observed values > 0
    assert(spark.sql("""
      SELECT count(*) FROM funnel_latency
      WHERE p90_us < med_us OR med_us <= 0 OR n_users <= 0""")
      .head().getLong(0) == 0)
    // erasure: per-table erase+retain reconciles with the table counts
    assert(spark.sql("""
      SELECT count(*) FROM (
        SELECT tbl, sum(n) AS tot FROM erasure_report GROUP BY tbl) r
      JOIN (SELECT 'customer' AS tbl, count(*) AS cnt FROM customer
            UNION ALL SELECT 'orders', count(*) FROM orders
            UNION ALL SELECT 'events', count(*) FROM events
            UNION ALL SELECT 'lineitem', count(*) FROM lineitem) t
        USING (tbl)
      WHERE tot != cnt""").head().getLong(0) == 0)
    // ivm sketch: estimate exact below capacity, one-sided arithmetic sane
    assert(spark.sql(s"""
      SELECT count(*) FROM ivm_sketch
      WHERE n_hashes < ${graft.llm.Sketches.KmvK}
        AND est_distinct != CAST(exact_distinct AS DOUBLE)""")
      .head().getLong(0) == 0)
    // langid confusion: cells sum to the corpus, recall arithmetic holds
    val lc = spark.sql("""
      SELECT sum(n), (SELECT count(*) FROM documents),
             sum(CASE WHEN recall_ppm != (n * 1000000) div class_total
                 THEN 1 ELSE 0 END)
      FROM langid_confusion""").head()
    assert(lc.getLong(0) == lc.getLong(1) && lc.getLong(2) == 0)
    // budget: kept tokens within budget, tight at the boundary
    val cb = spark.sql(s"""
      SELECT sum(CASE WHEN keep THEN n_tokens ELSE 0 END),
             sum(CASE WHEN keep THEN 0 ELSE 1 END)
      FROM curate_budget""").head()
    assert(cb.getLong(0) <= graft.llm.Curation.CurateBudgetTokens
      && cb.getLong(1) > 0)
    // flagship: exactly top-K rows, descending revenue, all positive
    val fr = spark.sql("""
      SELECT count(*),
             sum(CASE WHEN revenue_cents <= 0 THEN 1 ELSE 0 END)
      FROM flagship_revenue""").head()
    assert(fr.getLong(0) == graft.ops.AnalyticsOps.FlagshipTopK.toLong
      && fr.getLong(1) == 0)
    // asof tolerance: unmatched rows carry exactly the defaults; matched
    // rows honor the freshness bound
    assert(spark.sql(s"""
      SELECT count(*) FROM asof_tolerance
      WHERE (NOT matched AND (click_event_id != -1
               OR click_ts != TIMESTAMP '1970-01-01 00:00:00'))
         OR (matched AND unix_micros(ts) - unix_micros(click_ts) >
               ${graft.ops.AsofOps.AsofTolMicros})""").head().getLong(0) == 0)
    // range frame: every frame contains at least its own row, and the
    // count never exceeds the type's population
    assert(spark.sql("""
      SELECT count(*) FROM range_frame_1h r
      JOIN (SELECT event_type, count(*) AS tot FROM range_frame_1h
            GROUP BY event_type) t USING (event_type)
      WHERE n_1h < 1 OR n_1h > tot""").head().getLong(0) == 0)
    // rfm: scores in 1..5 and each segment row re-derives from its scores
    assert(spark.sql("""
      SELECT count(*) FROM rfm_segments
      WHERE r NOT BETWEEN 1 AND 5 OR f NOT BETWEEN 1 AND 5
         OR m NOT BETWEEN 1 AND 5
         OR segment != CASE WHEN r = 1 AND f = 1 AND m = 1 THEN 'champion'
                            WHEN r >= 4 AND f <= 2 THEN 'at_risk'
                            WHEN f = 1 THEN 'loyal'
                            WHEN r = 1 THEN 'recent'
                            ELSE 'regular' END""").head().getLong(0) == 0)
    spark.catalog.clearCache()
  }
}
