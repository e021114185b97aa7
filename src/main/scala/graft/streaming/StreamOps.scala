package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.Tables.{table => t}
import java.sql.Timestamp

/** Streaming/incremental semantics (SURVEY.md §2.9). The reference is a
  * batch re-sync, so parity needs only the batch diff-and-merge (SyncPipeline
  * .classifyAgainst); this module adds the Structured Streaming surface a
  * training-data pipeline needs over the `events` stream: watermarked
  * tumbling-window aggregation and stateful sessionization.
  *
  * Each streaming operator is the live form of a declared batch query
  * (declared in SparkEntry.queries, DuckDB-checked). Where the two compute
  * the same rows there is ONE frame-level body, and the batch query is that
  * body applied to the table, then its ORDER BY and output projection; on a
  * batch frame Spark's `EliminateEventTimeWatermark` drops the watermark.
  * One body serves both forms of:
  *  - tumbling counts ([[tumblingCounts]] over [[tumblingCountsStream]]),
  *  - the per-window KMV sketch ([[distinctPerWindow]]'s sketch half is
  *    [[distinctPerWindowStream]]; the exact count(DISTINCT) beside it is
  *    batch-only, its state being unbounded),
  *  - OHLC bars ([[graft.ops.AnalyticsOps.ohlcResample]] over [[ohlcStream]]),
  *  - the temperature mix ([[graft.llm.Curation.sourceMixTemperature]]
  *    over [[mixTempStream]]),
  *  - the BM25 probe ([[graft.llm.TextAnalysis.bm25Probe]]'s scoring join is
  *    [[bm25ProbeStream]]),
  *  - the view→click interval join ([[graft.ops.IntervalOps]]' one
  *    predicate under [[intervalJoinStream]], `q_j9_interval` and
  *    `q_j9b_first_touch`),
  *  - the CMS point probe ([[graft.llm.Sketches.cmsProbe]]).
  *
  * The other twins keep a body of their own because the two forms are
  * different algorithms: [[langidStream]] scores each row against literal
  * profiles where the batch form joins a broadcast profile table; the
  * `flatMapGroupsWithState` twins carry per-key state where the batch
  * forms run windows over whole partitions; [[histQuantilesStream]] bins
  * event cents per window where the batch form bins document lengths per
  * language beside the exact rank. The remaining probes emit per-row
  * values against a frozen artifact and leave the per-key fold, stateful
  * on a non-time key, to a downstream batch step.
  *
  * Each pair is pinned stream ≡ batch in StreamOpsSpec; at scale the same
  * streaming code runs on Kafka/file sources with checkpointing, and the
  * batch form is its backfill.
  */
object StreamOps {

  val SessionGapMinutes = 30

  // ---- batch forms (oracle-checked) -------------------------------------

  /** Tumbling 1-hour windows per event type: count + exact value cents —
    * [[tumblingCountsStream]] over the table.
    */
  def tumblingCounts(s: SparkSession, dir: String): DataFrame =
    tumblingCountsStream(t(s, dir, "events"))
      .orderBy("window_start", "event_type")

  /** Sliding 1-hour windows every 30 minutes: each event lands in two
    * windows (Spark's TimeWindow expand), counted per window and type.
    */
  def slidingCounts(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(
        window(col("ts"), "1 hour", "30 minutes").getField("start").as("window_start"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .orderBy("window_start", "event_type")

  /** Tumbling 1-hour windows: approximate distinct users per window via
    * the KMV sketch ([[graft.functions.KMinValues]]) next to the exact
    * count it approximates — the streaming-friendly distinct: the sketch's
    * bounded O(k) state is exactly what an unbounded stream's state store
    * needs, where exact count(DISTINCT) state grows with the key space.
    * The hash is the engine-portable md5 ([[TextHash.md5Long]] shape), so
    * the oracle pins sketch size, kth hash, and estimate per window. The
    * sketch half is [[distinctPerWindowStream]] over the table.
    */
  def distinctPerWindow(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    // sketch and exact aggregate SEPARATELY (the fused form triggers
    // Spark's distinct-rewrite, building sketch state per distinct key —
    // see Sketches.kmvDistinct) and join over the handful of window rows
    val exact = ev
      .groupBy(window(col("ts"), "1 hour").getField("start").as("window_start"))
      .agg(countDistinct(col("user_id")).as("exact_users"))
    distinctPerWindowStream(ev).join(broadcast(exact), Seq("window_start"))
      .select(col("window_start"), col("n_hashes"), col("est_users"),
        col("exact_users"))
      .orderBy("window_start")
  }

  /** The sketch half of [[distinctPerWindow]]: watermarked tumbling
    * windows, KMV sketch per window — per-window state is ≤ k longs
    * regardless of stream cardinality, and windows older than the
    * watermark are evicted. (The exact column is deliberately absent
    * here: count(DISTINCT) is unsupported in streaming precisely because
    * its state is unbounded — the sketch is the streaming answer.)
    */
  def distinctPerWindowStream(events: DataFrame): DataFrame = {
    val k = graft.llm.Sketches.KmvK
    val h = graft.llm.Sketches.kmvHash(col("user_id"))
    events
      .withWatermark("ts", "2 hours")
      .select(col("ts"), h.as("h"))
      .groupBy(window(col("ts"), "1 hour"))
      .agg(graft.functions.KMinValues(col("h"), k).as("kmv"))
      .select(col("window.start").as("window_start"),
        size(col("kmv")).as("n_hashes"),
        graft.llm.Sketches.kmvEstimate(col("kmv")).as("est_users"))
  }

  /** HLL twin of [[distinctPerWindowStream]]: 2^p = 64 BYTES of state per
    * window (vs the KMV's 8·k = 512) — the smallest distinct-count state
    * a stream's store can carry. Same watermark eviction; the registers
    * and the integer-derived estimate match the batch
    * [[graft.llm.Sketches.hllDistinct]] arithmetic exactly.
    */
  def hllPerWindowStream(events: DataFrame): DataFrame = {
    val h = graft.llm.Sketches.hllHash(col("user_id"))
    events
      .withWatermark("ts", "2 hours")
      .select(col("ts"), h.as("h"))
      .groupBy(window(col("ts"), "1 hour"))
      .agg(graft.functions.HllRegisters(
        col("h"), graft.llm.Sketches.HllP).as("registers"))
      .select(col("window.start").as("window_start"),
        col("registers"),
        graft.llm.Sketches.hllEstimate(col("registers")).as("est_users"))
  }

  /** Per-window histogram-quantile monitor — the 21st twin
    * ([[graft.llm.Sketches.histQuantiles]]'s live form): each event-time
    * window reduces its cents values into [[graft.llm.Sketches.HistB]]
    * fixed-bound bin counters (conditional sums — a plain associative
    * aggregate, O(bins) state per open window; fixed GLOBAL bounds are
    * what make the bins a monoid, the batch operator's argument), and
    * the p50/p90/p99 upper-edge estimates are row-local integer
    * cross-multiplies over the finished window's counters. One-sided
    * (estimate ≥ exact, within one bin width) while the population stays
    * inside the bounded bin range — the batch operator's "bounds cover
    * the corpus" sizing contract; beyond it the clamped open tail bin
    * floors rather than bounds (spec-pinned on an in-range fixture).
    */
  def histQuantilesStream(events: DataFrame): DataFrame = {
    import graft.llm.Sketches.{HistB, HistQs}
    // cents-scaled bins: the events fixture's value lands in [0, ~60_00]
    // cents; 20 bins of 500 cents cover it with the same open-ended tail
    val binW = 500
    val cents = round(col("value") * 100).cast("bigint")
    val bin = least(expr(s"cents div $binW"), lit(HistB - 1)).cast("int")
    val binCols = (0 until HistB).map(b =>
      sum(when(col("bin") === b, 1L).otherwise(0L)).as(s"b$b"))
    val agg = events
      .withWatermark("ts", "2 hours")
      .select(col("ts"), cents.as("cents"))
      .withColumn("bin", bin)
      .groupBy(window(col("ts"), "1 hour"))
      .agg(binCols.head, binCols.tail: _*)
    val n = (0 until HistB).map(b => col(s"b$b")).reduce(_ + _)
    def est(q: Int) = {
      val cums = (0 until HistB).scanLeft(lit(0L): Column)(
        (acc, b) => acc + col(s"b$b")).tail
      val binIdx = (0 until HistB).zip(cums).foldRight(lit(HistB - 1)) {
        case ((b, cum), acc) => when(cum * 100 >= col("n") * q, lit(b)).otherwise(acc)
      }
      // first bin whose cumulative reaches ceil(q*n/100): scan from the
      // RIGHT so the earliest qualifying bin wins; estimate = upper edge
      (binIdx + 1) * binW
    }
    agg
      .withColumn("n", n)
      .select(col("window.start").as("window_start") +: col("n") +:
        HistQs.map(q => est(q).cast("long").as(s"p${q}_hi_cents")): _*)
  }

  /** Streaming per-object error channel — the 22nd twin
    * ([[graft.SyncPipeline.importFromStagingWithErrors]]'s
    * classify-in-flight form): each arriving staged work item
    * `(guid, content)` parses against the source schema and classifies
    * through the SAME shared detector the batch channel uses
    * ([[graft.SyncPipeline.errorClass]] — the two tiers cannot
    * disagree), emitting only the errored items. Stateless, append-mode,
    * zero shuffle, no state store — the shape of a harvest monitor that
    * raises per-object errors while items are still flowing, instead of
    * after the batch lands. Spec pins stream ≡ batch error set
    * item-for-item over a corrupted snapshot.
    */
  def importErrorStream(staged: DataFrame,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    staged
      .select(col("guid"),
        graft.SyncPipeline.parsedRecord(col("content"), schema).as("rec"))
      .select(col("guid"),
        graft.SyncPipeline.errorClass(col("guid"), col("rec")).as("error"))
      .filter(col("error").isNotNull)

  /** Row-local streaming language detection — the 20th twin
    * ([[graft.llm.TextAnalysis.langId]]'s classify-in-flight form): each
    * arriving document scores against every language profile via
    * `array_intersect` with the profile as a LITERAL (the formulation
    * the batch operator deliberately avoids at corpus scale in favor of
    * the broadcast-profile join — in a stream the per-row literal is
    * exactly right: stateless, append-mode, zero shuffle, no state
    * store). Ties resolve to the alphabetically first language, the
    * batch tie rule; the spec pins stream ≡ batch prediction-for-
    * prediction.
    */
  def langidStream(docs: DataFrame): DataFrame = {
    import graft.llm.TextAnalysis.{charTrigrams, langMarkers, langProfile}
    val langs = langMarkers.keys.toSeq.sorted
    val grams = charTrigrams(col("text"))
    val sCols = langs.map(l => size(array_intersect(grams,
      array(langProfile(l).map(lit): _*))).cast("long"))
    val smax = greatest(sCols: _*)
    val pred = langs.zip(sCols).tail.foldLeft(
      when(sCols.head === smax, langs.head)) {
      case (acc, (lang, sc)) => acc.when(sc === smax, lang)
    }
    docs.select(col("doc_id"), pred.as("pred_lang"),
      smax.cast("int").as("score"))
  }

  /** Per-window count-min frequency monitor — the streaming twin of
    * [[graft.llm.Sketches.cmsTermFreq]]/[[graft.llm.Sketches.cmsTopK]]:
    * each event-time window reduces into ONE d·w counter matrix (8 KB of
    * mergeable aggregation state per open window, independent of key
    * cardinality — the property that lets the same plan monitor a
    * million-key stream), and the [[DqEventTypes]] estimates are row-local
    * reads of the matrix with constant-folded bucket indexes. One-sided
    * by construction (est >= true count); the watermark evicts closed
    * windows. Spec pins stream ≡ the batch matrix window-for-window.
    */
  def cmsPerWindowStream(events: DataFrame): DataFrame = {
    import graft.llm.Sketches.{cmsBuckets, cmsProbe, CmsD, CmsW}
    events
      .withWatermark("ts", "2 hours")
      .select(col("ts"), cmsBuckets(col("event_type")).as("bk"))
      .groupBy(window(col("ts"), "1 hour"))
      .agg(graft.functions.CmsSketch(col("bk"), CmsD, CmsW).as("cms"))
      .select(col("window.start").as("window_start") +:
        DqEventTypes.map(tpe => cmsProbe(lit(tpe)).as(s"est_$tpe")): _*)
  }

  /** Watermarked OHLC bars, the body of
    * [[graft.ops.AnalyticsOps.ohlcResample]]: per (event_type, 1-hour
    * window) open/high/low/close integer cents plus count/volume, with
    * open/close selected by `min_by`/`max_by` under the
    * (epoch-micros, event_id) total order, so a timestamp tie picks the
    * same event on every engine and in every arrival order. All six
    * aggregates are declarative and associative — per-bar state is a few
    * longs plus the two ordering keys, merged across partial
    * aggregations (the struct keys make Spark plan a sort aggregate, not
    * a hash aggregate); the watermark evicts closed bars, bounding the
    * state store at O(open bars).
    */
  def ohlcStream(events: DataFrame): DataFrame = {
    val ord = struct(unix_micros(col("ts")).as("us"), col("event_id"))
    val cents = round(col("value") * 100).cast("bigint")
    events
      .withWatermark("ts", "2 hours")
      .select(col("ts"), col("event_type"), col("event_id"),
        cents.as("cents"), ord.as("ord"))
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        min_by(col("cents"), col("ord")).as("open_cents"),
        max(col("cents")).as("high_cents"),
        min(col("cents")).as("low_cents"),
        max_by(col("cents"), col("ord")).as("close_cents"),
        count(lit(1)).as("n_events"),
        sum(col("cents")).as("vol_cents"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("open_cents"), col("high_cents"), col("low_cents"),
        col("close_cents"), col("n_events"), col("vol_cents"))
  }

  /** The event-type domain the streaming data-quality monitor accepts —
    * ONE definition shared with [[dqStream]]'s spec.
    */
  val DqEventTypes: Seq[String] =
    Seq("click", "view", "purchase", "signup", "error")

  /** Streaming data-quality monitor — the
    * [[graft.ops.ProfileOps.dqChecks]] row-local constraint families
    * (completeness / domain / range) evaluated per event-time window: the
    * violation dashboard an ingest watches live, where the batch suite is
    * the publish gate. Counts are plain conditional sums — associative,
    * O(1) state per open window, watermark-evicted; the uniqueness and
    * referential families deliberately stay batch-only (both need
    * cross-window memory a stream cannot bound).
    */
  def dqStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("user_id").isNull, 1L).otherwise(0L)).as("v_null_user"),
        sum(when(col("event_type").isin(DqEventTypes.map(x => x: Any): _*),
          0L).otherwise(1L)).as("v_domain"),
        sum(when(col("value") < 0, 1L).otherwise(0L)).as("v_range"))
      .select(col("window.start").as("window_start"), col("n_rows"),
        col("v_null_user"), col("v_domain"), col("v_range"),
        (col("v_null_user") + col("v_domain") + col("v_range") === 0L)
          .as("pass"))

  /** Gap-based sessionization as a batch window computation: a new session
    * starts when the gap to the previous event of the same user exceeds
    * 30 minutes; session id = running count of session starts.
    */
  def sessionizeBatch(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val newSession = when(
      col("ts").cast("long") -
        lag(col("ts"), 1).over(byUser).cast("long") > SessionGapMinutes * 60L,
      1L).otherwise(lit(0L))
    t(s, dir, "events")
      .withColumn("session_id", sum(newSession).over(byUser))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"))
      .orderBy("user_id", "session_id")
  }

  // ---- streaming forms ---------------------------------------------------

  /** Watermarked tumbling-window counts over a stream with schema
    * (ts timestamp, event_type string, value double). Late data beyond
    * 2 hours is dropped; state is bounded by the watermark.
    */
  def tumblingCountsStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(round(col("value") * 100).cast("bigint")).as("value_cents"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("value_cents"))

  /** Streaming exact dedup: drop re-deliveries of the same content digest
    * inside the watermark horizon — the streaming form of Dedup.exact.
    * State is bounded by the watermark (digests older than the horizon are
    * evicted), which is what makes exact dedup feasible on an unbounded
    * 100 TB/day stream.
    */
  def dedupStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("digest")

  /** Streaming incremental near-dup dedup — the stream-static form of
    * [[graft.llm.Dedup.incrementalDedup]]: incoming documents (doc_id,
    * text) probe the corpus's persisted MinHash index
    * ([[graft.llm.Dedup.minhashIndex]], loaded as a STATIC frame) and emit
    * (delta_id, base_id, est_jac) for every base near-dup found.
    *
    * Everything on the stream side is row-local (signature = one fold,
    * bands = one explode), so the only stateful-looking operator is the
    * stream-static join — which needs NO state at all: the static side is
    * just a lookup table per micro-batch. That keeps the query append-mode
    * with no watermark, the cheapest possible streaming shape.
    *
    * Two row-local tricks avoid the streaming-unfriendly alternatives:
    *  - pair dedup (a pair agreeing on several bands arrives several
    *    times) uses the FIRST-AGREEING-BAND predicate over the two
    *    signatures riding in the joined row (the simhashPairs mechanism) —
    *    a streaming `distinct` would need unbounded state;
    *  - verification is the MinHash ESTIMATE (signature agreement ≥
    *    threshold, the [[graft.llm.Dedup.minhashEstimate]] scorer) — exact
    *    verification would re-join document content from inside the
    *    stream.
    */
  def incrementalDedupStream(delta: DataFrame, baseIndex: DataFrame): DataFrame = {
    import graft.llm.TextHash.{bandKey, minhashAgreement, shingles3, tokens}
    import graft.llm.Dedup.{Bands, JaccardThreshold, MinhashK, RowsPerBand}
    val r = RowsPerBand
    val bands = delta
      .select(col("doc_id").as("delta_id"),
        graft.functions.MinhashSig(shingles3(tokens(col("text"))), MinhashK)
          .as("d_sig"))
      .select(col("delta_id"), col("d_sig"),
        explode(transform(sequence(lit(0), lit(Bands - 1)),
          b => struct(b.as("band_idx"), bandKey(col("d_sig"), b, r).as("key"))))
          .as("bd"))
      .select(col("delta_id"), col("d_sig"),
        col("bd.band_idx").as("band_idx"), col("bd.key").as("key"))
    val bandEq = (b: Int) =>
      slice(col("d_sig"), b * r + 1, r) === slice(col("b_sig"), b * r + 1, r)
    val firstAgreeing = (0 until Bands)
      .foldRight(lit(-1): org.apache.spark.sql.Column) {
        case (b, rest) => when(bandEq(b), lit(b)).otherwise(rest)
      }
    bands.join(baseIndex, Seq("band_idx", "key"))
      .filter(col("band_idx") === firstAgreeing)
      .select(col("delta_id"), col("base_id"),
        minhashAgreement(col("d_sig"), col("b_sig"), MinhashK).as("est_jac"))
      .filter(col("est_jac") >= JaccardThreshold)
  }

  /** The temperature mix, the body of
    * [[graft.llm.Curation.sourceMixTemperature]]: the per-source rates
    * ([[graft.llm.Curation.mixTempRates]]; FROZEN from a corpus snapshot
    * on a stream) are a broadcast lookup, and the keep/drop is a
    * row-local md5-bucket predicate. On a stream it is stateless,
    * append-mode, no watermark — incoming documents are admitted at scan
    * speed against the frozen mixture. (Re-freezing the rates as the
    * corpus drifts is an orchestration choice, exactly like the persisted
    * band index in [[incrementalDedupStream]].)
    */
  def mixTempStream(docs: DataFrame, rates: DataFrame): DataFrame =
    docs.filter(col("source").rlike("src[0-9]+"))
      .join(broadcast(rates), Seq("source"))
      .filter(graft.llm.Curation.mixTempKeep)
      .select(col("doc_id"), col("source"), col("mix_weight"), col("keep_bp"))

  /** Streaming form of [[graft.llm.Similarity.semDedup]]: new vectors are
    * probed against the FROZEN cluster index
    * ([[graft.llm.Similarity.semDedupIndex]] — centroids + clustered base
    * corpus, the persisted artifacts). Emits (delta_id, base_id, cos) for
    * every in-cluster base near-twin at cosine ≥ SemDedupThreshold.
    *
    * Statelessness is load-bearing: a streaming groupBy (the batch form's
    * argmin aggregation) would be stateful, so nearest-cluster is computed
    * ROW-LOCALLY — the tiny centroid table (k rows) is collected once at
    * stream-definition time into an array-of-structs argmax expression,
    * exactly how PQ codebooks or IVF centroids ship to query nodes. The
    * base join is stream-static on cid (append-mode, no watermark); only
    * the probed cluster's members meet each delta row. Same economics as
    * [[incrementalDedupStream]]'s band index: O(delta · cluster) work,
    * re-freezing the index as the corpus drifts is an orchestration
    * choice.
    */
  def semDedupStream(delta: DataFrame, centroids: DataFrame,
      base: DataFrame): DataFrame = {
    import graft.llm.Similarity.{SemDedupThreshold, dot, norm}
    val cents = centroids.select(col("cid"), col("centroid"), col("cnorm"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1), r.getDouble(2)))
    val v = col("v")
    val nv = col("nv")
    // the argmax the batch form's max-of-struct aggregation picks, as a
    // row-local expression over the frozen candidates (ties to smallest
    // cid via the negated tiebreak, mirroring Similarity.assign)
    val best = array_max(array(cents.map { case (cid, cb, cn) =>
      struct(
        round(dot(v, typedLit(cb)) / (nv * lit(cn)), 9).as("ccos"),
        lit(-cid).as("ncid"))
    }: _*))
    val assigned = delta
      .select(col("vec_id").as("delta_id"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("nv", norm(v))
      .withColumn("probe_cid", -best.getField("ncid"))
    assigned
      .join(base.select(col("cid"), col("vec_id").as("base_id"),
        col("v").as("bv"), col("nv").as("bn")),
        col("probe_cid") === col("cid"))
      .select(col("delta_id"), col("base_id"),
        round(dot(col("v"), col("bv")) / (col("nv") * col("bn")), 9).as("cos"))
      .filter(col("cos") >= SemDedupThreshold)
  }

  /** Streaming form of [[graft.llm.TextAnalysis.bpeTokenizeCorpus]]:
    * incoming documents tokenize against an encoded vocabulary the caller
    * built once and holds ([[graft.llm.TextAnalysis.encodedVocab]], or
    * [[graft.llm.TextAnalysis.encodedVocabFrom]] over a held
    * [[graft.llm.TextAnalysis.bpeTrain]] table) via a stateless
    * stream-static join, emitting one (doc_id, term, n_syms) row per
    * token in append mode.
    *
    * Statelessness is load-bearing, and it shapes the contract: the
    * batch form's per-doc collapse is a streaming AGGREGATION (stateful,
    * watermark-bound on a non-time key), so the stream emits the
    * TOKEN-LEVEL rows — the actual input a training-data writer consumes
    * — and per-doc counts are a downstream batch fold (the spec pins
    * that fold equal to the batch operator). An out-of-vocabulary token
    * (possible on a stream — the held vocabulary only saturates the
    * BASE corpus) simply emits no row, the same drop-unknown contract as
    * the OOV operator's membership join.
    */
  def bpeTokenizeStream(delta: DataFrame, encVocab: DataFrame): DataFrame =
    delta
      .select(col("doc_id"),
        explode(graft.llm.TextHash.tokens(col("text"))).as("term"))
      .join(broadcast(encVocab.select(col("term"), col("n_syms"))),
        Seq("term"))
      .select(col("doc_id"), col("term"), col("n_syms"))

  /** The scoring join of [[graft.llm.TextAnalysis.bm25Probe]] (hence
    * [[graft.llm.TextAnalysis.bm25Indexed]]) — the serving path of the
    * retrieval tier: a stream of queries
    * (query_id, term) probes the FROZEN inverted index
    * ([[graft.llm.TextAnalysis.bm25Index]], the persisted posting table)
    * via ONE stateless stream-static equi-join on term, emitting each
    * per-(query, term, doc) score contribution in append mode.
    *
    * The index's denormalization is what makes this a single join: df and
    * the corpus scalars (N, Σdl) ride every posting row, so the score
    * ([[graft.llm.TextAnalysis.bm25TermScore]] — the same one definition
    * [[graft.llm.TextAnalysis.bm25TopDocs]] uses) is row-local after the
    * probe; nothing else is looked up from inside the stream. The
    * per-(query, doc) sum and the top-k rank are aggregations on non-time
    * keys — stateful in a stream — so they stay a downstream batch fold,
    * and the spec pins that fold equal to the batch
    * [[graft.llm.TextAnalysis.bm25Indexed]] rows. On a
    * deployment the static side is bucketed by term, so each micro-batch
    * probe prunes to its query terms' posting lists.
    */
  def bm25ProbeStream(queries: DataFrame, idx: DataFrame): DataFrame =
    queries
      .join(idx, Seq("term"))
      .select(col("query_id"), col("term"), col("doc_id"),
        graft.llm.TextAnalysis.bm25TermScore.as("s9"))

  /** Streaming form of [[graft.llm.Curation.textDrift]] — the live
    * corpus-drift monitor: each incoming document probes the FROZEN base
    * bucket probabilities ([[graft.llm.Curation.driftBaseProbs]], the
    * persisted fit artifact a deployment refreshes on the batch cadence)
    * entirely ROW-LOCALLY: the O(DsirBuckets) table rides along as one
    * map literal (the semDedup centroid-literal pattern — 1024 entries,
    * never a join), and the document's hashed features fold to its
    * typicality mass plus its count of buckets the base corpus never
    * produced. Pure append, zero state, zero joins — admission at scan
    * speed; a spike of low-typicality / high-unseen documents IS the
    * drift alarm. The corpus-LEVEL report (per-bucket distribution vs
    * base) needs the stream's own totals — a second aggregation level —
    * so it stays a downstream batch fold over these rows, the same split
    * as the bpe/bm25 probes; the spec pins the row values against the
    * batch quantization.
    */
  def textDriftStream(docs: DataFrame, baseProbs: DataFrame): DataFrame = {
    import graft.llm.Curation.{DsirBuckets, dsirFeatures}
    import graft.llm.TextHash.{md5Long, tokens}
    val pb = typedLit(baseProbs.select(col("bucket"), col("pb_x1e9"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    val buckets = transform(dsirFeatures(tokens(col("text"))),
      f => md5Long(concat(lit("dsir:"), f)) % DsirBuckets)
    docs
      .select(col("doc_id"), buckets.as("bks"))
      .select(col("doc_id"),
        size(col("bks")).cast("bigint").as("n_feats"),
        aggregate(col("bks"), lit(0L),
          (acc, b) => acc + coalesce(element_at(pb, b), lit(0L)))
          .as("typ_sum"),
        aggregate(col("bks"), lit(0L),
          (acc, b) => acc + when(element_at(pb, b).isNull, lit(1L))
            .otherwise(lit(0L))).as("n_unseen"))
      .selectExpr("doc_id", "n_feats", "typ_sum",
        "typ_sum div n_feats AS typicality_x1e9", "n_unseen")
  }

  /** Streaming form of [[graft.llm.Curation.lmScore]] — the live
    * quality-admission probe: each incoming (doc_id, lang, text) probes
    * the FROZEN per-language bigram model ([[graft.llm.Curation.lmModel]]
    * — the persisted fit artifacts a deployment refreshes on the batch
    * cadence) via stateless stream-static broadcast joins on the digest
    * keys, emitting one exact bits_q8 row per bigram in append mode —
    * the same smoothing/grid/floor-log2 arithmetic as the batch scorer
    * ([[graft.llm.Curation.lmBitsFrom]], one shared definition).
    *
    * The per-DOCUMENT cross-entropy is a sum on a non-time key —
    * stateful in a stream — so it stays a downstream batch fold, the
    * bpe/bm25-probe split; the spec pins the fold equal to the batch
    * [[graft.llm.Curation.lmScore]] rows. Documents of a language the
    * model never fitted emit no row (the membership-join drop-unknown
    * contract, CCNet's "no LM for this language").
    */
  def lmScoreStream(docs: DataFrame, c12: DataFrame, c1: DataFrame,
      vx: DataFrame): DataFrame =
    graft.llm.Curation.lmBitsFrom(
      graft.llm.Curation.lmBigrams(docs.select(col("doc_id"), col("lang"),
          graft.llm.TextHash.tokens(col("text")).as("toks")))
        .join(broadcast(vx), Seq("lang"))
        .join(broadcast(c12), Seq("bgh"), "left_outer")
        .join(broadcast(c1), Seq("lkh"), "left_outer"))

  /** Streaming form of [[graft.llm.Curation.ngramNovelty]] — the live
    * freshness probe a crawl-admission pipeline runs before a batch is
    * committed: each incoming (doc_id, lang, text) explodes to its
    * distinct word 3-gram shingles and probes the FROZEN trusted
    * reference set ([[graft.llm.Curation.noveltyRef]], the persisted
    * artifact a deployment refreshes on the batch cadence) via ONE
    * stateless stream-static broadcast left join, emitting one
    * (doc_id, lang, known) row per shingle in append mode — the shingle
    * definition and the membership marker are the batch scorer's own
    * (one definition site each), so the downstream per-document ratio
    * fold is pinned equal to [[graft.llm.Curation.ngramNovelty]] in the
    * spec. The per-document ratio itself is a sum on a non-time key —
    * stateful in a stream — so it stays a downstream batch fold, the
    * bpe/bm25/lm-probe split.
    */
  def noveltyStream(docs: DataFrame, ref: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("lang"),
        explode(graft.llm.TextHash.shingles3(
          graft.llm.TextHash.tokens(col("text")))).as("gram"))
      .filter(col("gram") =!= "")
      .join(broadcast(ref), Seq("gram"), "left_outer")
      .select(col("doc_id"), col("lang"),
        coalesce(col("known"), lit(0L)).as("known"))

  /** Streaming form of [[graft.ops.AnalyticsOps.anomalyMad]] — the live
    * anomaly monitor: incoming events probe the FROZEN per-type
    * (median, MAD) statistics table ([[graft.ops.AnalyticsOps.madStats]],
    * the trained artifact a deployment refreshes on the batch cadence)
    * via one stateless broadcast stream-static join; the
    * `|x − med| > MadK·mad` verdict is row-local integer arithmetic, so
    * the stream is pure append with zero state. Recomputing the medians
    * IN the stream would be a stateful aggregation on a non-time key
    * (and would let today's anomalies drag today's threshold) — the
    * freeze-and-probe split is the deliberate semantics, same as the
    * semDedup and bm25 probes. Events of a type absent from the stats
    * table emit no row (the membership-join drop-unknown contract).
    */
  def anomalyStream(events: DataFrame, stats: DataFrame): DataFrame =
    events
      .select(col("event_id"), col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
      .join(broadcast(stats), Seq("event_type"))
      .select(col("event_id"), col("event_type"), col("cents"),
        col("med_cents"), col("mad_cents"),
        (abs(col("cents") - col("med_cents")) >
          lit(graft.ops.AnalyticsOps.MadK) * col("mad_cents"))
          .as("is_anomaly"))

  /** Streaming form of [[graft.ops.ProfileOps.dqDrift]]'s counting side —
    * the live distribution monitor: incoming events bucket against the
    * FROZEN bin bounds ([[graft.ops.ProfileOps.driftBounds]], broadcast —
    * new data MUST bucket with the baseline's bin edges or the comparison
    * is meaningless) and aggregate to per-(event-time window, type, bin)
    * counts with watermark-bounded state: O(open windows · types · bins)
    * counters, evicted on close. The drift VERDICT (each window's shares
    * vs the persisted baseline histogram, via the shared
    * [[graft.ops.ProfileOps.driftVerdict]] rule) stays a downstream
    * batch fold — it needs the window's per-type total, a second
    * aggregation level one streaming query cannot stack; the spec pins
    * the fold against a plain replay.
    */
  def driftStream(events: DataFrame, bounds: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .crossJoin(broadcast(bounds))
      .groupBy(window(col("ts"), "1 hour"), col("event_type"),
        graft.ops.ProfileOps.driftBin(
          round(col("value") * 100).cast("long"), col("mc")).as("bin"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("bin"), col("n"))

  /** Attribution window of the view→click interval join: the stream twin
    * and `q_j9_interval` ([[graft.ops.IntervalOps.viewClickAttribution]]).
    */
  val IntervalJoinWindowSeconds = 600L

  /** The view→click interval join, the body of `q_j9_interval`
    * ([[graft.ops.IntervalOps.viewClickAttribution]]) — the
    * STREAM-STREAM event-time range join, the one Structured Streaming
    * join mode the stream-static twins don't exercise: two live streams
    * (views, clicks; schema (event_id, user_id, ts)) join per user on
    * [[graft.ops.IntervalOps.pairs]]' `v_ts < c_ts <= v_ts + window`,
    * each side watermarked so the engine can bound the join state — a
    * view is held only until the watermark passes the end of its
    * attribution window, a click until its own event time ages out;
    * without BOTH watermarks and the two-sided time constraint the state
    * would grow forever, which is why the range condition is part of the
    * JOIN predicate rather than a post-filter. Emits
    * (view_id, click_id, user_id, delay_s) in append mode.
    */
  def intervalJoinStream(views: DataFrame, clicks: DataFrame): DataFrame = {
    import graft.ops.IntervalOps.{clickSide, delaySeconds, pairs, viewSide}
    pairs(viewSide(views).withWatermark("v_ts", "1 hour"),
        clickSide(clicks).withWatermark("c_ts", "1 hour"),
        IntervalJoinWindowSeconds * 1000000L)
      .select(col("view_id"), col("click_id"), col("user_id"), delaySeconds)
  }

  /** Incremental sync via foreachBatch (SURVEY.md §2.9: the batch
    * diff-and-merge upgraded to a stream): every micro-batch is merged into
    * the Parquet target — new keys appended, existing keys rewritten with
    * the latest value, all other rows carried over. Idempotent per batch,
    * so replays converge to the same target state.
    *
    * (On a real deployment the target would be a transactional table
    * format; the read-merge-overwrite here keeps the same observable
    * semantics on plain Parquet.)
    */
  def incrementalSync(batch: DataFrame, targetDir: String, key: String): Unit = {
    val s = batch.sparkSession
    val dst = new org.apache.hadoop.fs.Path(targetDir)
    // the TARGET's filesystem, not the default one (they differ on any
    // mixed hdfs/s3a/file deployment)
    val fs = dst.getFileSystem(s.sparkContext.hadoopConfiguration)
    // siblings derived from the NORMALIZED path (Path strips trailing
    // slashes) — string concat on "dir/" would nest them inside the target
    // and the swap rename would try to move the dir into its own child
    val staged = dst.suffix("__staged")
    val retired = dst.suffix("__retired")
    def renameOrFail(from: org.apache.hadoop.fs.Path, to: org.apache.hadoop.fs.Path): Unit =
      // HDFS rename signals failure by returning false, not by throwing
      if (!fs.rename(from, to))
        throw new java.io.IOException(s"incrementalSync: rename $from -> $to failed")
    // crash recovery: a previous run interrupted between the two swap
    // renames leaves no dst but a retired copy — promote it back before
    // deciding whether this is a first write
    if (!fs.exists(dst) && fs.exists(retired)) renameOrFail(retired, dst)
    // only a genuinely absent target means "first batch" — a read failure
    // on an existing target must abort the sync, not silently drop history.
    // One row per key within the batch (arbitrary winner among in-batch
    // duplicates — pre-aggregate upstream if "latest" needs an ordering).
    val deduped = batch.dropDuplicates(key)
    val merged =
      if (fs.exists(dst))
        s.read.parquet(dst.toString)
          .join(deduped.select(key), Seq(key), "left_anti")
          .unionByName(deduped)
      else deduped
    merged.write.mode("overwrite").parquet(staged.toString)
    // swap: retire old, promote staged, drop retired — every crash point
    // leaves at least one full copy (dst, retired, or staged) on disk, and
    // the recovery step above heals the dst-missing window
    fs.delete(retired, true)
    if (fs.exists(dst)) renameOrFail(dst, retired)
    renameOrFail(staged, dst)
    fs.delete(retired, true)
  }

  /** Partitioned incremental sync — the FACT-TABLE form of
    * [[incrementalSync]]: each micro-batch carries the refreshed rows for
    * whatever days it touches, and dynamic partition overwrite
    * ([[graft.sources.PartitionedStore.overwritePartitions]]) swaps exactly
    * those `dt=` directories. Cost is per changed day, never per table —
    * the whole-directory swap above stays for dimension-sized targets.
    * Use from `writeStream.foreachBatch((b, _) =>
    * incrementalSyncPartitioned(b, dir))`.
    */
  def incrementalSyncPartitioned(batch: DataFrame, targetDir: String): Unit =
    graft.sources.PartitionedStore.overwritePartitions(
      graft.sources.PartitionedStore.eventsWithDay(batch), targetDir, Seq("dt"))

  case class Reading(user_id: Long, ts: Timestamp, event_id: Long,
      reading_cents: Option[Long])
  case class Filled(user_id: Long, event_id: Long, ts: Timestamp,
      reading_cents: Option[Long], filled_cents: Option[Long])
  case class CarryState(carry: Option[Long])

  /** Streaming forward fill — [[graft.ops.AsofOps.gapFill]]'s stateful
    * twin: one `GroupState` per user carrying the LAST non-null reading,
    * so the state store holds O(active users) × one long regardless of
    * stream length (the batch form's running window needs the whole
    * partition; a stream cannot). Each micro-batch's rows sort by
    * (ts, event_id) inside the group function; agrees with the batch fill
    * for in-order streams (the [[sessionizeStream]] caveat — a cross-batch
    * straggler older than the carried reading fills from the newer carry,
    * since exact late-data parity would require buffering).
    */
  def gapFillStream(s: SparkSession, events: DataFrame): DataFrame = {
    import s.implicits._
    events
      .select(col("user_id").cast("long"), col("ts"), col("event_id").cast("long"),
        col("reading_cents").cast("long"))
      .as[Reading]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[CarryState, Filled](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[Reading], state: GroupState[CarryState]) =>
          var st = state.getOption.getOrElse(CarryState(None))
          val hadState = state.exists
          // (epoch seconds, nanos) is the full-precision timestamp order —
          // getTime alone is milliseconds and would collapse sub-ms ties
          // the batch twin's ORDER BY ts distinguishes
          val out = rows.toSeq
            .sortBy(r => (r.ts.getTime / 1000, r.ts.getNanos, r.event_id))
            .map { r =>
              if (r.reading_cents.isDefined) st = CarryState(r.reading_cents)
              Filled(uid, r.event_id, r.ts, r.reading_cents,
                r.reading_cents.orElse(st.carry))
            }
          // never materialize a dead CarryState(None) entry for a user who
          // has nothing to carry (NoTimeout state lives forever)
          if (hadState || st.carry.isDefined) state.update(st)
          out.iterator
      }.toDF()
  }

  case class Change(user_id: Long, event_type: String, ts: Timestamp,
      event_id: Long)
  case class OpenVersion(version_id: Long, event_type: String,
      from: Timestamp)
  case class ClosedVersion(user_id: Long, version_id: Long,
      event_type: String, valid_from: Timestamp, valid_to: Timestamp)

  /** Streaming SCD2 — [[graft.ops.ChangeOps.scd2History]]'s stateful twin:
    * the OPEN version is the one long-lived fact per user, carried as
    * `GroupState`; a change CLOSES it (emit with `valid_to` = the new
    * version's start) and opens the successor. Append mode can only emit
    * finalized rows, so the stream yields exactly the batch build's
    * closed versions — the open (`is_current`) row lives in state until
    * its closing change arrives; a consumer reads current versions from
    * the state-backed snapshot, not the append log. State is O(users) ×
    * one small struct. Cross-batch stragglers older than the open
    * version are DROPPED (emitting them would close the open version
    * with an inverted interval and permanently corrupt the history —
    * worse than the omission; exact late-data parity would require
    * buffering to a watermark).
    */
  def scd2Stream(s: SparkSession, events: DataFrame): DataFrame = {
    import s.implicits._
    events
      .select(col("user_id").cast("long"), col("event_type"), col("ts"),
        col("event_id").cast("long"))
      .as[Change]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenVersion, ClosedVersion](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[Change], state: GroupState[OpenVersion]) =>
          var open = state.getOption
          val out = scala.collection.mutable.ArrayBuffer.empty[ClosedVersion]
          rows.toSeq
            .sortBy(r => (r.ts.getTime / 1000, r.ts.getNanos, r.event_id))
            .foreach { r =>
              open match {
                // a straggler older than the open version would emit an
                // inverted interval — drop it (see Scaladoc)
                case Some(o) if r.ts.compareTo(o.from) < 0 => ()
                case Some(o) if o.event_type != r.event_type =>
                  out += ClosedVersion(uid, o.version_id, o.event_type,
                    o.from, r.ts)
                  open = Some(OpenVersion(r.event_id, r.event_type, r.ts))
                case Some(_) => // same attribute: the open version absorbs it
                case None =>
                  open = Some(OpenVersion(r.event_id, r.event_type, r.ts))
              }
            }
          open.foreach(state.update)
          out.iterator
      }.toDF()
  }

  case class FunnelEvent(user_id: Long, event_type: String, ts: Timestamp,
      event_id: Long)
  case class FunnelState(t1: Option[Long], t2: Option[Long], t3: Option[Long])
  case class FunnelRow(user_id: Long, t1_us: Option[Long],
      t2_us: Option[Long], t3_us: Option[Long], stage: Int)

  /** Streaming funnel — [[graft.ops.AnalyticsOps.funnelStages]]'s stateful
    * twin: one `GroupState` per user carrying the three stage timestamps
    * (micros). The batch build's chained minima (first signup, first view
    * after it, first purchase after that) are exactly the greedy
    * first-match in time order, so processing each micro-batch sorted by
    * (ts, event_id) reproduces the batch row for in-order streams; a row
    * is emitted whenever the user ADVANCES a stage (append mode — the
    * latest row per user is the funnel position). Users who never enter
    * the funnel emit nothing (the batch form lists them at stage 0).
    * Stage timestamps are monotone — a straggler signup earlier than the
    * recorded t1 is dropped (rewriting t1 would invalidate the downstream
    * stages already emitted; the scd2Stream trade, documented there).
    * State is O(users) × three longs.
    */
  def funnelStream(s: SparkSession, events: DataFrame): DataFrame = {
    import s.implicits._
    events
      .select(col("user_id").cast("long"), col("event_type"), col("ts"),
        col("event_id").cast("long"))
      .as[FunnelEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[FunnelEvent], state: GroupState[FunnelState]) =>
          var st = state.getOption.getOrElse(FunnelState(None, None, None))
          val out = scala.collection.mutable.ArrayBuffer.empty[FunnelRow]
          rows.toSeq
            .sortBy(r => (r.ts.getTime / 1000, r.ts.getNanos, r.event_id))
            .foreach { r =>
              val us = r.ts.getTime / 1000 * 1000000L + r.ts.getNanos / 1000
              val next = r.event_type match {
                case "signup" if st.t1.isEmpty =>
                  Some(st.copy(t1 = Some(us)))
                case "view" if st.t2.isEmpty &&
                    st.t1.exists(us > _) =>
                  Some(st.copy(t2 = Some(us)))
                case "purchase" if st.t3.isEmpty &&
                    st.t2.exists(us > _) =>
                  Some(st.copy(t3 = Some(us)))
                case _ => None
              }
              next.foreach { n =>
                st = n
                val stage = Seq(n.t1, n.t2, n.t3).takeWhile(_.isDefined).length
                out += FunnelRow(uid, n.t1, n.t2, n.t3, stage)
              }
            }
          // only materialize state once the user has entered the funnel
          // (NoTimeout state lives forever — never store an empty carry)
          if (st.t1.isDefined) state.update(st)
          out.iterator
      }.toDF()
  }

  case class Event(user_id: Long, ts: Timestamp)
  case class SessionState(start: Long, last: Long, n: Long)
  case class Session(user_id: Long, session_start: Timestamp,
      session_end: Timestamp, n_events: Long)

  /** Stateful sessionization: one state per user, emitting a session when
    * the gap timeout fires. State size is O(active users), independent of
    * stream length — the 100 TB-safe formulation.
    *
    * PRECONDITION: the input stream must carry a watermark on `ts`
    * (`df.withWatermark("ts", ...)`) — event-time timeouts require one and
    * the query fails at start without it.
    *
    * Agrees with sessionizeBatch for in-order streams (each micro-batch is
    * sorted internally). Cross-batch late events that predate the open
    * session by more than the gap are gap-split among themselves and
    * emitted as their own sessions; ones inside the gap window extend the
    * session backward. (The batch form, seeing all data at once, could
    * additionally merge late events with events from even earlier batches —
    * exact late-data parity would require buffering to the watermark.)
    */
  def sessionizeStream(s: SparkSession, events: DataFrame): DataFrame = {
    import s.implicits._
    events.select(col("user_id").cast("long"), col("ts"))
      .as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          val gapMs = SessionGapMinutes * 60 * 1000L
          var st = state.getOption.getOrElse(SessionState(Long.MaxValue, 0L, 0L))
          val out = scala.collection.mutable.ArrayBuffer.empty[Session]
          val sorted = rows.toSeq.sortBy(_.ts.getTime)
          // events older than the open session by more than the gap can
          // never join it — gap-split them among THEMSELVES and emit
          val (late, current) =
            if (st.n > 0) sorted.partition(_.ts.getTime < st.start - gapMs)
            else (Nil, sorted)
          var lateSt: Option[SessionState] = None
          late.foreach { e =>
            val tms = e.ts.getTime
            lateSt match {
              case Some(ls) if tms - ls.last > gapMs =>
                out += Session(uid, new Timestamp(ls.start), new Timestamp(ls.last), ls.n)
                lateSt = Some(SessionState(tms, tms, 1L))
              case Some(ls) =>
                lateSt = Some(SessionState(ls.start, tms, ls.n + 1))
              case None =>
                lateSt = Some(SessionState(tms, tms, 1L))
            }
          }
          lateSt.foreach(ls =>
            out += Session(uid, new Timestamp(ls.start), new Timestamp(ls.last), ls.n))
          current.foreach { e =>
            val tms = e.ts.getTime
            if (st.n > 0 && tms - st.last > gapMs) {
              out += Session(uid, new Timestamp(st.start), new Timestamp(st.last), st.n)
              st = SessionState(tms, tms, 1L)
            } else {
              st = SessionState(math.min(st.start, tms), math.max(st.last, tms), st.n + 1)
            }
          }
          if (state.hasTimedOut) {
            if (st.n > 0)
              out += Session(uid, new Timestamp(st.start), new Timestamp(st.last), st.n)
            state.remove()
          } else {
            state.update(st)
            state.setTimeoutTimestamp(st.last + gapMs)
          }
          out.iterator
      }.toDF()
  }
}
