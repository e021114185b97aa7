package graft

import org.apache.spark.sql.{DataFrame, Encoder, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

import graft.streaming.StreamOps

/** Streaming throughput tier of the bench: every streaming twin is
  * correctness-pinned (StreamOpsSpec replays each against its batch
  * form) but was previously never MEASURED — this harness drives each
  * twin with the real harness tables replayed in event-time order
  * through a MemoryStream in [[Chunks]] micro-batches, and records per
  * twin:
  *
  *  - rows/sec (input rows over wall time for the whole replay),
  *  - batch latency (median + max `triggerExecution` over the
  *    non-empty micro-batches, from the engine's own progress events),
  *  - state size (max `numRowsTotal` / `memoryUsedBytes` across the
  *    run's state operators — 0 for the stateless probes),
  *  - a BOUNDED-STATE verdict: max state rows checked against the
  *    twin's documented bound — zero for stateless probes, O(users)
  *    for the flatMapGroupsWithState twins, and STRICTLY BELOW the
  *    total group/pair count for the watermarked twins (state smaller
  *    than the full group universe is the watermark actually evicting;
  *    an unbounded-state regression reads as bound_ok=false in the
  *    bench JSON rather than as a silent slowdown).
  *
  * The replay is in ts order (the honest stream shape — late data is
  * the spec's job, throughput is this file's), split into [[Chunks]]
  * batches so watermarks advance and eviction actually happens
  * mid-run. Failures land under "failed" per twin; one broken twin
  * must not hide the other measurements.
  */
object BenchStreaming {

  val Chunks = 10

  final case class TwinResult(rows: Long, sec: Double, batches: Int,
      trigP50Ms: Double, trigMaxMs: Double, stateRowsMax: Long,
      stateBytesMax: Long, bound: Long, boundDesc: String) {
    def rowsPerSec: Double = if (sec > 0) rows / sec else 0.0
    def boundOk: Boolean =
      if (bound == 0L) stateRowsMax == 0L else stateRowsMax <= bound
  }

  /** Drive one twin: feed `chunks` through a MemoryStream (schema =
    * `cols`), one processAllAvailable per chunk, noop sink, then read
    * the engine's progress records.
    */
  private def measure[A](chunks: Seq[Seq[A]], cols: Seq[String],
      twin: DataFrame => DataFrame, bound: Long, boundDesc: String)(
      implicit enc: Encoder[A], sq: SQLContext): TwinResult = {
    val mem = MemoryStream[A]
    runQuery(twin(mem.toDF.toDF(cols: _*)),
      chunks.map(c => () => { mem.addData(c); () }),
      chunks.map(_.size.toLong).sum, bound, boundDesc)
  }

  /** Two-input (stream-stream) variant: both sides advance in lockstep
    * so each side's watermark moves every micro-batch.
    */
  private def measure2[A, B](aChunks: Seq[Seq[A]], aCols: Seq[String],
      bChunks: Seq[Seq[B]], bCols: Seq[String],
      twin: (DataFrame, DataFrame) => DataFrame, bound: Long,
      boundDesc: String)(implicit ea: Encoder[A], eb: Encoder[B],
      sq: SQLContext): TwinResult = {
    val am = MemoryStream[A]
    val bm = MemoryStream[B]
    val feeds = aChunks.zipAll(bChunks, Seq.empty[A], Seq.empty[B]).map {
      case (ac, bc) => () => {
        if (ac.nonEmpty) am.addData(ac)
        if (bc.nonEmpty) bm.addData(bc)
        ()
      }
    }
    runQuery(twin(am.toDF.toDF(aCols: _*), bm.toDF.toDF(bCols: _*)), feeds,
      aChunks.map(_.size.toLong).sum + bChunks.map(_.size.toLong).sum,
      bound, boundDesc)
  }

  private def runQuery(out: DataFrame, feeds: Seq[() => Unit], rows: Long,
      bound: Long, boundDesc: String): TwinResult = {
    val ckpt = java.nio.file.Files.createTempDirectory("graft_stream_ck")
    val q = out.writeStream.format("noop")
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append")
      .start()
    try {
      val t0 = System.nanoTime()
      feeds.foreach { f => f(); q.processAllAvailable() }
      val sec = (System.nanoTime() - t0) / 1e9
      val prog = q.recentProgress
      val trig = prog.filter(_.numInputRows > 0)
        .flatMap(p => Option(p.durationMs.get("triggerExecution")))
        .map(_.toDouble.max(0.0)).sorted
      val stateRows = prog.map(_.stateOperators.map(_.numRowsTotal).sum)
      val stateBytes = prog.map(_.stateOperators.map(_.memoryUsedBytes).sum)
      TwinResult(rows, sec, trig.length,
        if (trig.isEmpty) 0.0 else trig(trig.length / 2),
        if (trig.isEmpty) 0.0 else trig.last,
        stateRows.maxOption.getOrElse(0L),
        stateBytes.maxOption.getOrElse(0L), bound, boundDesc)
    } finally {
      q.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(ckpt.toFile)
    }
  }

  private def chunked[A](xs: Seq[A]): Seq[Seq[A]] = {
    val n = math.max(1, math.ceil(xs.size.toDouble / Chunks).toInt)
    xs.grouped(n).toSeq
  }

  /** Run every twin at `sfDir` (or the `SPARK_GRAFT_STREAM_ONLY` csv
    * subset — the per-twin iteration loop, and the big-tier escape hatch:
    * a 10 M-event replay of all 23 twins is hours, of the five relational
    * twins minutes); returns (name → result | failure). Inputs and frozen
    * artifacts are built lazily so a subset run pays only for what its
    * twins replay.
    */
  def run(s: SparkSession, sfDir: String): Seq[(String, Either[String, TwinResult])] = {
    import s.implicits._
    implicit val sq: SQLContext = s.sqlContext
    val only = sys.env.get("SPARK_GRAFT_STREAM_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    def selected(name: String): Boolean = only.isEmpty || only(name)

    // ---- the replayed inputs (event-time order — the stream shape) ----
    val events = Tables.table(s, sfDir, "events")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"))
      .orderBy("ts", "event_id")
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2),
        r.getString(3), r.getDouble(4)))
      .toSeq
    val evCols = Seq("event_id", "ts", "user_id", "event_type", "value")
    val evChunks = chunked(events)
    lazy val docs = Tables.table(s, sfDir, "documents")
      .select(col("doc_id"), col("text"), col("source"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    lazy val docsLang = Tables.table(s, sfDir, "documents")
      .select(col("doc_id"), col("lang"), col("text"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    lazy val vecs = Tables.table(s, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq

    // scalar bounds: distinct hour windows / users of the replayed data
    val hours = events.map(e => e._2.getTime / 3600000L).distinct.size.toLong
    val users = events.map(_._3).distinct.size.toLong
    // dedup digest: event_type + coarse value bucket + DAY — redeliveries
    // recur within a day, but the digest population turns over daily, so
    // state strictly below the total distinct count is the watermark
    // genuinely evicting (a day-free digest set would be small AND
    // always-live, making any bound ≤ nDigests tautological under
    // dropDuplicatesWithinWatermark's one-row-per-key store)
    val digests = events.map(e => (e._2,
      s"${e._4}:${(e._5 * 100).toLong / 500}:${e._2.getTime / 86400000L}"))
    val nDigests = digests.map(_._2).distinct.size.toLong

    // views/clicks split for the interval-join twin
    val views = events.filter(_._4 == "view").map(e => (e._1, e._3, e._2))
    val clicks = events.filter(_._4 == "click").map(e => (e._1, e._3, e._2))

    // ---- frozen serving artifacts (built in batch, as deployed) ----
    def artifacts = Seq(
      "anomaly" -> (() => graft.ops.AnalyticsOps.madStats(s, sfDir).cache()),
      "drift" -> (() => graft.ops.ProfileOps.driftBounds(s, sfDir).cache()),
      "mixtemp" -> (() => graft.llm.Curation.mixTempRates(s, sfDir).cache()),
      "bm25" -> (() => graft.llm.TextAnalysis.bm25Index(s, sfDir).cache()),
      "bpe" -> (() => graft.llm.TextAnalysis.encodedVocab(s, sfDir).cache()),
      "minhash" -> (() => graft.llm.Dedup.minhashIndex(
        Tables.table(s, sfDir, "documents").select(col("doc_id"), col("text"))).cache()),
      "driftprobs" -> (() => graft.llm.Curation.driftBaseProbs(s, sfDir).cache()),
      "lmc12" -> (() => graft.llm.Curation.lmModel(s, sfDir)._1.cache()),
      "lmc1" -> (() => graft.llm.Curation.lmModel(s, sfDir)._2.cache()),
      "lmvx" -> (() => graft.llm.Curation.lmModel(s, sfDir)._3.cache()),
      "noveltyref" -> (() => graft.llm.Curation.noveltyRef(s, sfDir).cache()))
    // only the artifacts whose twins are selected get built (and
    // materialized OUTSIDE the timed replays)
    val artTwin = Map("anomaly" -> "anomaly_probe", "drift" -> "drift_counts",
      "mixtemp" -> "mix_temperature", "bm25" -> "bm25_probe",
      "bpe" -> "bpe_tokenize", "minhash" -> "incremental_dedup",
      "driftprobs" -> "text_drift_probe",
      "lmc12" -> "lm_probe", "lmc1" -> "lm_probe", "lmvx" -> "lm_probe",
      "noveltyref" -> "novelty_probe")
    val art = artifacts.filter { case (k, _) => selected(artTwin(k)) }
      .map { case (k, f) => k -> f() }.toMap
    val needSem = selected("semdedup_probe")
    val (semCents, semBase) =
      if (!needSem) (null: DataFrame, null: DataFrame)
      else {
        val (c0, b0) = graft.llm.Similarity.semDedupIndex(s, sfDir)
        (c0.cache(), b0.cache())
      }
    val pinned = art.values ++ (if (needSem) Seq(semCents, semBase) else Nil)
    pinned.foreach(_.count())

    // staged work items with the declared corruption moduli (the error
    // channel's real input shape), capped to keep the driver feed small
    val ordersSchema = Tables.table(s, sfDir, "orders").schema
    lazy val staged = Tables.table(s, sfDir, "orders")
      .orderBy("o_orderkey").limit(50000)
      .select(col("o_orderkey").as("k"), to_json(struct(col("*"))).as("c"))
      .select(
        when(col("k") % SyncPipeline.CorruptGuidMod === 0, lit(null))
          .otherwise(col("k")).as("guid"),
        when(col("k") % SyncPipeline.CorruptTruncMod === 0,
          expr("substring(c, 1, length(c) div 2)")).otherwise(col("c")).as("content"))
      .collect().map(r =>
        (if (r.isNullAt(0)) null else java.lang.Long.valueOf(r.getLong(0)),
          r.getString(1))).toSeq

    // standing bm25 query workload replicated into a stream-sized feed
    lazy val bm25Rows = (0 until 500).flatMap(i =>
      graft.llm.TextAnalysis.Bm25Queries.flatMap { case (q, ts) =>
        ts.map(t => (q + i * 100, t)) })

    val twins: Seq[(String, () => TwinResult)] = Seq(
      "tumbling_counts" -> (() => measure(evChunks, evCols,
        StreamOps.tumblingCountsStream, hours * 5 - 1,
        "watermark evicts: open (window,type) groups < total groups")),
      "distinct_kmv" -> (() => measure(evChunks, evCols,
        StreamOps.distinctPerWindowStream, hours - 1,
        "watermark evicts: open windows < total windows")),
      "distinct_hll" -> (() => measure(evChunks, evCols,
        StreamOps.hllPerWindowStream, hours - 1,
        "watermark evicts: open windows < total windows")),
      "hist_quantiles" -> (() => measure(evChunks, evCols,
        StreamOps.histQuantilesStream, hours - 1,
        "watermark evicts: open windows < total windows")),
      "cms_freq" -> (() => measure(evChunks, evCols,
        StreamOps.cmsPerWindowStream, hours - 1,
        "watermark evicts: open windows < total windows")),
      "ohlc_bars" -> (() => measure(evChunks, evCols,
        StreamOps.ohlcStream, hours * 5 - 1,
        "watermark evicts: open bars < total bars")),
      "dq_monitor" -> (() => measure(evChunks, evCols,
        StreamOps.dqStream, hours - 1,
        "watermark evicts: open windows < total windows")),
      "drift_counts" -> (() => measure(evChunks, evCols,
        df => StreamOps.driftStream(df, art("drift")),
        hours * 5 * graft.ops.ProfileOps.DriftBins - 1,
        "watermark evicts: open (window,type,bin) < total")),
      "dedup_digest" -> (() => measure(chunked(digests), Seq("ts", "digest"),
        StreamOps.dedupStream, nDigests - 1,
        "watermark evicts: held digests < total distinct digests")),
      "sessionize" -> (() => measure(evChunks, evCols,
        df => StreamOps.sessionizeStream(s, df.withWatermark("ts", "2 hours")),
        users, "one state row per active user")),
      "gap_fill" -> (() => measure(
        chunked(events.map(e =>
          (e._3, e._2, e._1,
            if (e._1 % 5 == 0) null
            else java.lang.Long.valueOf((e._5 * 100).toLong)))),
        Seq("user_id", "ts", "event_id", "reading_cents"),
        df => StreamOps.gapFillStream(s, df),
        users, "one carry per user")),
      "scd2" -> (() => measure(evChunks, evCols,
        df => StreamOps.scd2Stream(s, df),
        users, "one open version per user")),
      "funnel" -> (() => measure(evChunks, evCols,
        df => StreamOps.funnelStream(s, df),
        users, "one stage struct per funnel-entered user")),
      "anomaly_probe" -> (() => measure(evChunks, evCols,
        df => StreamOps.anomalyStream(df, art("anomaly")),
        0L, "stateless stream-static probe")),
      "langid" -> (() => measure(chunked(docs.map(d => (d._1, d._2))),
        Seq("doc_id", "text"), StreamOps.langidStream,
        0L, "stateless row-local classify")),
      "import_errors" -> (() => measure(chunked(staged), Seq("guid", "content"),
        df => StreamOps.importErrorStream(df, ordersSchema),
        0L, "stateless classify-in-flight")),
      "mix_temperature" -> (() => measure(chunked(docs.map(d => (d._1, d._3))),
        Seq("doc_id", "source"),
        df => StreamOps.mixTempStream(df, art("mixtemp")),
        0L, "stateless frozen-rate admit")),
      "semdedup_probe" -> (() => measure(chunked(vecs),
        Seq("vec_id", "embedding"),
        df => StreamOps.semDedupStream(df, semCents, semBase),
        0L, "stateless frozen-cluster probe")),
      "bpe_tokenize" -> (() => measure(chunked(docs.map(d => (d._1, d._2))),
        Seq("doc_id", "text"),
        df => StreamOps.bpeTokenizeStream(df, art("bpe")),
        0L, "stateless frozen-vocab join")),
      "bm25_probe" -> (() => measure(chunked(bm25Rows),
        Seq("query_id", "term"),
        df => StreamOps.bm25ProbeStream(df, art("bm25")),
        0L, "stateless frozen-index probe")),
      "incremental_dedup" -> (() => measure(chunked(docs.map(d => (d._1, d._2))),
        Seq("doc_id", "text"),
        df => StreamOps.incrementalDedupStream(df, art("minhash")),
        0L, "stateless frozen-band-index probe")),
      "text_drift_probe" -> (() => measure(chunked(docs.map(d => (d._1, d._2))),
        Seq("doc_id", "text"),
        df => StreamOps.textDriftStream(df, art("driftprobs")),
        0L, "stateless frozen-distribution probe (map literal, no join)")),
      "lm_probe" -> (() => measure(chunked(docsLang),
        Seq("doc_id", "lang", "text"),
        df => StreamOps.lmScoreStream(df, art("lmc12"), art("lmc1"),
          art("lmvx")),
        0L, "stateless frozen-LM probe (three broadcast joins)")),
      "novelty_probe" -> (() => measure(chunked(docsLang),
        Seq("doc_id", "lang", "text"),
        df => StreamOps.noveltyStream(df, art("noveltyref")),
        0L, "stateless frozen-reference membership probe")),
      "interval_join" -> (() => measure2(
        chunked(views), Seq("event_id", "user_id", "ts"),
        chunked(clicks), Seq("event_id", "user_id", "ts"),
        StreamOps.intervalJoinStream,
        views.size + clicks.size - 1,
        "watermark evicts: buffered rows < total input")))

    val results = twins.filter { case (name, _) => selected(name) }
      .map { case (name, f) =>
      val r = try Right(f()) catch {
        case e: Throwable =>
          System.err.println(s"[bench-streaming] $name failed: ${e.getMessage}")
          Left(Option(e.getMessage).getOrElse(e.getClass.getName).take(200))
      }
      // NO session-wide clearCache between twins: the frozen artifacts
      // above are .cache()'d precisely so artifact-backed probes measure
      // streaming throughput, not per-micro-batch artifact recompute — a
      // clearCache here would silently unpersist them after the first
      // twin and every later stream-static twin would re-run its build
      // inside the timed window. Twins themselves pin no caches; their
      // state dies with q.stop().
      name -> r
    }
    pinned.foreach(_.unpersist())
    results
  }

  /** JSON object for the bench line: per-twin metrics + bound verdicts. */
  def json(results: Seq[(String, Either[String, TwinResult])]): Map[String, Any] = {
    val twins = results.map {
      case (name, Right(r)) => name -> Json.obj(
        "rows" -> r.rows, "sec" -> Json.fixed(r.sec),
        "rows_per_sec" -> Json.fixed(r.rowsPerSec, 0), "batches" -> r.batches,
        "trigger_ms_p50" -> Json.fixed(r.trigP50Ms, 0),
        "trigger_ms_max" -> Json.fixed(r.trigMaxMs, 0),
        "state_rows_max" -> r.stateRowsMax, "state_bytes_max" -> r.stateBytesMax,
        "state_bound" -> r.bound, "bound_ok" -> r.boundOk, "bound" -> r.boundDesc)
      case (name, Left(err)) => name -> Json.obj("failed" -> err)
    }
    val allOk = results.forall {
      case (_, Right(r)) => r.boundOk
      case _ => false
    }
    Json.obj("all_bounded" -> allOk, "twins" -> Json.obj(twins: _*))
  }

  /** Standalone entry: one JSON line, same env contract as [[Bench]] —
    * including `SPARK_GRAFT_MASTER`, so the multi-JVM tier covers the
    * streaming twins too (state-store and stream-static-join closures
    * crossing real process boundaries, not one shared JVM).
    */
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val spark = GraftSession.local(master, cpus.toInt)
    val line = Json.write(Json.obj("metric" -> "streaming", "sf" -> sfDir,
      "streaming" -> json(run(spark, sfDir))))
    println(line)
    val out = sys.env.getOrElse("SPARK_GRAFT_STREAMBENCH_OUT", "bench_streaming.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }
}
