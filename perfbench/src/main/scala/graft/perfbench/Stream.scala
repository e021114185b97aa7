package graft.perfbench

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.{SyncPipeline, Tables}
import graft.streaming.StreamOps

/** `events` replayed in event-time order through three streaming twins,
  * one `processAllAvailable` per chunk:
  *
  *  - `import_errors`: the staged harvest items, with the declared
  *    corruption moduli, through `StreamOps.importErrorStream`;
  *  - `tumbling_counts`: `StreamOps.tumblingCountsStream`, then two
  *    far-future events that close every window;
  *  - `interval_join`: views and clicks through
  *    `StreamOps.intervalJoinStream`, chunked by event time so both
  *    sides' watermarks advance together.
  *
  * Every replay's output digest must equal the twin's batch form over the
  * same rows, and its state must stay under the twin's bound.
  *
  * The per-twin metrics come from the engine's own progress reports, not
  * from the benchmark's tracing, so they pool every measured replay of a
  * run, traced or not.
  */
final class Stream(b: Bench) extends Workload {
  import Stream._
  import b.{spark, layer, out}
  implicit private val sq: SQLContext = spark.sqlContext
  import spark.implicits._

  private val dir = b.a.data
  private val stagingDir = s"${b.a.work}/stream-staging"
  private var events: Seq[Ev] = Nil
  private var staged: Seq[Staged] = Nil
  private var batch: Map[String, (Long, Long)] = Map.empty
  private var bounds: Map[String, Long] = Map.empty
  private val progress = mutable.Map.empty[String, mutable.ArrayBuffer[StreamingQueryProgress]]
  private val rowsPerS = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private val replays = mutable.ArrayBuffer.empty[Double]
  private var n = 0

  def minCycles: Int = 1
  def steps: Seq[String] = Main.Twins

  def prepare(): Unit = Seq("events", "orders").foreach(t => Tables.table(spark, dir, t).schema)

  private def views = events.filter(_._4 == "view").map(e => (e._1, e._3, e._2))
  private def clicks = events.filter(_._4 == "click").map(e => (e._1, e._3, e._2))

  def warmUp(): Unit = {
    events = Tables.table(spark, dir, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
      .orderBy("ts", "event_id").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getString(3), r.getDouble(4)))
      .toSeq
    // staged work items with the declared corruption moduli
    SyncPipeline.gatherToStaging(spark, dir, s"$stagingDir-clean")
    spark.read.parquet(s"$stagingDir-clean").select(
      when(col("guid") % SyncPipeline.CorruptGuidMod === 0, lit(null))
        .otherwise(col("guid")).as("guid"),
      when(col("guid") % SyncPipeline.CorruptTruncMod === 0,
        expr("substring(content, 1, length(content) div 2)"))
        .otherwise(col("content")).as("content"))
      .write.mode("overwrite").parquet(stagingDir)
    staged = spark.read.parquet(stagingDir).orderBy(col("guid"), col("content")).collect()
      .map(r => (if (r.isNullAt(0)) null else java.lang.Long.valueOf(r.getLong(0)), r.getString(1)))
      .toSeq
    // the batch forms over the same rows, and the bounds on held state
    val evDf = events.toDF("event_id", "ts", "user_id", "event_type", "value")
    batch = Map(
      "import_errors" -> Stats.digest(
        SyncPipeline.importFromStagingWithErrors(spark, dir, stagingDir)._2),
      "tumbling_counts" -> Stats.digest(StreamOps.tumblingCountsStream(evDf)),
      "interval_join" -> Stats.digest(graft.ops.IntervalOps.intervalJoinMicros(
        views.map(v => (v._1, v._2, v._3.getTime * 1000L)).toDF("view_id", "user_id", "v_us"),
        clicks.map(c => (c._1, c._2, c._3.getTime * 1000L)).toDF("click_id", "c_user", "c_us"),
        StreamOps.IntervalJoinWindowSeconds * 1000000L)))
    require(batch.values.forall(_._1 > 0), s"empty batch form: $batch")
    val hours = events.map(_._2.getTime / 3600000L).distinct.size.toLong
    bounds = Map("import_errors" -> 0L,
      "tumbling_counts" -> (hours * 5 - 1),
      "interval_join" -> (views.size + clicks.size - 1L))
    // a short replay — one chunk of the measured size per twin, and the
    // closing events — compiles every stage and takes each twin's state
    // store through commits and evictions
    replayAll(events.take(events.size / Chunks("interval_join")),
      staged.take(staged.size / Chunks("import_errors")), Chunks.map(_._1 -> 1),
      check = false)
  }

  override def clearSamples(): Unit = { progress.clear(); rowsPerS.clear(); replays.clear() }

  private def chunked[A](xs: Seq[A], k: Int): Seq[Seq[A]] =
    xs.grouped(math.max(1, math.ceil(xs.size.toDouble / k).toInt)).toSeq

  /** Feed the chunks one trigger each; with `check`, then compare the
    * output's digest with the batch form and the held state with its bound.
    */
  private def replay(twin: String, df: DataFrame, feeds: Seq[() => Unit], nRows: Long,
      check: Boolean, output: DataFrame => DataFrame = identity): Option[Double] = {
    n += 1
    val name = s"perfbench_${twin}_$n"
    val ckpt = Files.createTempDirectory(Paths.get(b.a.work), "ckpt")
    try out.attempt(twin) {
      val q = df.writeStream.format("memory").queryName(name)
        .option("checkpointLocation", ckpt.toString).outputMode("append").start()
      try {
        val t0 = b.now()
        layer(twin)(feeds.foreach { f => f(); q.processAllAvailable() })
        val sec = b.since(t0)
        val prog = q.recentProgress.toSeq
        if (check) {
          val d = Stats.digest(output(spark.table(name)))
          out.check(s"stream.$twin.matches_batch", d == batch(twin),
            s"stream $d vs batch ${batch(twin)}")
          val stateMax = prog.map(_.stateOperators.map(_.numRowsTotal).sum).maxOption.getOrElse(0L)
          out.check(s"stream.$twin.bound_ok", stateMax <= bounds(twin),
            s"state rows $stateMax over bound ${bounds(twin)}")
        }
        progress.getOrElseUpdate(twin, mutable.ArrayBuffer.empty) ++= prog
        rowsPerS.getOrElseUpdate(twin, mutable.ArrayBuffer.empty) += nRows / sec
        sec
      } finally q.stop()
    } finally {
      spark.catalog.dropTempView(name)
      Bench.deleteTree(ckpt)
    }
  }

  def cycle(i: Int): Option[Double] = {
    val total = replayAll(events, staged, Chunks, check = true)
    total.foreach(replays += _)
    total
  }

  /** One replay of `evs` (in event-time order) and `items` through the
    * three twins in `chunks` micro-batches each; its seconds, or None if a
    * replay failed.
    */
  private def replayAll(evs: Seq[Ev], items: Seq[Staged], chunks: Map[String, Int],
      check: Boolean): Option[Double] = {
    val sm = MemoryStream[Staged]
    val importS = replay("import_errors",
      StreamOps.importErrorStream(sm.toDF.toDF("guid", "content"),
        Tables.table(spark, dir, "orders").schema),
      chunked(items, chunks("import_errors")).map(c => () => { sm.addData(c); () }),
      items.size, check)

    val em = MemoryStream[Ev]
    val far = evs.last._2.getTime + 86400000L
    val flush = Seq(Seq((-1L, new Timestamp(far), -1L, "flush", 0.0)),
      Seq((-2L, new Timestamp(far + 86400000L), -1L, "flush", 0.0)))
    // the flush rows leave the output only: a filter in the query would
    // be pushed below the watermark and hold it back
    val tumblingS = replay("tumbling_counts", StreamOps.tumblingCountsStream(
        em.toDF.toDF("event_id", "ts", "user_id", "event_type", "value")),
      (chunked(evs, chunks("tumbling_counts")) ++ flush)
        .map(c => () => { em.addData(c); () }),
      evs.size, check, _.filter(col("event_type") =!= "flush"))

    val vm = MemoryStream[Click]
    val cm = MemoryStream[Click]
    val feeds = chunked(evs, chunks("interval_join")).map { c =>
      val v = c.filter(_._4 == "view").map(e => (e._1, e._3, e._2))
      val k = c.filter(_._4 == "click").map(e => (e._1, e._3, e._2))
      () => { if (v.nonEmpty) vm.addData(v); if (k.nonEmpty) cm.addData(k); () }
    }
    val joinS = replay("interval_join", StreamOps.intervalJoinStream(
        vm.toDF.toDF("event_id", "user_id", "ts"), cm.toDF.toDF("event_id", "user_id", "ts")),
      feeds, evs.count(e => e._4 == "view" || e._4 == "click"), check)
    for (x <- importS; y <- tumblingS; z <- joinS) yield x + y + z
  }

  def layers: Map[String, Double] = {
    def ms(p: StreamingQueryProgress, k: String): Option[Double] =
      Option(p.durationMs.get(k)).map(_.toDouble)
    def p50(xs: Seq[Double]): Double = Stats.percentile(xs, 0.5).getOrElse(0.0)
    // per twin: every micro-batch, the no-data ones that evict state too
    val perTwin = Main.Twins.flatMap { t =>
      val prog = progress.getOrElse(t, mutable.ArrayBuffer.empty).toSeq
      Seq(
        s"twin.$t.rows_per_s" -> Stats.median(rowsPerS(t).toSeq),
        s"twin.$t.batches" -> prog.size.toDouble,
        s"twin.$t.addBatch_ms_p50" -> p50(prog.flatMap(ms(_, "addBatch"))),
        s"twin.$t.walCommit_ms_p50" -> p50(prog.flatMap(ms(_, "walCommit"))),
        s"twin.$t.state_commit_ms_p50" ->
          p50(prog.map(_.stateOperators.map(_.commitTimeMs).sum.toDouble)),
        s"twin.$t.state_rows_max" ->
          prog.map(_.stateOperators.map(_.numRowsTotal).sum).maxOption.getOrElse(0L).toDouble,
        s"twin.$t.state_stores" -> prog.map(_.stateOperators.map(_.numStateStoreInstances).sum)
          .maxOption.getOrElse(0L).toDouble)
    }
    // end to end: triggerExecution over the micro-batches that carried rows
    val trig = Main.Twins.flatMap(t => progress.getOrElse(t, mutable.ArrayBuffer.empty).toSeq
      .filter(_.numInputRows > 0).flatMap(ms(_, "triggerExecution")))
    val rows = staged.size + events.size + views.size + clicks.size
    perTwin.toMap ++ Map(
      "stream.rows_per_s" -> rows / Stats.median(replays.toSeq),
      "stream.batch_ms_p50" -> p50(trig))
  }
}

object Stream {
  type Ev = (Long, Timestamp, Long, String, Double)
  type Click = (Long, Long, Timestamp)
  type Staged = (java.lang.Long, String)

  /** Chunks per replay. A stateful micro-batch costs about the same
    * whatever its size (state-store commits dominate: ~0.3 s for the
    * tumbling window, ~0.8 s for the interval join on 4 cores), so the
    * stateful twins get few, large chunks; each chunk also triggers a
    * no-data batch that evicts state.
    */
  val Chunks: Map[String, Int] =
    Map("import_errors" -> 5, "tumbling_counts" -> 2, "interval_join" -> 2)
}
