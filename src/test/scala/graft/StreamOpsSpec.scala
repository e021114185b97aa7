package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamOps
import graft.ops.MultimodalOps
import java.sql.Timestamp

/** Streaming operators: the streaming forms must agree with their batch
  * (oracle-checked) equivalents on the same data; multimodal: the batched
  * mapPartitions decode must agree with the expression path.
  */
class StreamOpsSpec extends AnyFunSuite with SharedSpark {

  val sf = "/root/testdata/sf0.001"

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("tumblingCountsStream agrees with the batch form on a replayed stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = Seq(
      (ts("2024-01-01 10:05:00"), "click", 1.5),
      (ts("2024-01-01 10:45:00"), "click", 2.5),
      (ts("2024-01-01 10:50:00"), "view", 1.0),
      (ts("2024-01-01 11:10:00"), "click", 4.0))
    val mem = MemoryStream[(Timestamp, String, Double)]
    mem.addData(events)
    val q = StreamOps.tumblingCountsStream(
        mem.toDF.toDF("ts", "event_type", "value"))
      .writeStream.format("memory").queryName("tumbling")
      .outputMode("append").trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    // watermark closes windows only when later data arrives; replay with a
    // closing batch
    val mem2 = MemoryStream[(Timestamp, String, Double)]
    mem2.addData(events)
    mem2.addData(Seq((ts("2024-01-02 00:00:00"), "flush", 0.0)))
    val q2 = StreamOps.tumblingCountsStream(
        mem2.toDF.toDF("ts", "event_type", "value"))
      .writeStream.format("memory").queryName("tumbling2")
      .outputMode("append").trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q2.awaitTermination(60000)
    val got = spark.table("tumbling2")
      .filter(col("event_type") =!= "flush")
      .orderBy("window_start", "event_type")
      .collect().map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.toList == List(
      ("2024-01-01 10:00:00.0", "click", 2L, 400L),
      ("2024-01-01 10:00:00.0", "view", 1L, 100L),
      ("2024-01-01 11:00:00.0", "click", 1L, 400L)))
  }

  test("ohlcStream bars replay the batch total-order fold, ties included") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // (event_id, ts, event_type, value); two events SHARE a timestamp so
    // only the (us, event_id) total order decides open — and the lower id
    // carries the larger value, so a value-based or arrival-based pick
    // would produce a different bar
    val events = Seq(
      (5L, ts("2024-01-01 10:00:00"), "click", 9.0), // tie, lower id: open
      (6L, ts("2024-01-01 10:00:00"), "click", 1.0), // tie, higher id
      (7L, ts("2024-01-01 10:30:00"), "click", 4.5), // high stays 9.0
      (8L, ts("2024-01-01 10:59:00"), "click", 0.5), // low + close
      (9L, ts("2024-01-01 10:20:00"), "view", 2.0))
    val mem = MemoryStream[(Long, Timestamp, String, Double)]
    mem.addData(events)
    mem.addData(Seq((99L, ts("2024-01-02 00:00:00"), "flush", 0.0)))
    val q = StreamOps.ohlcStream(
        mem.toDF.toDF("event_id", "ts", "event_type", "value"))
      .writeStream.format("memory").queryName("ohlc")
      .outputMode("append").trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val got = spark.table("ohlc")
      .filter(col("event_type") =!= "flush")
      .orderBy("window_start", "event_type")
      .collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
    // batch definition replayed: sort each bar by (us, event_id), open =
    // head, close = last (the definition AnalyticsOpsSpec replays)
    assert(got.toList == List(
      ("2024-01-01 10:00:00.0", "click", 900L, 900L, 50L, 50L, 4L, 1500L),
      ("2024-01-01 10:00:00.0", "view", 200L, 200L, 200L, 200L, 1L, 200L)))
  }

  test("dqStream counts per-window violations like the batch row-local suite") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // (ts, user_id: java.lang.Long, event_type, value) — one null user,
    // one out-of-domain type, one negative value, spread over two windows
    val mem = MemoryStream[(Timestamp, java.lang.Long, String, Double)]
    mem.addData(Seq(
      (ts("2024-01-01 10:05:00"), 1L: java.lang.Long, "click", 1.0),
      (ts("2024-01-01 10:10:00"), null, "view", 2.0),
      (ts("2024-01-01 10:20:00"), 3L: java.lang.Long, "bogus", 1.0),
      (ts("2024-01-01 11:05:00"), 4L: java.lang.Long, "purchase", -5.0),
      (ts("2024-01-01 11:15:00"), 5L: java.lang.Long, "signup", 1.0)))
    mem.addData(Seq(
      (ts("2024-01-02 00:00:00"), 9L: java.lang.Long, "click", 0.0)))
    val q = StreamOps.dqStream(
        mem.toDF.toDF("ts", "user_id", "event_type", "value"))
      .writeStream.format("memory").queryName("dqmon")
      .outputMode("append").trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val got = spark.table("dqmon")
      .filter(col("window_start") < ts("2024-01-02 00:00:00"))
      .orderBy("window_start").collect()
      .map(r => (r.getTimestamp(0).toString, r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getBoolean(5)))
    assert(got.toList == List(
      ("2024-01-01 10:00:00.0", 3L, 1L, 1L, 0L, false),
      ("2024-01-01 11:00:00.0", 2L, 0L, 0L, 1L, false)))
  }

  test("sessionizeStream emits gap-separated sessions matching batch semantics") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp)]
    mem.addData(Seq(
      (7L, ts("2024-01-01 10:00:00")),
      (7L, ts("2024-01-01 10:10:00")),
      (7L, ts("2024-01-01 11:30:00")), // > 30 min gap → new session
      (9L, ts("2024-01-01 10:00:00"))))
    // advance the event-time watermark past all timeouts so sessions close
    mem.addData(Seq((99L, ts("2024-01-02 00:00:00"))))
    val q = StreamOps.sessionizeStream(spark,
        mem.toDF.toDF("user_id", "ts").withWatermark("ts", "0 seconds"))
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val got = spark.table("sessions")
      .filter(col("user_id") =!= 99L)
      .orderBy("user_id", "session_start")
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getLong(3)))
    // user 7's first session (2 events) closes via the 11:30 event's gap;
    // remaining state closes via timeout when the watermark jumps a day.
    assert(got.toList == List(
      (7L, "2024-01-01 10:00:00.0", 2L),
      (7L, "2024-01-01 11:30:00.0", 1L),
      (9L, "2024-01-01 10:00:00.0", 1L)))
  }

  test("intervalJoinStream keeps the window boundaries on a replayed stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // views/clicks for two users; one click outside the 10-minute window,
    // one click exactly ON the boundary (inclusive), one before the view
    val views = Seq(
      (100L, 1L, ts("2024-01-01 10:00:00")),
      (101L, 2L, ts("2024-01-01 10:00:00")))
    val clicks = Seq(
      (200L, 1L, ts("2024-01-01 10:03:00")),   // in window
      (201L, 1L, ts("2024-01-01 10:10:00")),   // boundary: kept (<=)
      (202L, 1L, ts("2024-01-01 10:11:00")),   // outside
      (203L, 2L, ts("2024-01-01 09:59:00")),   // before the view
      (204L, 2L, ts("2024-01-01 10:09:59")))   // in window
    val vMem = MemoryStream[(Long, Long, Timestamp)]
    val cMem = MemoryStream[(Long, Long, Timestamp)]
    vMem.addData(views)
    cMem.addData(clicks)
    val q = StreamOps.intervalJoinStream(
        vMem.toDF.toDF("event_id", "user_id", "ts"),
        cMem.toDF.toDF("event_id", "user_id", "ts"))
      .writeStream.format("memory").queryName("attribution")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val got = spark.table("attribution")
      .orderBy("view_id", "click_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    assert(got.toList == List(
      (100L, 200L, 180L), (100L, 201L, 600L), (101L, 204L, 599L)))
  }

  test("sessionizeBatch matches a naive reference on random event streams") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val events = (1 to 500).map { i =>
      (i.toLong, rnd.nextInt(8).toLong,
        new Timestamp(ts("2024-01-01 00:00:00").getTime + rnd.nextInt(6 * 3600) * 1000L))
    }
    // write to a temp parquet dir shaped like the harness events table
    val dir = java.nio.file.Files.createTempDirectory("graft-sess").toString
    events.toDF("event_id", "user_id", "ts")
      .withColumn("event_type", lit("x")).withColumn("value", lit(0.0))
      .withColumn("props", lit("{}"))
      .write.parquet(dir + "/events.parquet")
    val got = StreamOps.sessionizeBatch(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // naive: sort each user's events, split on >30min gaps
    val expected = events.groupBy(_._2).flatMap { case (uid, es) =>
      val sorted = es.sortBy(e => (e._3.getTime, e._1))
      var session = 0L
      var prev = Long.MinValue
      val counts = scala.collection.mutable.Map.empty[(Long, Long), Long]
      sorted.foreach { e =>
        if (prev != Long.MinValue && e._3.getTime - prev > 30 * 60 * 1000L) session += 1
        counts((uid, session)) = counts.getOrElse((uid, session), 0L) + 1
        prev = e._3.getTime
      }
      counts
    }.toMap
    assert(got == expected)
  }

  test("dedupStream drops redelivered digests inside the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String)]
    mem.addData(Seq(
      (ts("2024-01-01 10:00:00"), "d1"),
      (ts("2024-01-01 10:05:00"), "d1"), // duplicate within watermark
      (ts("2024-01-01 10:10:00"), "d2")))
    val q = StreamOps.dedupStream(mem.toDF.toDF("ts", "digest"))
      .writeStream.format("memory").queryName("dedup")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val got = spark.table("dedup").select("digest").collect().map(_.getString(0)).sorted
    assert(got.toList == List("d1", "d2"))
  }

  test("incrementalSync: batches converge to latest-value-per-key target state") {
    import spark.implicits._
    val target = java.nio.file.Files.createTempDirectory("graft-sync").toString + "/t"
    val b1 = Seq((1L, "v1"), (2L, "v1")).toDF("k", "v")
    val b2 = Seq((2L, "v2"), (3L, "v1")).toDF("k", "v")
    StreamOps.incrementalSync(b1, target, "k")
    StreamOps.incrementalSync(b2, target, "k")
    // replay of batch 2 must be a no-op (idempotence)
    StreamOps.incrementalSync(b2, target, "k")
    val got = spark.read.parquet(target).collect()
      .map(r => r.getLong(0) -> r.getString(1)).sortBy(_._1)
    assert(got.toList == List(1L -> "v1", 2L -> "v2", 3L -> "v1"))
  }

  test("incrementalSync collapses duplicate keys within one batch") {
    import spark.implicits._
    val target = java.nio.file.Files.createTempDirectory("graft-sync-dup").toString + "/t"
    val batch = Seq((1L, "a"), (1L, "b"), (2L, "c")).toDF("k", "v")
    StreamOps.incrementalSync(batch, target, "k")
    val got = spark.read.parquet(target).groupBy("k").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L), "one row per key, never duplicates")
  }

  test("sessionizeStream gap-splits late events among themselves") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp)]
    val q = StreamOps.sessionizeStream(spark,
        mem.toDF.toDF("user_id", "ts").withWatermark("ts", "4 hours"))
      .writeStream.format("memory").queryName("late_sessions")
      .outputMode("append").start()
    try {
      mem.addData(Seq((7L, ts("2024-01-01 10:00:00"))))
      q.processAllAvailable()
      // two late events, each >30min before the open session but within
      // 30min of each other → ONE late session, not two point sessions
      mem.addData(Seq((7L, ts("2024-01-01 08:30:00")), (7L, ts("2024-01-01 08:40:00"))))
      q.processAllAvailable()
      mem.addData(Seq((99L, ts("2024-01-02 00:00:00"))))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("late_sessions")
      .filter(col("user_id") === 7L)
      .orderBy("session_start")
      .collect()
      .map(r => (r.getTimestamp(1).toString, r.getTimestamp(2).toString, r.getLong(3)))
    assert(got.toList == List(
      ("2024-01-01 08:30:00.0", "2024-01-01 08:40:00.0", 2L),
      ("2024-01-01 10:00:00.0", "2024-01-01 10:00:00.0", 1L)))
  }

  test("multimodal: resize stub downsamples blob and metadata consistently") {
    val rows = MultimodalOps.resize(spark, sf, stride = 4).collect()
    val orig = MultimodalOps.blobTable(spark, sf)
      .select(col("doc_id"), length(col("blob")).as("n")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val expected = (orig(r.getLong(0)) + 3) / 4
      assert(r.getAs[Array[Byte]](1).length == expected)
    }
  }

  test("multimodal: asset dedup collapses the re-ingested slice onto originals") {
    import graft.ops.MultimodalOps
    val got = MultimodalOps.mmDedup(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val texts = Tables.table(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // keep_id is always an ORIGINAL id (min beats every offset copy)
    assert(got.keySet.forall(_ < MultimodalOps.ReingestOffset))
    // group count = distinct texts; total copies = originals + injected
    val byText = texts.groupBy(_._2)
    assert(got.size == byText.size)
    assert(got.values.sum ==
      texts.length + texts.count(_._1 % 7 == 0))
    // each group's copy count replays: its docs + those re-ingested
    for ((text, ds) <- byText) {
      val keep = ds.map(_._1).min
      val want = ds.length + ds.count(_._1 % 7 == 0)
      assert(got(keep) == want.toLong, s"group of doc $keep")
    }
    // non-vacuous: real multi-copy groups exist
    assert(got.values.exists(_ > 1))
  }

  test("multimodal: batched mapPartitions decode parses the synthesized headers") {
    // the expression path computes dimensions from n_chars; the decode path
    // must recover the SAME numbers by parsing the container bytes
    val exprPath = MultimodalOps.features(spark, sf)
      .select("doc_id", "n_bytes", "width", "height").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2), r.getInt(3)))).toMap
    val decoded = MultimodalOps.decodeFeatures(spark, sf).collect()
    assert(decoded.length == exprPath.size)
    decoded.foreach { r =>
      val id = r.getLong(0)
      val (nText, w, h) = exprPath(id)
      r.getString(1) match {
        case f @ ("png" | "jpeg") =>
          assert((id % 3 == 0) == (f == "png"))
          assert(r.getInt(2) == w && r.getInt(3) == h && r.getInt(4) == 8)
          assert(r.getLong(5) == nText + graft.ops.MediaCodec.HeaderBytes)
          assert(r.isNullAt(6), "parsed formats carry no fallback stats")
        case "unknown" =>
          assert(id % 3 == 2)
          assert(r.isNullAt(2) && r.isNullAt(3) && r.isNullAt(4))
          assert(r.getLong(5) == nText)
          assert(r.getDouble(6) > 0 && r.getDouble(6) < 256)
        case other => fail(s"unexpected format $other")
      }
    }
  }

  test("multimodal: full ImageIO pixel decode recovers the exact samples") {
    import graft.ops.MultimodalOps
    // the fixture blobs are REAL PNGs: the header parser (the cheap gate
    // a pipeline runs before paying for pixels) must agree on dimensions
    val blobs = MultimodalOps.pixelMediaTable(spark, sf).collect()
    blobs.foreach { r =>
      val id = r.getLong(0)
      val h = graft.ops.MediaCodec.decodeHeader(r.getAs[Array[Byte]](1))
      assert(h.map(x => (x.format, x.width, x.height, x.bitDepth)) ===
        Some(("png", 4 + (id % MultimodalOps.PxWidthMod).toInt,
          4 + (id % MultimodalOps.PxHeightMod).toInt, 8)),
        s"doc $id: fixture PNG header")
    }
    // the decoded statistics equal the closed-form generating arithmetic
    val got = MultimodalOps.mmPixels(spark, sf).collect()
    assert(got.length == blobs.length)
    got.foreach { r =>
      val id = r.getLong(0)
      val w = 4 + (id % MultimodalOps.PxWidthMod).toInt
      val hh = 4 + (id % MultimodalOps.PxHeightMod).toInt
      val px = for (x <- 0 until w; y <- 0 until hh)
        yield MultimodalOps.pxValue(id, x, y)
      assert(r.getInt(1) == w && r.getInt(2) == hh)
      assert(r.getLong(3) == w.toLong * hh)
      assert(r.getInt(4) == px.min && r.getInt(5) == px.max,
        s"doc $id extrema")
      assert(r.getLong(6) == px.map(_.toLong).sum, s"doc $id sum")
    }
    // non-vacuous: several distinct shapes, and real dynamic range
    assert(got.map(r => (r.getInt(1), r.getInt(2))).distinct.length > 3)
    assert(got.exists(r => r.getInt(4) < r.getInt(5)))
  }

  test("multimodal: RGB/JPEG decode — exact lossless sums, asserted lossy means") {
    import graft.ops.MultimodalOps
    // both container formats carry real headers the cheap gate can parse
    val blobs = MultimodalOps.pixelRgbTable(spark, sf).collect()
    blobs.foreach { r =>
      val id = r.getLong(0)
      val fmt = r.getString(1)
      val h = graft.ops.MediaCodec.decodeHeader(r.getAs[Array[Byte]](2))
      assert(fmt === (if (id % 2 == 0) "png" else "jpg"))
      assert(h.map(x => (x.format, x.width, x.height)) ===
        Some((if (fmt == "png") "png" else "jpeg",
          8 + (id % MultimodalOps.PxRgbWidthMod).toInt,
          8 + (id % MultimodalOps.PxRgbHeightMod).toInt)),
        s"doc $id: fixture $fmt header")
    }
    val got = MultimodalOps.mmPixelsRgb(spark, sf).collect()
    assert(got.length == blobs.length)
    got.foreach { r =>
      val id = r.getLong(0)
      val w = 8 + (id % MultimodalOps.PxRgbWidthMod).toInt
      val h = 8 + (id % MultimodalOps.PxRgbHeightMod).toInt
      assert(r.getInt(2) == w && r.getInt(3) == h && r.getLong(4) == w.toLong * h)
      assert(r.getBoolean(8), s"doc $id: decode_ok must hold")
      if (r.getString(1) == "png") {
        // lossless: plain-Scala re-derivation of each channel sum
        (0 until 3).foreach { c =>
          val exp = (for (x <- 0 until w; y <- 0 until h)
            yield MultimodalOps.pxValueRgb(id, x, y, c).toLong).sum
          assert(r.getLong(5 + c) == exp, s"doc $id channel $c sum")
        }
        // channel bases sit 85 apart: a swapped channel cannot cancel
        assert(r.getLong(5) != r.getLong(6))
      } else {
        assert(r.isNullAt(5) && r.isNullAt(6) && r.isNullAt(7),
          s"doc $id: lossy rows must not claim exact sums")
      }
    }
    // both disciplines actually exercised
    assert(got.exists(_.getString(1) == "png") && got.exists(_.getString(1) == "jpg"))
  }

  test("multimodal: WAVE decode recovers the exact PCM acoustics") {
    // the fixture blobs are REAL WAVE files: the independent chunk walker
    // must agree with the JDK encoder on the fmt fields and every sample
    val blobs = MultimodalOps.audioTable(spark, sf).collect()
    blobs.foreach { r =>
      val id = r.getLong(0)
      val w = MultimodalOps.parseWav(r.getAs[Array[Byte]](1))
        .getOrElse(fail(s"doc $id: fixture WAVE must parse"))
      assert(w.sampleRate == MultimodalOps.auRate(id) && w.channels == 1
        && w.bits == 16, s"doc $id fmt chunk")
      val n = MultimodalOps.AuLenBase + (id % MultimodalOps.AuLenMod).toInt
      assert(w.samples.length == n, s"doc $id sample count")
      assert(w.samples.zipWithIndex.forall { case (v, i) =>
        v == MultimodalOps.auSample(id, i) }, s"doc $id samples")
    }
    // chunk walking is real: an interleaved unknown chunk must be skipped
    val one = blobs.head
    val raw = one.getAs[Array[Byte]](1)
    val junk = Array[Byte]('j', 'u', 'n', 'k', 3, 0, 0, 0, 1, 2, 3, 0)
    val padded = raw.take(12) ++ junk ++ raw.drop(12)
    // RIFF size field is not re-stamped; the walker must not rely on it
    val reparsed = MultimodalOps.parseWav(padded)
    assert(reparsed.exists(_.samples.sameElements(
      MultimodalOps.parseWav(raw).get.samples)), "junk chunk must be skipped")
    assert(MultimodalOps.parseWav("nope".getBytes).isEmpty)
    assert(MultimodalOps.parseWav(raw.take(30)).isEmpty, "truncated data chunk")
    // hostile u32 chunk size (>= 2^31 reads negative in an Int): must be
    // None, not an infinite walk or a negative array allocation
    val hostile = raw.clone()
    hostile(16) = 0xf8.toByte; hostile(17) = 0xff.toByte
    hostile(18) = 0xff.toByte; hostile(19) = 0xff.toByte
    assert(MultimodalOps.parseWav(hostile).isEmpty, "negative chunk size")
    // the declared stats equal the closed-form generating arithmetic
    val got = MultimodalOps.mmAudio(spark, sf).collect()
    assert(got.length == blobs.length)
    got.foreach { r =>
      val id = r.getLong(0)
      val n = MultimodalOps.AuLenBase + (id % MultimodalOps.AuLenMod).toInt
      val s = (0 until n).map(MultimodalOps.auSample(id, _))
      assert(r.getInt(1) == MultimodalOps.auRate(id) && r.getInt(2) == n)
      assert(r.getInt(3) == (n.toLong * 1000L / MultimodalOps.auRate(id)).toInt)
      assert(r.getInt(4) == s.map(math.abs).max, s"doc $id peak")
      assert(r.getLong(5) == s.map(v => math.abs(v).toLong).sum, s"doc $id L1")
      assert(r.getLong(6) == s.map(v => v.toLong * v).sum, s"doc $id L2")
      assert(r.getInt(7) == s.sliding(2).count(p => (p(0) < 0) != (p(1) < 0)),
        s"doc $id crossings")
      assert(r.getBoolean(8))
    }
    // non-vacuous: all three rates occur and every clip actually crosses
    assert(got.map(_.getInt(1)).distinct.sorted.sameElements(
      Array(8000, 16000, 24000)))
    assert(got.forall(_.getInt(7) > 0))
  }

  test("multimodal: box-filter resize matches the floor-mean arithmetic and round-trips") {
    val got = MultimodalOps.mmResize(spark, sf).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val id = r.getLong(0)
      val w = 4 + (id % MultimodalOps.PxWidthMod).toInt
      val h = 4 + (id % MultimodalOps.PxHeightMod).toInt
      val (ow, oh) = ((w + 1) / 2, (h + 1) / 2)
      assert(r.getInt(1) == w && r.getInt(2) == h)
      assert(r.getInt(3) == ow && r.getInt(4) == oh)
      val rv = for (by <- 0 until oh; bx <- 0 until ow) yield {
        val xs = (2 * bx) until math.min(2 * bx + 2, w)
        val ys = (2 * by) until math.min(2 * by + 2, h)
        val block = for (x <- xs; y <- ys) yield MultimodalOps.pxValue(id, x, y)
        block.sum / block.size
      }
      assert(r.getLong(5) == rv.map(_.toLong).sum, s"doc $id resized sum")
      assert(r.getInt(6) == rv.min && r.getInt(7) == rv.max, s"doc $id extrema")
      assert(r.getBoolean(8), s"doc $id: lossless re-encode must round-trip")
    }
    // odd dims occur (edge blocks of 1 and 2 samples actually exercised)
    assert(got.exists(r => r.getInt(1) % 2 == 1 && r.getInt(2) % 2 == 1))
  }

  test("multimodal: animated-GIF frame sampling — exact stats, walker/reader cross-check") {
    // fixture blobs are REAL animated GIFs: the independent block walker
    // must recover frame count, dims and the GCE delays the JDK sequence
    // writer embedded
    val blobs = MultimodalOps.videoTable(spark, sf).collect()
    blobs.foreach { r =>
      val id = r.getLong(0)
      val info = MultimodalOps.parseGifStructure(r.getAs[Array[Byte]](1))
        .getOrElse(fail(s"doc $id: fixture GIF must walk"))
      val nf = MultimodalOps.VidFramesBase + (id % MultimodalOps.VidFramesMod).toInt
      assert(info.frames.length == nf, s"doc $id frame count")
      info.frames.zipWithIndex.foreach { case (fr, f) =>
        assert(fr.width == 4 + (id % MultimodalOps.VidWidthMod).toInt
          && fr.height == 4 + (id % MultimodalOps.VidHeightMod).toInt,
          s"doc $id frame $f dims")
        assert(fr.delayCs == MultimodalOps.vidDelayCs(id, f), s"doc $id frame $f delay")
      }
    }
    // malformed containers must reject, not throw
    assert(MultimodalOps.parseGifStructure("nope".getBytes).isEmpty)
    val raw = blobs.head.getAs[Array[Byte]](1)
    assert(MultimodalOps.parseGifStructure(raw.dropRight(5)).isEmpty,
      "truncated container (no trailer) must reject")
    // the declared query: every 2nd frame, stats off the decoded raster
    val got = MultimodalOps.mmVideo(spark, sf).collect()
    val expRows = blobs.map { r =>
      val nf = MultimodalOps.VidFramesBase +
        (r.getLong(0) % MultimodalOps.VidFramesMod).toInt
      (nf + MultimodalOps.VidSampleEvery - 1) / MultimodalOps.VidSampleEvery
    }.sum
    assert(got.length == expRows, "one row per SAMPLED frame")
    got.foreach { r =>
      val id = r.getLong(0)
      val f = r.getInt(3)
      val nf = MultimodalOps.VidFramesBase + (id % MultimodalOps.VidFramesMod).toInt
      val w = 4 + (id % MultimodalOps.VidWidthMod).toInt
      val h = 4 + (id % MultimodalOps.VidHeightMod).toInt
      assert(r.getInt(1) == nf && f % MultimodalOps.VidSampleEvery == 0 && f < nf)
      assert(r.getInt(2) == (0 until nf).map(MultimodalOps.vidDelayCs(id, _)).sum,
        s"doc $id duration")
      assert(r.getInt(4) == w && r.getInt(5) == h)
      val px = for (x <- 0 until w; y <- 0 until h)
        yield MultimodalOps.vidPx(id, f, x, y)
      assert(r.getLong(6) == px.map(_.toLong).sum, s"doc $id frame $f sum")
      assert(r.getInt(7) == px.min && r.getInt(8) == px.max, s"doc $id frame $f extrema")
      assert(r.getBoolean(9), s"doc $id frame $f decode_ok")
    }
    // non-vacuous: heights BELOW 8 occur (the interlace hazard the fixture
    // pins off — the default interlaced write corrupts exactly these), and
    // clips long enough that sampling actually skips frames
    assert(got.exists(_.getInt(5) < 8))
    assert(got.exists(_.getInt(3) >= MultimodalOps.VidSampleEvery))
  }

  test("distinctPerWindowStream sketches match the batch KMV per window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // 3 windows; one has > KmvK distinct users so the capacity path runs
    val events = (
      (1 to 200).map(u => (ts("2024-01-01 10:05:00"), u.toLong)) ++
      Seq((ts("2024-01-01 11:10:00"), 7L), (ts("2024-01-01 11:20:00"), 7L),
        (ts("2024-01-01 11:30:00"), 9L),
        (ts("2024-01-01 12:15:00"), 1L))).toList
    val mem = MemoryStream[(Timestamp, Long)]
    mem.addData(events)
    mem.addData(Seq((ts("2024-01-02 00:00:00"), 0L))) // watermark flush
    val q = StreamOps.distinctPerWindowStream(mem.toDF.toDF("ts", "user_id"))
      .writeStream.format("memory").queryName("kmvwin")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val got = spark.table("kmvwin")
      .filter(col("window_start") < ts("2024-01-02 00:00:00"))
      .orderBy("window_start")
      .collect().map(r => (r.getTimestamp(0).toString, r.getInt(1), r.getDouble(2)))
    assert(got.length == 3)
    // window 1: 200 distinct users -> sketch at capacity, estimate within
    // 4 sigma of 200; windows 2/3 under capacity -> estimate is exact
    assert(got(0)._2 == graft.llm.Sketches.KmvK)
    assert(math.abs(got(0)._3 - 200.0) <= 4 * 200.0 / math.sqrt(graft.llm.Sketches.KmvK - 2))
    assert(got(1)._2 == 2 && got(1)._3 == 2.0)
    assert(got(2)._2 == 1 && got(2)._3 == 1.0)
  }

  test("scd2Stream emits exactly the batch build's closed versions") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // user 1: A -> A -> B -> C (two closes, C stays open in state);
    // user 2: X only (never closes). Change B->C arrives in batch 2.
    val b1 = Seq(
      (1L, "A", ts("2024-01-01 10:00:00"), 1L),
      (1L, "A", ts("2024-01-01 10:05:00"), 2L),
      (1L, "B", ts("2024-01-01 10:10:00"), 3L),
      (2L, "X", ts("2024-01-01 10:11:00"), 4L))
    val b2 = Seq(
      (1L, "C", ts("2024-01-01 10:20:00"), 5L))
    // per-batch processing (see the gapfill test): the cross-batch close
    // must genuinely restore OpenVersion from the state store
    val mem = MemoryStream[(Long, String, Timestamp, Long)]
    val q = StreamOps.scd2Stream(spark,
        mem.toDF.toDF("user_id", "event_type", "ts", "event_id"))
      .writeStream.format("memory").queryName("scd2s")
      .outputMode("append").start()
    try {
      mem.addData(b1)
      q.processAllAvailable()
      mem.addData(b2)
      q.processAllAvailable()
      // a straggler older than the open version is dropped, not emitted
      // as an inverted interval
      mem.addData(Seq((1L, "Z", ts("2024-01-01 10:12:00"), 6L)))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("scd2s").orderBy("valid_from").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getTimestamp(3), r.getTimestamp(4)))
    assert(got.toSeq == Seq(
      (1L, 1L, "A", ts("2024-01-01 10:00:00"), ts("2024-01-01 10:10:00")),
      (1L, 3L, "B", ts("2024-01-01 10:10:00"), ts("2024-01-01 10:20:00"))))
  }

  test("gapFillStream carries the last reading across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // (user, ts, event_id, reading): user 1 reads at t1 and t4, gaps
    // between; user 2 never reads. Second batch exercises the carried state.
    val b1 = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, Some(100L)),
      (1L, ts("2024-01-01 10:05:00"), 2L, None),
      (2L, ts("2024-01-01 10:06:00"), 3L, None))
    val b2 = Seq(
      (1L, ts("2024-01-01 10:10:00"), 4L, None),      // fills from batch 1
      (1L, ts("2024-01-01 10:15:00"), 5L, Some(250L)),
      (1L, ts("2024-01-01 10:20:00"), 6L, None),      // fills from 250
      (2L, ts("2024-01-01 10:21:00"), 7L, None))      // still nothing to carry
    // start FIRST, then addData + processAllAvailable per batch: queueing
    // both before an AvailableNow start collapses to ONE micro-batch and
    // never exercises the cross-batch state restore
    val mem = MemoryStream[(Long, Timestamp, Long, Option[Long])]
    val q = StreamOps.gapFillStream(spark,
        mem.toDF.toDF("user_id", "ts", "event_id", "reading_cents"))
      .writeStream.format("memory").queryName("gapfill")
      .outputMode("append").start()
    try {
      mem.addData(b1)
      q.processAllAvailable()
      mem.addData(b2)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("gapfill").orderBy("event_id").collect()
      .map(r => (r.getLong(1),
        if (r.isNullAt(4)) None else Some(r.getLong(4))))
    assert(got.toSeq == Seq(
      1L -> Some(100L), 2L -> Some(100L), 3L -> None,
      4L -> Some(100L), 5L -> Some(250L), 6L -> Some(250L), 7L -> None))
  }

  test("hllPerWindowStream registers match the batch aggregate per window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = (
      (1 to 200).map(u => (ts("2024-01-01 10:05:00"), u.toLong)) ++
      Seq((ts("2024-01-01 11:10:00"), 7L), (ts("2024-01-01 11:20:00"), 7L),
        (ts("2024-01-01 11:30:00"), 9L))).toList
    val mem = MemoryStream[(Timestamp, Long)]
    mem.addData(events)
    mem.addData(Seq((ts("2024-01-02 00:00:00"), 0L))) // watermark flush
    val q = StreamOps.hllPerWindowStream(mem.toDF.toDF("ts", "user_id"))
      .writeStream.format("memory").queryName("hllwin")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val got = spark.table("hllwin")
      .filter(col("window_start") < ts("2024-01-02 00:00:00"))
      .orderBy("window_start")
      .collect()
      .map(r => (r.getTimestamp(0).toString, r.getSeq[Int](1), r.getDouble(2)))
    assert(got.length == 2)
    // batch recompute over the same rows must give identical registers
    val batch = events.toDF("ts", "user_id")
      .select(window(col("ts"), "1 hour").getField("start").as("w"),
        graft.llm.Sketches.hllHash(col("user_id")).as("h"))
      .groupBy("w")
      .agg(graft.functions.HllRegisters(col("h"), graft.llm.Sketches.HllP).as("r"))
      .orderBy("w").collect()
      .map(r => (r.getTimestamp(0).toString, r.getSeq[Int](1)))
    assert(got.map(g => (g._1, g._2)).toSeq == batch.toSeq)
    // window 2 has 2 distinct users; below any collision the estimate
    // direction is sane (raw HLL overshoots small counts without the
    // linear-counting correction — just require positivity + order)
    assert(got.forall(_._3 > 0.0))
  }

  test("histQuantilesStream: one-sided per-window estimates, exact replay") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(11)
    // values stay inside the bounded bin range (the operator's contract,
    // like the batch histQuantiles' "bounds cover the corpus" sizing —
    // beyond it the clamped tail bin floors instead of bounding)
    val events = (
      (1 to 120).map(_ => (ts("2024-01-01 10:05:00"),
        rnd.nextInt(6000) / 100.0)) ++
      (1 to 40).map(_ => (ts("2024-01-01 11:10:00"),
        rnd.nextInt(9900) / 100.0))).toList
    val mem = MemoryStream[(Timestamp, Double)]
    mem.addData(events)
    mem.addData(Seq((ts("2024-01-02 00:00:00"), 0.0)))
    val q = StreamOps.histQuantilesStream(mem.toDF.toDF("ts", "value"))
      .writeStream.format("memory").queryName("histq")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val got = spark.table("histq")
      .filter(col("window_start") < ts("2024-01-02 00:00:00"))
      .orderBy("window_start").collect()
      .map(r => (r.getTimestamp(0).toString.substring(11, 13).toInt,
        r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.length == 2)
    val byHour = events.groupBy(_._1.toLocalDateTime.getHour)
      .map { case (h, es) => h -> es.map(e => math.round(e._2 * 100)) }
    got.foreach { case (h, n, p50, p90, p99) =>
      val cents = byHour(h)
      assert(n == cents.length.toLong)
      // replay the fixed-bin estimate and pin the one-sided bound
      def estOf(q: Int): Long = {
        val bins = cents.map(c => math.min(c / 500, 19L))
          .groupBy(identity).map { case (b, xs) => b -> xs.size.toLong }
        val cums = (0L to 19L).scanLeft(0L)((acc, b) =>
          acc + bins.getOrElse(b, 0L)).tail
        val idx = cums.zipWithIndex
          .find { case (c, _) => c * 100 >= n * q }.map(_._2).getOrElse(19)
        (idx + 1L) * 500L
      }
      def exact(q: Int): Long = {
        val sorted = cents.sorted
        sorted(((n * q + 99) / 100 - 1).toInt.max(0))
      }
      for ((q, est) <- Seq((50, p50), (90, p90), (99, p99))) {
        assert(est == estOf(q), s"hour $h p$q estimate")
        assert(est >= exact(q), s"hour $h p$q must bound exact one-sidedly")
      }
    }
  }

  test("langidStream predictions equal the batch detector doc-for-doc") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.table(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val mem = MemoryStream[(Long, String)]
    mem.addData(docs)
    val q = StreamOps.langidStream(mem.toDF.toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("langid_stream")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val got = spark.table("langid_stream").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getInt(2))).toMap
    val want = graft.llm.TextAnalysis.langId(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getString(2), r.getInt(3))).toMap
    assert(got.size == docs.size && got == want)
    // the in-flight classifier genuinely discriminates on the fixture
    assert(got.values.map(_._1).toSet.size > 1)
  }

  test("importErrorStream errors equal the batch channel item-for-item") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the same corrupted-snapshot construction as the batch crash spec:
    // gather cleanly, null every 17th guid, truncate every 13th payload
    val staging = java.nio.file.Files.createTempDirectory("graft-estream").toString
    SyncPipeline.gatherToStaging(spark, sf, staging)
    val dirty = spark.read.parquet(staging).select(
      when(col("guid") % 17 === 0, lit(null)).otherwise(col("guid")).as("guid"),
      when(col("guid") % 13 === 0,
        expr("substring(content, 1, length(content) div 2)"))
        .otherwise(col("content")).as("content"))
    val staging2 = java.nio.file.Files.createTempDirectory("graft-estream2").toString
    dirty.write.mode("overwrite").parquet(staging2)
    val rows = spark.read.parquet(staging2).collect()
      .map(r => (if (r.isNullAt(0)) null else java.lang.Long.valueOf(r.getLong(0)),
        r.getString(1))).toSeq
    val mem = MemoryStream[(java.lang.Long, String)]
    mem.addData(rows)
    val schema = Tables.table(spark, sf, "orders").schema
    val q = StreamOps.importErrorStream(
        mem.toDF.toDF("guid", "content"), schema)
      .writeStream.format("memory").queryName("import_errors")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    def key(g: Any, e: String) = (Option(g).map(_.toString.toLong), e)
    val got = spark.table("import_errors").collect()
      .map(r => key(r.get(0), r.getString(1))).sortBy(_.toString)
    val want = SyncPipeline.importFromStagingWithErrors(spark, sf, staging2)
      ._2.collect().map(r => key(r.get(0), r.getString(1))).sortBy(_.toString)
    assert(got.nonEmpty && got.toSeq == want.toSeq)
    // both classes genuinely occur in-flight
    assert(got.exists(_._2 == "missing_guid") && got.exists(_._2 == "parse_error"))
  }

  test("cmsPerWindowStream estimates match the batch matrix per window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.llm.Sketches.{CmsD, CmsW}
    val events = (
      (1 to 60).map(i => (ts("2024-01-01 10:05:00"),
        StreamOps.DqEventTypes(i % 5))) ++
      (1 to 7).map(_ => (ts("2024-01-01 11:10:00"), "click"))).toList
    val mem = MemoryStream[(Timestamp, String)]
    mem.addData(events)
    mem.addData(Seq((ts("2024-01-02 00:00:00"), "flush")))
    val q = StreamOps.cmsPerWindowStream(mem.toDF.toDF("ts", "event_type"))
      .writeStream.format("memory").queryName("cmswin")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val got = spark.table("cmswin")
      .filter(col("window_start") < ts("2024-01-02 00:00:00"))
      .orderBy("window_start").collect()
      .map(r => (r.getTimestamp(0).toString,
        StreamOps.DqEventTypes.indices.map(i => r.getLong(i + 1))))
    assert(got.length == 2)
    // the estimates are one-sided over the true per-window counts and
    // exact when the probe's d buckets are collision-free
    val exact = events.groupBy(_._1.toLocalDateTime.getHour)
      .map { case (h, es) =>
        h -> StreamOps.DqEventTypes.map(tpe => es.count(_._2 == tpe).toLong)
      }
    got.foreach { case (w, ests) =>
      val ex = exact(w.substring(11, 13).toInt)
      ests.zip(ex).zip(StreamOps.DqEventTypes).foreach { case ((e, x), tpe) =>
        assert(e >= x, s"window $w $tpe: CMS can never undercount")
      }
    }
    // batch recompute with the same aggregate must agree exactly
    val batch = events.toDF("ts", "event_type")
      .filter(col("ts") < ts("2024-01-02 00:00:00"))
      .select(window(col("ts"), "1 hour").getField("start").as("w"),
        graft.llm.Sketches.cmsBuckets(col("event_type")).as("bk"))
      .groupBy("w")
      .agg(graft.functions.CmsSketch(col("bk"), CmsD, CmsW).as("cms"))
      .select(col("w") +: StreamOps.DqEventTypes.indices.map { i =>
        import graft.llm.TextHash.md5Long
        least((0 until CmsD).map(d =>
          element_at(col("cms"),
            (md5Long(concat(lit(s"cms$d:"),
              lit(StreamOps.DqEventTypes(i)))) % CmsW).cast("int")
              + lit(d * CmsW) + lit(1))): _*).as(s"e$i")
      }: _*)
      .orderBy("w").collect()
      .map(r => (r.getTimestamp(0).toString,
        StreamOps.DqEventTypes.indices.map(i => r.getLong(i + 1))))
    assert(got.toSeq == batch.toSeq)
  }

  test("mixTempStream admits exactly the docs the batch mix keeps") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // rates frozen from the corpus snapshot, as a deployment would persist
    val rates = graft.llm.Curation.mixTempRates(spark, sf).cache()
    val delta = Tables.table(spark, sf, "documents")
      .select(col("doc_id"), col("source"))
      .orderBy("doc_id").limit(300)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val mem = MemoryStream[(Long, String)]
    mem.addData(delta)
    val q = StreamOps.mixTempStream(mem.toDF.toDF("doc_id", "source"), rates)
      .writeStream.format("memory").queryName("mixtemp")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val got = spark.table("mixtemp")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    // batch form restricted to the replayed ids must agree exactly
    val ids = delta.map(_._1).toSet
    val batch = graft.llm.Curation.sourceMixTemperature(spark, sf)
      .filter(col("doc_id").isin(ids.toSeq: _*))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == batch, "stream and batch mixture verdicts diverge")
    assert(got.nonEmpty && got.size < ids.size,
      "fixture should keep some and drop some, or the check is vacuous")
    rates.unpersist()
    spark.catalog.clearCache()
  }

  test("semDedupStream flags delta near-twins against the frozen cluster index") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val (cents0, base0) = graft.llm.Similarity.semDedupIndex(spark, sf)
    val cents = cents0.cache()
    val base = base0.cache()
    // delta: verbatim copies of two base vectors (cos 1.0 against their
    // originals, same cluster by construction) + the originals' ids offset
    val planted = Tables.table(spark, sf, "embeddings")
      .orderBy("vec_id").limit(2)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble)))
    val delta = planted.zipWithIndex.map { case ((_, v), i) =>
      (9000001L + i, v.toSeq)
    }.toSeq
    val mem = MemoryStream[(Long, Seq[Double])]
    mem.addData(delta)
    val q = StreamOps.semDedupStream(
        mem.toDF.toDF("vec_id", "embedding"), cents, base)
      .writeStream.format("memory").queryName("semdedupstream")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val got = spark.table("semdedupstream")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // each planted copy must hit its own original at cosine exactly 1.0
    planted.zipWithIndex.foreach { case ((origId, _), i) =>
      assert(got.exists(g => g._1 == 9000001L + i && g._2 == origId && g._3 == 1.0),
        s"planted copy of $origId not matched at 1.0: ${got.take(5).mkString(", ")}")
    }
    // every emitted pair clears the threshold
    assert(got.forall(_._3 >= graft.llm.Similarity.SemDedupThreshold))
    // and the stream agrees with the same logic run as a plain batch
    val batch = StreamOps.semDedupStream(
        delta.toDF("vec_id", "embedding"), cents, base)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == batch, "stream and batch probes diverge")
    spark.catalog.clearCache()
  }

  test("bpeTokenizeStream token rows fold to the batch per-doc counts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val vocab = graft.llm.TextAnalysis.encodedVocab(spark, sf).cache()
    // stream a slice of the real corpus through the frozen vocabulary
    val docs = Tables.table(spark, sf, "documents")
      .orderBy("doc_id").limit(5)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val mem = MemoryStream[(Long, String)]
    mem.addData(docs)
    val q = StreamOps.bpeTokenizeStream(
        mem.toDF.toDF("doc_id", "text"), vocab)
      .writeStream.format("memory").queryName("bpetokstream")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val got = spark.table("bpetokstream").collect()
      .map(r => (r.getLong(0), r.getInt(2).toLong))
      .groupBy(_._1)
      .map { case (id, rs) => (id, rs.length.toLong, rs.map(_._2).sum) }
      .toSet
    // the downstream fold of the token rows IS the batch operator's row
    val want = graft.llm.TextAnalysis.bpeTokenizeCorpus(spark, sf)
      .filter(col("doc_id").isin(docs.map(_._1): _*)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want, s"stream fold ${got.take(3)} vs batch ${want.take(3)}")
    spark.catalog.clearCache()
  }

  test("bm25ProbeStream contributions fold to the batch indexed retrieval") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the frozen serving artifact: the denormalized posting table
    val idx = graft.llm.TextAnalysis.bm25Index(spark, sf).cache()
    // stream the standing query workload as (query_id, term) rows
    val qrows = graft.llm.TextAnalysis.Bm25Queries
      .flatMap { case (q, ts) => ts.map(t => (q, t)) }
    val mem = MemoryStream[(Int, String)]
    mem.addData(qrows)
    val q = StreamOps.bm25ProbeStream(
        mem.toDF.toDF("query_id", "term"), idx)
      .writeStream.format("memory").queryName("bm25probestream")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    // downstream batch fold: per-(query, doc) decimal sum → rank → top-k
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sd").desc, col("doc_id"))
    val got = spark.table("bm25probestream")
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("s9")).as("sd"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= graft.llm.TextAnalysis.Bm25TopK)
      .select(col("query_id"), col("rk").cast("int"), col("doc_id"),
        col("sd").cast("double"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val want = graft.llm.TextAnalysis.bm25Indexed(spark, sf).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got == want,
      s"stream fold ${got.take(3)} vs batch ${want.take(3)}")
    spark.catalog.clearCache()
  }

  test("incrementalDedupStream probes the static index without state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // base corpus = harness docs; the index is what deployment persists
    val base = Tables.table(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"))
    val index = graft.llm.Dedup.minhashIndex(base).cache()
    // delta: two verbatim copies of base docs (est_jac = 1.0 against their
    // originals) and one fresh unseen document
    val planted = base.orderBy("doc_id").limit(2)
      .collect().map(_.getString(1))
    val delta = Seq(
      (1000001L, planted(0)),
      (1000002L, planted(1)),
      (1000003L, "zxq wvu tsr qpo nml kji hgf edc ba9 876"))
    val mem = MemoryStream[(Long, String)]
    mem.addData(delta)
    val q = StreamOps.incrementalDedupStream(
        mem.toDF.toDF("doc_id", "text"), index)
      .writeStream.format("memory").queryName("incdedup")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val got = spark.table("incdedup")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // each planted copy must hit its original at estimate 1.0...
    for ((id, orig) <- Seq(1000001L, 1000002L).zipWithIndex) {
      assert(got.exists(g => g._1 == id && g._3 == 1.0),
        s"planted copy $id not matched: ${got.mkString(", ")}")
    }
    // ...each (delta, base) pair appears ONCE (first-agreeing-band dedup,
    // no streaming distinct)
    val pairs = got.map(g => (g._1, g._2))
    assert(pairs.distinct.length == pairs.length, "pair emitted more than once")
    // the unseen doc matches nothing
    assert(!got.exists(_._1 == 1000003L))
    // and the stream agrees with the same logic run as a plain batch
    val batch = StreamOps.incrementalDedupStream(
        delta.toDF("doc_id", "text"), index)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got.toSet == batch, "stream and batch forms diverge")
    index.unpersist()
  }

  test("textDriftStream probes the frozen base distribution row-locally") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val probs = graft.llm.Curation.driftBaseProbs(spark, dir).cache()
    val probMap = probs.collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    // delta: one real base document (typical) and one alien-vocabulary
    // document (every feature lands in some bucket, but its tokens are
    // new — low typicality is the expected verdict, not a drop)
    val planted = Tables.table(spark, dir, "documents")
      .orderBy("doc_id").limit(1).collect().head.getAs[String]("text")
    val delta = Seq((2000001L, planted),
      (2000002L, "zxq wvu tsr qpo nml kji hgf edc"))
    val mem = MemoryStream[(Long, String)]
    mem.addData(delta)
    val q = StreamOps.textDriftStream(
        mem.toDF.toDF("doc_id", "text"), probs)
      .writeStream.format("memory").queryName("textdrift")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val got = spark.table("textdrift").collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got.size == 2)
    // pure-Scala recompute from the artifact map for both documents
    delta.foreach { case (id, text) =>
      val toks = text.split("\\s+", -1).toSeq
      val fs = toks.map("u:" + _) ++
        toks.zip(toks.drop(1)).map { case (a, b) => s"b:$a $b" }
      val bks = fs.map { f =>
        val d = java.security.MessageDigest.getInstance("MD5")
          .digest(("dsir:" + f).getBytes("UTF-8"))
        java.lang.Long.parseLong(d.take(4).map(x => f"$x%02x").mkString, 16) %
          graft.llm.Curation.DsirBuckets
      }
      val typSum = bks.map(b => probMap.getOrElse(b, 0L)).sum
      val unseen = bks.count(b => !probMap.contains(b)).toLong
      assert(got(id) == ((fs.length.toLong, typSum,
        typSum / fs.length, unseen)), s"doc $id: ${got(id)}")
    }
    // the batch run of the same operator agrees row-for-row
    val batch = StreamOps.textDriftStream(delta.toDF("doc_id", "text"), probs)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got == batch, "stream and batch forms diverge")
    // the planted base doc must read as more typical than the alien one
    assert(got(2000001L)._3 > got(2000002L)._3,
      "a verbatim base document must out-score alien vocabulary")
    probs.unpersist()
    spark.catalog.clearCache()
  }

  test("lmScoreStream folds to the batch lmScore rows over the frozen model") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val (c12, c1, vx) = graft.llm.Curation.lmModel(spark, dir)
    val mc12 = c12.cache(); val mc1 = c1.cache(); val mvx = vx.cache()
    mc12.count(); mc1.count(); mvx.count()
    // stream the raw pool (what the batch scorer scores), split over two
    // micro-batches to exercise the stateless probe across triggers
    val pool = Tables.table(spark, dir, "documents")
      .filter(col("source") =!= graft.llm.Curation.DsirTargetSource)
      .select("doc_id", "lang", "text").orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    val mem = MemoryStream[(Long, String, String)]
    mem.addData(pool.take(pool.size / 2))
    mem.addData(pool.drop(pool.size / 2))
    val q = StreamOps.lmScoreStream(
        mem.toDF.toDF("doc_id", "lang", "text"), mc12, mc1, mvx)
      .writeStream.format("memory").queryName("lmprobe")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    // the downstream fold: per-document sum/count/floor-average
    val folded = spark.table("lmprobe")
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n"), sum(col("bits_q8")).as("sb"))
      .selectExpr("doc_id", "lang", "n", "sb", "(sb * 1000) div n AS ce")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    val batch = graft.llm.Curation.lmScore(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(folded == batch, "stream fold and batch scorer diverge")
    spark.catalog.clearCache()
  }

  test("noveltyStream folds to the batch ngramNovelty rows over the " +
      "frozen reference set") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val ref = graft.llm.Curation.noveltyRef(spark, dir).cache()
    ref.count()
    // stream the raw pool (what the batch scorer scores), split over two
    // micro-batches to exercise the stateless probe across triggers
    val pool = Tables.table(spark, dir, "documents")
      .filter(col("source") =!= graft.llm.Curation.DsirTargetSource)
      .select("doc_id", "lang", "text").orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    val mem = MemoryStream[(Long, String, String)]
    mem.addData(pool.take(pool.size / 2))
    mem.addData(pool.drop(pool.size / 2))
    val q = StreamOps.noveltyStream(
        mem.toDF.toDF("doc_id", "lang", "text"), ref)
      .writeStream.format("memory").queryName("noveltyprobe")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    // the downstream fold: per-document count / known-sum / floor-ratio
    val folded = spark.table("noveltyprobe")
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_grams"), sum(col("known")).as("n_known"))
      .selectExpr("doc_id", "lang", "n_grams", "n_known",
        "((n_grams - n_known) * 1000000) div n_grams AS novelty_x1e6")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    val batch = graft.llm.Curation.ngramNovelty(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(folded == batch, "stream fold and batch scorer diverge")
    ref.unpersist()
    spark.catalog.clearCache()
  }

  test("funnelStream advances stages across micro-batches like the batch build") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // user 1 walks the funnel across three batches (state restores each
    // time); the pre-signup view, duplicate signup, and out-of-funnel
    // user 2 rows must all be inert
    val b1 = Seq(
      (1L, "view", ts("2024-01-01 09:00:00"), 0L),   // before any signup
      (1L, "signup", ts("2024-01-01 10:00:00"), 1L),
      (2L, "view", ts("2024-01-01 10:01:00"), 2L))   // never signs up
    val b2 = Seq(
      (1L, "view", ts("2024-01-01 10:05:00"), 3L),
      (1L, "signup", ts("2024-01-01 10:06:00"), 4L), // t1 already set
      (2L, "purchase", ts("2024-01-01 10:07:00"), 5L))
    val b3 = Seq(
      (1L, "purchase", ts("2024-01-01 10:10:00"), 6L),
      (1L, "view", ts("2024-01-01 10:02:00"), 7L))   // straggler: t2 set
    val mem = MemoryStream[(Long, String, Timestamp, Long)]
    val q = StreamOps.funnelStream(spark,
        mem.toDF.toDF("user_id", "event_type", "ts", "event_id"))
      .writeStream.format("memory").queryName("funnels")
      .outputMode("append").start()
    try {
      mem.addData(b1); q.processAllAvailable()
      mem.addData(b2); q.processAllAvailable()
      mem.addData(b3); q.processAllAvailable()
    } finally q.stop()
    def us(s: String): Long = ts(s).getTime * 1000L
    val got = spark.table("funnels").orderBy("stage").collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        r.getInt(4)))
    assert(got.toSeq == Seq(
      (1L, Some(us("2024-01-01 10:00:00")), None, None, 1),
      (1L, Some(us("2024-01-01 10:00:00")),
        Some(us("2024-01-01 10:05:00")), None, 2),
      (1L, Some(us("2024-01-01 10:00:00")),
        Some(us("2024-01-01 10:05:00")),
        Some(us("2024-01-01 10:10:00")), 3)))
  }

  test("anomalyStream verdicts match the batch rows against frozen stats") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the frozen serving artifact: per-type (median, MAD) trained in batch
    val stats = graft.ops.AnalyticsOps.madStats(spark, sf).cache()
    // stream a slice of the real events, plus one event of a type the
    // stats table has never seen (must emit nothing)
    val evs = Tables.table(spark, sf, "events")
      .orderBy("event_id").limit(50)
      .select(col("event_id"), col("event_type"), col("value")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    val mem = MemoryStream[(Long, String, Double)]
    mem.addData(evs :+ (999999L, "unknown_type", 42.0))
    val q = StreamOps.anomalyStream(
        mem.toDF.toDF("event_id", "event_type", "value"), stats)
      .writeStream.format("memory").queryName("anomstream")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val got = spark.table("anomstream").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5))).toSet
    val want = graft.ops.AnalyticsOps.anomalyMad(spark, sf)
      .filter(col("event_id").isin(evs.map(_._1): _*)).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5))).toSet
    assert(got == want, s"stream ${got.take(3)} vs batch ${want.take(3)}")
    assert(!got.exists(_._1 == 999999L),
      "an unseen type must drop by the membership-join contract")
    spark.catalog.clearCache()
  }

  test("driftStream window counts bucket against the frozen bounds") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.ProfileOps
    val bounds = ProfileOps.driftBounds(spark, sf).cache()
    val mc = bounds.head().getLong(0)
    // a slice of the real events plus a far-future flush to close windows
    val evs = Tables.table(spark, sf, "events")
      .orderBy("event_id").limit(200)
      .select(col("ts"), col("event_type"), col("value")).collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getDouble(2))).toSeq
    val flush = (ts("2030-01-01 00:00:00"), "flush", 0.0)
    val mem = MemoryStream[(Timestamp, String, Double)]
    mem.addData(evs :+ flush)
    val q = StreamOps.driftStream(
        mem.toDF.toDF("ts", "event_type", "value"), bounds)
      .writeStream.format("memory").queryName("driftstream")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val got = spark.table("driftstream")
      .filter(col("event_type") =!= "flush").collect()
      .map(r => ((r.getTimestamp(0).getTime, r.getString(1), r.getLong(2)),
        r.getLong(3))).toMap
    // replay: hour-truncate, bucket with the SAME bin arithmetic
    def bin(v: Double): Long = {
      val cents = math.round(v * 100)
      math.min(ProfileOps.DriftBins - 1L,
        cents * ProfileOps.DriftBins / (mc + 1))
    }
    val want = evs.groupBy(e =>
        (e._1.getTime / 3600000L * 3600000L, e._2, bin(e._3)))
      .map { case (k, es) => k -> es.size.toLong }
    assert(got == want, s"stream ${got.take(3)} vs replay ${want.take(3)}")
    // real bucket spread, not one degenerate bin
    assert(got.keys.map(_._3).toSet.size > 1)
    spark.catalog.clearCache()
  }

  test("intervalJoinStream emits exactly the batch attribution pairs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // enough real events that views and clicks genuinely interleave
    val evs = Tables.table(spark, sf, "events")
      .filter(col("event_type").isin("view", "click"))
      .orderBy("event_id").limit(400)
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2), r.getString(3)))
      .toSeq
    val vmem = MemoryStream[(Long, Long, Timestamp)]
    val cmem = MemoryStream[(Long, Long, Timestamp)]
    vmem.addData(evs.filter(_._4 == "view").map(e => (e._1, e._2, e._3)))
    cmem.addData(evs.filter(_._4 == "click").map(e => (e._1, e._2, e._3)))
    val q = StreamOps.intervalJoinStream(
        vmem.toDF.toDF("event_id", "user_id", "ts"),
        cmem.toDF.toDF("event_id", "user_id", "ts"))
      .writeStream.format("memory").queryName("ivjoin")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val got = spark.table("ivjoin").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    // the batch operator on the same rows (the q_j9_interval semantics)
    val views = evs.filter(_._4 == "view")
      .map(e => (e._1, e._2, e._3.getTime * 1000L))
      .toDF("view_id", "user_id", "v_us")
    val clicks = evs.filter(_._4 == "click")
      .map(e => (e._1, e._2, e._3.getTime * 1000L))
      .toDF("click_id", "c_user", "c_us")
    val want = graft.ops.IntervalOps.intervalJoinMicros(views, clicks,
        StreamOps.IntervalJoinWindowSeconds * 1000000L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == want, s"stream ${got.take(3)} vs batch ${want.take(3)}")
    assert(got.nonEmpty, "the slice must produce real attribution pairs")
  }
}
