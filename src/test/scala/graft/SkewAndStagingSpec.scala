package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.SkewOps

/** Salted join/aggregation preserve results exactly; the staging queue
  * round-trip (K1/K2) is lossless.
  */
class SkewAndStagingSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sf = "/root/testdata/sf0.001"

  test("nullSkewLeftJoin equals the plain left join, nulls never enter the join") {
    import spark.implicits._
    val probe = Seq((1L, Option(10L)), (2L, None), (3L, Option(30L)),
      (4L, None), (5L, Option(99L))).toDF("id", "fk")
    val build = Seq((10L, "a"), (30L, "c")).toDF("k", "v")
    val got = SkewOps.nullSkewLeftJoin(probe, build, "fk", "k")
      .orderBy("id").collect()
      .map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(3))))
    val want = probe.join(build, col("fk") === col("k"), "left_outer")
      .orderBy("id").collect()
      .map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(3))))
    assert(got.toSeq == want.toSeq)
    // and the null rows really are present with null-extended build cols
    assert(got.count(_._2.isEmpty) == 2)
    assert(got.filter(_._2.isEmpty).forall(_._3.isEmpty))
  }

  test("ivm merged state equals the full recompute (monoid identity)") {
    import graft.ops.IncrementalOps
    val ev = Tables.table(spark, sf, "events")
      .select(col("event_id"), col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
    val full = ev.groupBy("event_type")
      .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("sum_cents"))
      .orderBy("event_type").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val got = IncrementalOps.ivmMergeAgg(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == full.toSeq)
    // the split is real: both sides contribute rows
    val deltaN = ev.filter(col("event_id") % IncrementalOps.DeltaModulus === 0).count()
    assert(deltaN > 0 && deltaN < ev.count())
  }

  test("saltedJoin equals the plain join") {
    val orders = Tables.table(spark, sf, "orders").select("o_orderkey", "o_custkey")
    val customer = Tables.table(spark, sf, "customer").select("c_custkey", "c_name")
    val plain = orders.join(customer, col("o_custkey") === col("c_custkey"))
      .select("o_orderkey", "c_name").collect().map(r => (r.getLong(0), r.getString(1))).sorted
    val salted = SkewOps.saltedJoin(orders, customer, "o_custkey", "c_custkey", salt = 8)
      .select("o_orderkey", "c_name").collect().map(r => (r.getLong(0), r.getString(1))).sorted
    assert(salted.toList == plain.toList)
  }

  test("ivm sketch: merged KMV equals the flat rebuild (union identity)") {
    import graft.llm.Sketches
    val got = graft.ops.IncrementalOps.ivmSketch(spark, sf).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3),
        r.getLong(4)))
    assert(got.nonEmpty)
    val md = java.security.MessageDigest.getInstance("MD5")
    def h(u: Long): Long = java.lang.Long.parseLong(
      md.digest(s"kmv:$u".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8), 16)
    val ev = Tables.table(spark, sf, "events")
      .select("event_type", "user_id").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val want = ev.groupBy(_._1).map { case (tpe, rows) =>
      val hashes = rows.map(r => h(r._2)).distinct.sorted
      val kmv = hashes.take(Sketches.KmvK)
      val est =
        if (kmv.length < Sketches.KmvK) kmv.length.toDouble
        else BigDecimal((Sketches.KmvK - 1) * Sketches.KmvHashSpace /
          kmv.last.toDouble)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      tpe -> (kmv.length, kmv.last, est, hashes.length.toLong)
    }
    got.foreach { case (tpe, n, mx, est, exact) =>
      assert((n, mx, est, exact) == want(tpe), s"type $tpe")
    }
  }

  test("erasure propagation: semi/anti counts replay; the cascade is transitive") {
    import graft.ops.PrivacyOps
    val got = PrivacyOps.erasurePropagation(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val subj = Tables.table(spark, sf, "customer")
      .select("c_custkey").collect().map(_.getLong(0))
      .filter(_ % PrivacyOps.ErasureModulus == 0).toSet
    val orders = Tables.table(spark, sf, "orders")
      .select("o_orderkey", "o_custkey").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val erasedOrders = orders.filter(o => subj(o._2)).map(_._1).toSet
    val custN = Tables.table(spark, sf, "customer").count()
    val evU = Tables.table(spark, sf, "events")
      .select("user_id").collect().map(_.getLong(0))
    val liO = Tables.table(spark, sf, "lineitem")
      .select("l_orderkey").collect().map(_.getLong(0))
    val want = Map(
      ("customer", "erase") -> subj.size.toLong,
      ("customer", "retain") -> (custN - subj.size),
      ("orders", "erase") -> orders.count(o => subj(o._2)).toLong,
      ("orders", "retain") -> orders.count(o => !subj(o._2)).toLong,
      ("events", "erase") -> evU.count(subj).toLong,
      ("events", "retain") -> evU.count(u => !subj(u)).toLong,
      ("lineitem", "erase") -> liO.count(erasedOrders).toLong,
      ("lineitem", "retain") -> liO.count(o => !erasedOrders(o)).toLong)
    assert(got == want)
    // the request set genuinely cascades: every table has erased rows,
    // including the TRANSITIVE lineitem tier
    assert(want.forall { case ((_, a), n) => a == "retain" || n > 0 })
  }

  test("bloomJoin equals the plain join and the pre-filter genuinely prunes") {
    import graft.functions.{BloomBuild, BloomContains}
    import graft.llm.TextHash.md5Long
    val fact = Tables.table(spark, sf, "orders")
      .select("o_orderkey", "o_custkey")
    val dim = Tables.table(spark, sf, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey", "c_name")
    val plain = fact.join(dim, col("o_custkey") === col("c_custkey"))
      .select("o_orderkey", "c_name").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted
    val bloomed = SkewOps.bloomJoin(fact, dim, "o_custkey", "c_custkey")
      .select("o_orderkey", "c_name").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted
    assert(bloomed.toList == plain.toList)
    // what the shuffle would carry: bloom survivors are a strict subset of
    // the fact (the point of the filter) but a superset of the true matches
    // (bloom errors are one-sided)
    val bloom = dim
      .select(md5Long(concat(lit("bj:"), col("c_custkey").cast("string"))).as("h"))
      .agg(BloomBuild(col("h"), 1 << 17, 5).as("bits"))
    val survivors = fact.crossJoin(broadcast(bloom))
      .filter(BloomContains(col("bits"),
        md5Long(concat(lit("bj:"), col("o_custkey").cast("string")))))
      .count()
    assert(survivors < fact.count(),
      "bloom pre-filter must cut shuffle input on the selective dim")
    assert(survivors >= plain.length.toLong,
      "bloom may never drop a true match")
  }

  test("saltedCount equals the plain groupBy count") {
    val orders = Tables.table(spark, sf, "orders")
    val plain = orders.groupBy("o_custkey").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val salted = SkewOps.saltedCount(orders, "o_custkey", salt = 8).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(salted == plain)
  }

  test("saltedStats equals the plain count+sum and survives different salts") {
    val ev = Tables.table(spark, sf, "events")
      .withColumn("cents", round(col("value") * 100).cast("long"))
    val plain = ev.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted
    for (salt <- Seq(2, 8, 32)) {
      val salted = SkewOps.saltedStats(ev, "event_type", "cents", salt)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted
      assert(salted.toList == plain.toList, s"salt=$salt diverged")
    }
  }

  test("SyncJob end-to-end: staged assembly equals direct assembly on published rows") {
    val staging = java.nio.file.Files.createTempDirectory("graft-syncjob").toString
    val result = SyncJob.run(spark, sf, staging)
    val viaJob = result.packages.select("o_orderkey", "name_slug", "owner_name")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).sorted
    val direct = SyncPipeline.packageFlat(spark, sf)
      .join(Tables.table(spark, sf, "orders").filter(col("o_orderstatus") === "F")
        .select("o_orderkey"), Seq("o_orderkey"), "left_semi")
      .select("o_orderkey", "name_slug", "owner_name")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).sorted
    assert(viaJob.nonEmpty)
    assert(viaJob.toList == direct.toList)
    assert(result.actions.count() > 0)
  }

  test("staging queue round-trip is lossless (K1 gather -> K2 import)") {
    val staging = java.nio.file.Files.createTempDirectory("graft-staging").toString
    SyncPipeline.gatherToStaging(spark, sf, staging)
    val (ok, errors) = SyncPipeline.importFromStagingWithErrors(spark, sf, staging)
    assert(errors.isEmpty, "a clean staging write must import without errors")
    val back = ok
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3))).sorted
    val orig = Tables.table(spark, sf, "orders")
      .filter(col("o_orderstatus") === "F")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3))).sorted
    assert(back.nonEmpty)
    assert(back.toList == orig.toList)
  }

  test("crash-injected staging: per-object errors reported, job continues, re-read idempotent") {
    // gather cleanly, then CORRUPT the staged snapshot the way real
    // harvests break: a payload truncated mid-write and an object that
    // lost its identity — and overwrite the queue with the dirty snapshot
    val staging = java.nio.file.Files.createTempDirectory("graft-crash").toString
    SyncPipeline.gatherToStaging(spark, sf, staging)
    val clean = spark.read.parquet(staging).cache()
    val total = clean.count()
    val dirty = clean.select(
      when(col("guid") % 17 === 0, lit(null)).otherwise(col("guid")).as("guid"),
      when(col("guid") % 13 === 0,
        expr("substring(content, 1, length(content) div 2)"))
        .otherwise(col("content")).as("content"))
    val staging2 = java.nio.file.Files.createTempDirectory("graft-crash2").toString
    dirty.write.mode("overwrite").parquet(staging2)
    clean.unpersist()
    val (ok, errors) = SyncPipeline.importFromStagingWithErrors(spark, sf, staging2)
    val errRows = errors.collect()
      .map(r => (Option(r.get(0)).map(_.toString.toLong), r.getString(1)))
    val okKeys = ok.select("guid").collect().map(_.getLong(0)).toSet
    // the job continued: ok + errors PARTITION the staged snapshot
    assert(okKeys.size + errRows.length == total)
    // every corrupted object is reported with the right class, nothing else
    errRows.foreach {
      case (None, e) => assert(e == "missing_guid")
      case (Some(k), e) =>
        assert(k % 13 == 0 && e == "parse_error", s"guid $k: $e")
    }
    assert(errRows.exists(_._2 == "missing_guid") &&
      errRows.exists(_._2 == "parse_error"), "both error classes must occur")
    assert(okKeys.forall(k => k % 13 != 0 && k % 17 != 0))
    // crash recovery: a second import of the SAME staged snapshot (the
    // re-run after a mid-import crash) reproduces both frames exactly
    val (ok2, errors2) = SyncPipeline.importFromStagingWithErrors(spark, sf, staging2)
    assert(ok2.select("guid").collect().map(_.getLong(0)).toSet == okKeys)
    assert(errors2.count() == errRows.length)
    // and the assembled pipeline runs end-to-end over the ok subset
    val packages = SyncPipeline.assembled(spark, sf, Some(ok.drop("guid")))
    assert(packages.count() == okKeys.size)
  }

  test("AQE skew-join splitting engages on the GenSkew hot-key shape") {
    // the exact collapse predicate GenSkew materializes: half of orders
    // re-point at the head customer — the worst single-hot-key join shape
    val hc = Tables.table(spark, sf, "customer")
      .agg(min(col("c_custkey").cast("long"))).head().getLong(0)
    // AQE splits a skewed reduce partition at MAP-output granularity — a
    // single-map-task scan (one small parquet file) leaves nothing to
    // split, so spread the scan over 16 map tasks first (at real scale
    // the thousands of input splits provide this for free)
    val orders = Tables.table(spark, sf, "orders")
      .repartition(16, col("o_orderkey"))
      .withColumn("o_custkey",
        GenSkew.collapse(col("o_orderkey"), col("o_custkey"), hc))
    val customer = Tables.table(spark, sf, "customer")
    // thresholds scaled to the fixture (the defaults are 256 MB — sized
    // for the production shuffle this fixture stands in for); asserting
    // the MECHANISM needs fixture-sized limits, same knobs, same code path
    val knobs = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.forceApply" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1k",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "512b",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> "8")
    val saved = knobs.map { case (k, _) =>
      // conf.get returns null (not an exception) for an unset key with no
      // string default — normalize both shapes to None
      k -> (try Option(spark.conf.get(k)) catch { case _: Exception => None })
    }
    knobs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val j = orders.join(customer, col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("c_name"))
      // execute THIS dataset (count() would build its own QueryExecution
      // and leave j's adaptive plan unfinalized)
      assert(j.collect().length == Tables.table(spark, sf, "orders").count(),
        "hot-key collapse must not change the join cardinality")
      // after execution the adaptive plan is final: the SMJ must carry the
      // skew marker (AQE split the hot partition instead of sorting it on
      // one reducer)
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE skew-join did not engage; final plan:\n${plan.take(3000)}")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("bucketedRangeFrame equals the plain range window on the hot-key shape") {
    import org.apache.spark.sql.expressions.Window
    import graft.ops.CoreOps.RangeFrameMicros
    // the skewed key: half the events on the head user (GenSkew's shape)
    val hu = Tables.table(spark, sf, "customer")
      .agg(min(col("c_custkey").cast("long"))).head().getLong(0)
    val ev = Tables.table(spark, sf, "events")
      .withColumn("user_id",
        GenSkew.collapse(col("event_id"), col("user_id"), hu))
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("us"),
        round(col("value") * 100).cast("bigint").as("cents"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"))
      .rangeBetween(-RangeFrameMicros, 0)
    val plain = ev
      .withColumn("n_1h", count(lit(1)).over(w))
      .withColumn("sum_1h_cents", sum(col("cents")).over(w))
      .select("event_id", "n_1h", "sum_1h_cents").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    val bucketed = SkewOps.bucketedRangeFrame(ev, "user_id", RangeFrameMicros)
      .select("event_id", "n_1h", "sum_1h_cents").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(bucketed.toSeq == plain.toSeq,
      "bucketed decomposition diverged from the single-window frame")
    // non-vacuous: frames genuinely cross bucket boundaries (some event's
    // count exceeds its within-bucket rank would be hard to read back —
    // instead assert at least one frame holds rows from a previous bucket
    // by recomputing one event's frame directly)
    val rows = ev.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getLong(2), r.getLong(3)))
    val crossing = rows.exists { case (_, u, us, _) =>
      rows.exists { case (_, u2, us2, _) =>
        u2 == u && us2 >= us - RangeFrameMicros && us2 < (us / RangeFrameMicros) * RangeFrameMicros
      }
    }
    assert(crossing, "fixture has no cross-bucket frame — the test is vacuous")
  }

  test("bucketedRangeFrame: boundary and tie semantics match RANGE exactly") {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    // crafted micros: exact-boundary row (us - W), ties at the current
    // row, ties at the boundary, and a row one past the horizon
    val W = 1000L
    val ev = Seq(
      (1L, "k", 0L, 10L), // boundary candidate for us=1000
      (2L, "k", 0L, 20L), // tie at the boundary
      (3L, "k", 500L, 30L),
      (4L, "k", 1000L, 40L), // frame = [0, 1000]: all of 1,2,3,4,5
      (5L, "k", 1000L, 50L), // peer of 4 — shares its frame
      (6L, "k", 2001L, 60L), // frame = [1001, 2001]: only itself
      (7L, "x", 900L, 70L) // other key, never mixes
    ).toDF("event_id", "key", "us", "cents")
    val w = Window.partitionBy(col("key")).orderBy(col("us"))
      .rangeBetween(-W, 0)
    val plain = ev
      .withColumn("n_1h", count(lit(1)).over(w))
      .withColumn("sum_1h_cents", sum(col("cents")).over(w))
      .select("event_id", "n_1h", "sum_1h_cents").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    val bucketed = SkewOps.bucketedRangeFrame(ev, "key", W)
      .select("event_id", "n_1h", "sum_1h_cents").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(bucketed.toSeq == plain.toSeq)
    // and pin the known answers so BOTH plans are checked against intent,
    // not just each other: event 4's frame holds all five rows incl. the
    // inclusive boundary ties at us=0
    val byId = bucketed.map(t => t._1 -> (t._2, t._3)).toMap
    assert(byId(4L) == ((5L, 150L)), s"event 4 frame: ${byId(4L)}")
    assert(byId(5L) == ((5L, 150L)))
    assert(byId(6L) == ((1L, 60L)))
    assert(byId(7L) == ((1L, 70L)))
  }

  test("bucketedRowsFrame equals the plain 5-row window on the hot-key shape") {
    import org.apache.spark.sql.expressions.Window
    import graft.ops.CoreOps.RangeFrameMicros
    val hu = Tables.table(spark, sf, "customer")
      .agg(min(col("c_custkey").cast("long"))).head().getLong(0)
    val ev = Tables.table(spark, sf, "events")
      .withColumn("user_id",
        GenSkew.collapse(col("event_id"), col("user_id"), hu))
      .select(col("event_id"), col("user_id"), col("ts"),
        round(col("value") * 100).cast("long").as("cents"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id")).rowsBetween(-4, 0)
    val plain = ev
      .withColumn("win_n", count(lit(1)).over(w))
      .withColumn("win_sum_cents", sum(col("cents")).over(w))
      .select("event_id", "win_n", "win_sum_cents").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    val bucketed = SkewOps.bucketedRowsFrame(ev, "user_id", 5, RangeFrameMicros)
      .select("event_id", "win_n", "win_sum_cents").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(bucketed.toSeq == plain.toSeq,
      "bucketed ROWS decomposition diverged from the single-window frame")
    // non-vacuous: some frame crosses a bucket boundary — the hot user
    // has far more than 5 rows per bucket, so check a SPARSE user whose
    // win_n exceeds its within-bucket rank
    val crossing = SkewOps
      .bucketedRowsFrame(ev, "user_id", 5, RangeFrameMicros)
      .withColumn("__b", expr(s"unix_micros(ts) div ${RangeFrameMicros}L"))
      .withColumn("__r", org.apache.spark.sql.functions.row_number().over(
        Window.partitionBy(col("user_id"), col("__b"))
          .orderBy(col("ts"), col("event_id"))))
      .filter(col("win_n") > col("__r")).count()
    assert(crossing > 0, "no frame crossed a bucket boundary — vacuous")
  }

  test("bucketedRowsFrame: sparse buckets, short histories and ties match ROWS exactly") {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    // crafted micros, frame = 3, bucket W = 1000 us:
    //  - user k: the us=7000 row's two predecessors live in TWO different
    //    earlier buckets (b1, b0) — the tail-suffix stitch must span
    //    multiple buckets, not just the previous one;
    //  - user m: a 4-row bucket keeps only its last 2 rows as tails; the
    //    us=2500 row's frame must take exactly those (100, 200 excluded);
    //  - user s: 2-row history — frame shorter than the window;
    //  - ties: k's us=0 pair resolves by event_id on both plans.
    val W = 1000L
    val mk = (id: Long, u: String, us: Long, c: Long) => (id, u, us, c)
    val raw = Seq(
      mk(1L, "k", 0L, 10L), mk(2L, "k", 0L, 20L), // b0, tie on ts
      mk(3L, "k", 1500L, 30L), // b1
      mk(4L, "k", 7000L, 40L), // b7: frame = {3, 2, 4}'s cents? no — last 2 before are 2(b0),3(b1)
      mk(5L, "m", 100L, 1L), mk(6L, "m", 200L, 2L),
      mk(7L, "m", 300L, 4L), mk(8L, "m", 400L, 8L), // b0 of m: 4 rows
      mk(9L, "m", 2500L, 16L), // b2: frame = {7, 8, 9}
      mk(10L, "s", 50L, 100L), mk(11L, "s", 5000L, 200L) // short history
    )
    val ev = raw.toDF("event_id", "key", "us", "cents")
      .select(col("event_id"), col("key"),
        expr("timestamp_micros(us)").as("ts"), col("cents"))
    val w = Window.partitionBy(col("key"))
      .orderBy(col("ts"), col("event_id")).rowsBetween(-2, 0)
    val plain = ev
      .withColumn("win_n", count(lit(1)).over(w))
      .withColumn("win_sum_cents", sum(col("cents")).over(w))
      .select("event_id", "win_n", "win_sum_cents").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    val bucketed = SkewOps.bucketedRowsFrame(ev, "key", 3, W)
      .select("event_id", "win_n", "win_sum_cents").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(bucketed.toSeq == plain.toSeq)
    // pin the intended answers so both plans are checked against intent:
    val byId = bucketed.map(t => t._1 -> (t._2, t._3)).toMap
    assert(byId(4L) == ((3L, 90L)), s"multi-bucket stitch: ${byId(4L)}") // 20+30+40
    assert(byId(9L) == ((3L, 28L)), s"tail selection: ${byId(9L)}") // 4+8+16
    assert(byId(10L) == ((1L, 100L)))
    assert(byId(11L) == ((2L, 300L)))
    assert(byId(2L) == ((2L, 30L)), s"tie order: ${byId(2L)}") // 10+20
  }

  test("bucketedSessionize equals the plain per-key window on the hot-key shape") {
    import org.apache.spark.sql.expressions.Window
    import graft.ops.CoreOps.RangeFrameMicros
    val gap = graft.streaming.StreamOps.SessionGapMinutes * 60L
    val hu = Tables.table(spark, sf, "customer")
      .agg(min(col("c_custkey").cast("long"))).head().getLong(0)
    val ev = Tables.table(spark, sf, "events")
      .withColumn("user_id",
        GenSkew.collapse(col("event_id"), col("user_id"), hu))
      .select(col("event_id"), col("user_id"), col("ts"))
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val plain = ev
      .withColumn("session_id", sum(
        when(col("ts").cast("long") -
          lag(col("ts"), 1).over(byUser).cast("long") > gap, 1L)
          .otherwise(lit(0L))).over(byUser))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"), max(col("ts")).as("session_end"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getTimestamp(3), r.getTimestamp(4))).sortBy(t => (t._1, t._2))
    val bucketed = SkewOps
      .bucketedSessionize(ev, "user_id", gap, RangeFrameMicros)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getTimestamp(3), r.getTimestamp(4))).sortBy(t => (t._1, t._2))
    assert(bucketed.toSeq == plain.toSeq,
      "bucketed sessionize diverged from the single-window form")
    // non-vacuous: some session must SPAN a bucket boundary, or the
    // carry machinery was never exercised
    val crossing = bucketed.count(t =>
      t._4.getTime / (RangeFrameMicros / 1000L) !=
        t._5.getTime / (RangeFrameMicros / 1000L))
    assert(crossing > 0, "no session crossed a bucket boundary — vacuous")
  }

  test("bucketedSessionize: sparse buckets, exact-gap ties and carries match the window") {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    // crafted seconds, gap = 8 s, bucket W = 5 s:
    //  - user k: a session spans b0→b1→b2 without a split (deltas ≤ 5),
    //    then a 19 s gap lands the split FOUR buckets later (b6) — the
    //    carry must reach across empty buckets;
    //  - user m: delta EXACTLY the gap (8 s) across a bucket boundary —
    //    strictly-greater semantics must keep one session, then 9 s
    //    splits;
    //  - user s: single event — one session, id 0;
    //  - user k's tie pair (same ts) resolves by event_id on both plans.
    val W = 5000000L // 5 s in micros
    val gap = 8L
    val raw = Seq(
      (1L, "k", 0L), (2L, "k", 1L), (3L, "k", 1L), (4L, "k", 4L),
      (5L, "k", 6L), (6L, "k", 11L), (7L, "k", 30L),
      (8L, "m", 0L), (9L, "m", 8L), (10L, "m", 17L),
      (11L, "s", 42L))
    val ev = raw.toDF("event_id", "key", "sec")
      .select(col("event_id"), col("key"),
        expr("timestamp_micros(sec * 1000000)").as("ts"))
    val byKey = Window.partitionBy(col("key"))
      .orderBy(col("ts"), col("event_id"))
    val plain = ev
      .withColumn("session_id", sum(
        when(col("ts").cast("long") -
          lag(col("ts"), 1).over(byKey).cast("long") > gap, 1L)
          .otherwise(lit(0L))).over(byKey))
      .groupBy(col("key"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"), max(col("ts")).as("session_end"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getTimestamp(3).getTime / 1000L, r.getTimestamp(4).getTime / 1000L))
      .sortBy(t => (t._1, t._2))
    val bucketed = SkewOps.bucketedSessionize(ev, "key", gap, W)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getTimestamp(3).getTime / 1000L, r.getTimestamp(4).getTime / 1000L))
      .sortBy(t => (t._1, t._2))
    assert(bucketed.toSeq == plain.toSeq)
    // pin the intended answers so both plans are checked against intent:
    val byKeySid = bucketed.map(t => (t._1, t._2) -> (t._3, t._4, t._5)).toMap
    assert(byKeySid(("k", 0L)) == ((6L, 0L, 11L)),
      s"cross-bucket session: ${byKeySid(("k", 0L))}")
    assert(byKeySid(("k", 1L)) == ((1L, 30L, 30L)),
      s"split after empty buckets: ${byKeySid(("k", 1L))}")
    assert(byKeySid(("m", 0L)) == ((2L, 0L, 8L)),
      s"delta == gap must NOT split: ${byKeySid(("m", 0L))}")
    assert(byKeySid(("m", 1L)) == ((1L, 17L, 17L)))
    assert(byKeySid(("s", 0L)) == ((1L, 42L, 42L)))
  }

  test("salted paths stay exact on the GenSkew hot-key shape") {
    // the salted mitigation must keep bit-exact results ON the data shape
    // it exists for — half the events collapsed onto the head user
    val hu = Tables.table(spark, sf, "customer")
      .agg(min(col("c_custkey").cast("long"))).head().getLong(0)
    val ev = Tables.table(spark, sf, "events")
      .withColumn("user_id",
        GenSkew.collapse(col("event_id"), col("user_id"), hu))
      .select(col("user_id"), col("event_type"),
        round(col("value") * 100).cast("bigint").as("cents"))
    val plain = ev.groupBy("user_id")
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val salted = SkewOps.saltedStats(ev, "user_id", "cents", salt = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(salted == plain, "salted agg diverged on the hot-key shape")
    // and the hot key is genuinely hot — the mitigation was exercised,
    // not vacuous
    val hot = plain.find(_._1 == hu).map(_._2).getOrElse(0L)
    val total = plain.toSeq.map(_._2).sum
    assert(hot * 2 >= total, s"head user holds $hot of $total rows — not hot")
  }
}
