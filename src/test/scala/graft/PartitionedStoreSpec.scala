package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.PartitionedStore

/** Partition pruning and dynamic partition overwrite on the hive layout —
  * the two properties that make a 100 TB fact table readable and
  * incrementally writable. Asserted on the PLAN (PartitionFilters + the
  * files the scan actually selects), not just on results.
  */
class PartitionedStoreSpec extends AnyFunSuite with SharedSpark {

  private val dir = "/root/testdata/sf0.001"

  private lazy val tmp = Files.createTempDirectory("graft_part").toString

  override def afterAll(): Unit =
    try org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
    finally super.afterAll()

  private def events = PartitionedStore.eventsWithDay(
    Tables.table(spark, dir, "events"))

  test("a dt predicate prunes to the named partition's files only") {
    val path = s"$tmp/events_by_day"
    PartitionedStore.write(events, path, Seq("dt"))
    val day = events.select(max(col("dt"))).head().getDate(0)

    val scan = spark.read.parquet(path).filter(col("dt") === lit(day))
    val plan = scan.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*dt".r.findFirstIn(plan).isDefined,
      s"dt predicate should appear as a partition filter:\n${plan.take(1500)}")

    // execute THIS plan instance so its scan metrics populate, then check
    // the scan touched exactly the one partition's files (inputFiles can't
    // prove this — it lists the relation's files before pruning)
    val rows = scan.collect()
    val scanNode = scan.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    val filesRead = scanNode.metrics("numFiles").value
    def parquetFiles(d: java.io.File): Int =
      Option(d.listFiles()).getOrElse(Array.empty)
        .count(f => f.isFile && f.getName.endsWith(".parquet"))
    val inTarget = parquetFiles(new java.io.File(s"$path/dt=$day"))
    val total = Option(new java.io.File(path).listFiles())
      .getOrElse(Array.empty)
      .filter(d => d.isDirectory && d.getName.startsWith("dt="))
      .map(parquetFiles).sum
    assert(total > inTarget, "test data must span multiple partitions")
    assert(filesRead == inTarget,
      s"scan read $filesRead files; the dt=$day directory holds $inTarget — pruning must touch exactly that partition")

    val expected = events.filter(col("dt") === lit(day)).count()
    assert(rows.length.toLong == expected)
  }

  test("streamed micro-batches rewrite only the day partitions they touch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import java.sql.Timestamp
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val path = s"$tmp/events_stream"
    // epoch-exact construction: Timestamp.valueOf would use the JVM default
    // zone, while eventsWithDay derives dt from UTC epoch micros — on a
    // far-offset JVM zone the row would land on a different dt directory
    def row(id: Long, day: Int, v: Double) =
      (id, Timestamp.from(java.time.Instant.parse(f"2024-01-$day%02dT12:00:00Z")),
        1L, "view", v, "{}")
    // a fresh un-checkpointed stream per import job, as a scheduled
    // re-import would be — replaying the first stream would put both
    // versions of an event in one batch
    def runJob(rows: Seq[(Long, Timestamp, Long, String, Double, String)]): Unit = {
      val mem = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
      mem.addData(rows)
      val q = mem.toDF
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .writeStream
        .foreachBatch((b: org.apache.spark.sql.DataFrame, _: Long) =>
          graft.streaming.StreamOps.incrementalSyncPartitioned(b, path))
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
    }
    runJob(Seq(row(1, 1, 1.0), row(2, 2, 2.0)))
    val day1File = new java.io.File(s"$path/dt=2024-01-01")
      .listFiles().filter(_.getName.endsWith(".parquet")).head
    val mtimeBefore = day1File.lastModified()
    // second job touches only day 2 (refreshed value)
    runJob(Seq(row(2, 2, -2.0), row(3, 2, 3.0)))
    val after = spark.read.parquet(path)
    assert(after.count() == 3, "day-1 row must survive the day-2 rewrite")
    assert(after.filter(col("event_id") === 2).head().getDouble(4) == -2.0,
      "day-2 partition must carry the refreshed value")
    assert(day1File.exists() && day1File.lastModified() == mtimeBefore,
      "day-1 files must be physically untouched")
  }

  test("dynamic overwrite replaces present partitions and only those") {
    val path = s"$tmp/events_dyn"
    PartitionedStore.write(events, path, Seq("dt"))
    val total = spark.read.parquet(path).count()

    val days = events.select(col("dt")).distinct()
      .orderBy(col("dt")).collect().map(_.getDate(0))
    val target = days.head

    // rewrite ONE day with a marker value
    val patch = events.filter(col("dt") === lit(target))
      .withColumn("value", lit(-1.0))
    PartitionedStore.overwritePartitions(patch, path, Seq("dt"))

    val after = spark.read.parquet(path)
    assert(after.count() == total, "untouched partitions must survive")
    assert(after.filter(col("dt") === lit(target) && col("value") =!= -1.0).count() == 0,
      "target partition should be fully replaced")
    assert(after.filter(col("dt") =!= lit(target) && col("value") === -1.0).count() == 0,
      "non-target partitions must be untouched")
  }
}
