package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** [[Bench]]'s timed run counts the cache entries a query leaves behind,
  * repeated runs of a query do the same work, and a Bench run ends with
  * its per-query lines and then the compact total, after the full line
  * that carries the streaming section.
  */
class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("a timed run reports the cache entries it left: 1 for a cached query, 0 for a clean one") {
    val metrics = Metrics.attach(spark.sparkContext)
    def noop(cache: Boolean) = {
      val df = spark.range(100).selectExpr("id * 2 AS x")
      (if (cache) df.cache() else df).write.format("noop").mode("overwrite").save()
    }
    val leaky = Bench.timed(spark, metrics, "leaky")(noop(cache = true))
    assert(leaky.leaked == 1)
    assert(spark.sharedState.cacheManager.isEmpty, "the timed run clears the cache")
    val clean = Bench.timed(spark, metrics, "clean")(noop(cache = false))
    assert(clean.leaked == 0)
    assert(leaky.sec.nonEmpty && clean.sec.nonEmpty)
    assert(clean.metrics.jobs > 0 && clean.metrics.counters.tasks > 0)
    val failed = Bench.timed(spark, metrics, "failed")(sys.error("boom"))
    assert(failed.sec.isEmpty)
  }

  test("repeated timed runs of a query do the same work: q_bpe_encode retrains each run") {
    val dir = java.nio.file.Files.createTempDirectory("bench_same_work").toString
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .write.parquet(s"$dir/documents.parquet")
    val metrics = Metrics.attach(spark.sparkContext)
    def run() = Bench.timed(spark, metrics, "q_bpe_encode") {
      SparkEntry.queries("q_bpe_encode")(spark, dir)
        .write.format("noop").mode("overwrite").save()
    }
    val (first, second) = (run(), run())
    assert(first.sec.nonEmpty && second.sec.nonEmpty)
    assert(first.metrics.jobs > 0)
    assert(second.metrics.jobs == first.metrics.jobs,
      "the second run did less work than the first")
  }

  test("the per-query lines follow the full line and the compact total is last") {
    val out = java.nio.file.Files.createTempFile("bench_out", ".json")
    val err = java.nio.file.Files.createTempFile("bench_err", ".log")
    try {
      val cmd = Seq(s"${System.getProperty("java.home")}/bin/java") ++
        GraftSession.addOpens ++ Seq("-Xmx1g", "-cp",
          System.getProperty("java.class.path"), "graft.Bench")
      val pb = new ProcessBuilder(cmd: _*).redirectError(err.toFile)
      Seq("SPARK_GRAFT_SF_DIR" -> "/root/testdata/sf0.001", "SPARK_GRAFT_CPUS" -> "2",
        "SPARK_GRAFT_BENCH_RUNS" -> "1", "SPARK_GRAFT_BENCH_OUT" -> out.toString,
        "SPARK_GRAFT_BENCH_ONLY" -> "q_s4_point_lookup,q_inverted_index")
        .foreach { case (k, v) => pb.environment().put(k, v) }
      val proc = pb.start()
      val stdout = new String(proc.getInputStream.readAllBytes())
      val log = new String(java.nio.file.Files.readAllBytes(err))
      assert(proc.waitFor() == 0, s"bench JVM failed:\n${log.takeRight(4000)}")
      val lines = stdout.split("\n").toSeq.filter(_.startsWith("{"))
      val nodes = lines.map(Json.parse)
      val full = nodes.indexWhere(_.has("streaming"))
      assert(full > 0, stdout)
      val perQuery = lines.take(full).filter(l => Json.parse(l).has("q"))
      assert(perQuery.map(Json.parse(_).path("q").asText) ==
        Seq("q_inverted_index", "q_s4_point_lookup", "probe:q_inverted_index"))
      // after the full line: the same per-query lines, then the total
      assert(lines.slice(full + 1, lines.size - 1) == perQuery)
      assert(lines.last == lines(full - 1) && nodes.last.path("metric").asText == "total")
      assert(!nodes.last.has("queries"))
      perQuery.map(Json.parse).foreach { q =>
        Seq("sec", "min", "leaked", "jobs", "stages", "tasks", "cpu_ms",
          "shuffle_write_rows").foreach(k => assert(q.has(k), s"$k missing in $q"))
      }
      val saved = Json.parse(new String(java.nio.file.Files.readAllBytes(out)))
      assert(saved.path("metrics").path("q_s4_point_lookup").path("by_stage").isArray)
      assert(saved.path("leaks").has("build:bm25"))
    } finally {
      java.nio.file.Files.deleteIfExists(out)
      java.nio.file.Files.deleteIfExists(err)
    }
  }
}
