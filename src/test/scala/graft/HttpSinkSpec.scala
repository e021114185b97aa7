package graft

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentHashMap, Executors}
import java.util.concurrent.atomic.AtomicInteger
import java.util.regex.Pattern

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.sources.HttpSink
import scala.jdk.CollectionConverters._

/** K3-K5 over the REST tier, against an in-process HTTP server standing in
  * for the CKAN action API — the same substitution JdbcSpec makes with
  * embedded Derby for the MySQL target. The fake implements the semantics
  * the sink routes on (200 / 409 exists / 404 missing / injectable 5xx), so
  * the spec exercises create, update, delete, both idempotent fallbacks,
  * bounded retry, and retry exhaustion, plus the full SyncJob.push wiring
  * on real testdata.
  */
class HttpSinkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Minimal CKAN-action-API stand-in: POST {base}/{entity}_{verb}, state
    * keyed by the configured id field, CKAN-shaped status codes.
    */
  final class FakeCkan(idField: String) {
    val store = new ConcurrentHashMap[String, String]()
    val hits = new ConcurrentHashMap[String, AtomicInteger]()
    /** While > 0, every request burns one unit and answers 503. */
    val failNext = new AtomicInteger(0)

    private val idRx = Pattern.compile(
      "\"" + Pattern.quote(idField) + "\"\\s*:\\s*(?:\"([^\"]*)\"|([0-9Ee.+-]+))")

    private def idOf(body: String): Option[String] = {
      val m = idRx.matcher(body)
      if (m.find()) Option(m.group(1)).orElse(Option(m.group(2))) else None
    }

    private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.setExecutor(Executors.newFixedThreadPool(8))

    def url: String = s"http://127.0.0.1:${server.getAddress.getPort}/api/3/action"

    private def handle(verb: String)(ex: HttpExchange): Unit = {
      hits.computeIfAbsent(verb, _ => new AtomicInteger(0)).incrementAndGet()
      val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      val status =
        if (failNext.getAndUpdate(n => math.max(0, n - 1)) > 0) 503
        else idOf(body) match {
          case None => 400
          case Some(id) => verb match {
            case "create" =>
              if (store.putIfAbsent(id, body) == null) 200 else 409
            case "update" =>
              if (store.replace(id, body) != null) 200 else 404
            case "delete" =>
              if (store.remove(id) != null) 200 else 404
          }
        }
      val resp = s"""{"success":${status == 200}}""".getBytes(StandardCharsets.UTF_8)
      ex.sendResponseHeaders(status, resp.length)
      ex.getResponseBody.write(resp)
      ex.close()
    }

    Seq("create", "update", "delete").foreach { verb =>
      server.createContext(s"/api/3/action/package_$verb", handle(verb)(_))
    }
    server.start()
    def stop(): Unit = server.stop(0)
    def hitCount(verb: String): Int =
      Option(hits.get(verb)).map(_.get()).getOrElse(0)
  }

  private def sinkFor(ckan: FakeCkan) =
    HttpSink(ckan.url, entity = "package", idField = "id",
      apiKey = Some("test-key"))

  test("create set lands; replayed create falls through to update (idempotent by guid)") {
    import spark.implicits._
    val ckan = new FakeCkan("id")
    try {
      val sink = sinkFor(ckan)
      val batch = Seq(("a", "v1"), ("b", "v1"), ("c", "v1")).toDF("id", "val")
        .repartition(2)
      sink.create(batch)
      assert(ckan.store.size() === 3)
      // replay with NEW field values: every create 409s and must converge
      // through package_update — the reference's create-or-update
      sink.create(Seq(("a", "v2"), ("b", "v2")).toDF("id", "val"))
      assert(ckan.store.size() === 3)
      assert(ckan.store.get("a").contains("\"v2\""))
      assert(ckan.store.get("c").contains("\"v1\""))
      assert(ckan.hitCount("update") === 2)
    } finally ckan.stop()
  }

  test("update set patches existing; update of a vanished key falls back to create") {
    import spark.implicits._
    val ckan = new FakeCkan("id")
    try {
      val sink = sinkFor(ckan)
      sink.create(Seq(("a", "old")).toDF("id", "val"))
      sink.update(Seq(("a", "new"), ("ghost", "born")).toDF("id", "val"))
      assert(ckan.store.get("a").contains("\"new\""))
      // the show→NotFound→create probe (odgovlt.py:249-257), sink-side
      assert(ckan.store.containsKey("ghost"))
      assert(ckan.hitCount("create") === 2)
    } finally ckan.stop()
  }

  test("delete removes keyed rows; deleting an absent key is a success (replay-safe)") {
    import spark.implicits._
    val ckan = new FakeCkan("id")
    try {
      val sink = sinkFor(ckan)
      sink.create(Seq(("a", "x"), ("b", "x")).toDF("id", "val"))
      // delete receives the KEY column under any name; absent "z" must no-op
      sink.delete(Seq("a", "z").toDF("key"))
      assert(ckan.store.size() === 1)
      assert(ckan.store.containsKey("b"))
    } finally ckan.stop()
  }

  test("transient 5xx retries with backoff and succeeds within the budget") {
    import spark.implicits._
    val ckan = new FakeCkan("id")
    try {
      ckan.failNext.set(2)
      sinkFor(ckan).create(Seq(("r", "v")).toDF("id", "val"))
      assert(ckan.store.containsKey("r"))
      // 2 burned 503s + 1 success, all on the create endpoint
      assert(ckan.hitCount("create") === 3)
    } finally ckan.stop()
  }

  test("retry exhaustion fails the task loudly instead of dropping rows") {
    import spark.implicits._
    val ckan = new FakeCkan("id")
    try {
      ckan.failNext.set(100)
      val e = intercept[Exception] {
        sinkFor(ckan).create(Seq(("x", "v")).toDF("id", "val"))
      }
      def causes(t: Throwable): Seq[Throwable] =
        if (t == null) Nil else t +: causes(t.getCause)
      assert(causes(e).exists(_.getMessage != null) &&
        causes(e).exists(c => Option(c.getMessage).exists(_.contains("503"))),
        s"expected the 503 to surface, got: $e")
      assert(ckan.store.isEmpty)
    } finally ckan.stop()
  }

  test("SyncJob.push: full lifecycle lands the merge sets on the REST target") {
    val dir = "/root/testdata/sf0.001"
    val staging = java.nio.file.Files.createTempDirectory("graft-http-staging")
      .resolve("stage").toString
    val ckan = new FakeCkan("o_orderkey")
    try {
      val sink = HttpSink(ckan.url, entity = "package",
        idField = "o_orderkey")
      import spark.implicits._
      import org.apache.spark.sql.functions.col
      // the target starts empty: every published package is a create
      val cold = Seq.empty[(Long, String)].toDF("o_orderkey", "extras_kodas")
      val r = SyncJob.push(spark, dir, staging, cold, sink)
      val published = Tables.table(spark, dir, "orders")
        .filter(col("o_orderstatus") === "F")
        .select("o_orderkey").collect().map(_.getLong(0).toString).toSet
      assert(published.nonEmpty)
      assert(r.actions.filter(col("action") =!= "create").isEmpty)
      assert(ckan.store.keySet().asScala == published)
      // payload is the assembled package, not just the key
      assert(ckan.store.values().iterator().next().contains("name_slug"))
    } finally ckan.stop()
  }

  test("applyActions leaves a caller-persisted actions frame cached") {
    import spark.implicits._
    val ckan = new FakeCkan("id")
    try {
      val packages = Seq(("a", "v"), ("b", "v")).toDF("id", "val")
      val actions = Seq(("a", "create"), ("z", "delete")).toDF("key", "action")
        .persist()
      try {
        SyncJob.applyActions(packages, actions, "id", sinkFor(ckan))
        assert(ckan.store.keySet().asScala == Set("a"))
        assert(actions.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
          "applyActions evicted the caller's cache")
      } finally actions.unpersist()
    } finally ckan.stop()
  }

  test("applyActions releases the frames it pinned on uncached inputs") {
    import spark.implicits._
    val ckan = new FakeCkan("id")
    try {
      spark.catalog.clearCache()
      val packages = Seq(("a", "v"), ("b", "v")).toDF("id", "val")
      val actions = Seq(("a", "create"), ("b", "update"), ("z", "delete"))
        .toDF("key", "action")
      SyncJob.applyActions(packages, actions, "id", sinkFor(ckan))
      assert(ckan.store.keySet().asScala == Set("a", "b"))
      assert(spark.sharedState.cacheManager.isEmpty,
        "applyActions left a pinned frame in the CacheManager")
    } finally ckan.stop()
  }
}
