package graft

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.Executors
import java.util.concurrent.atomic.AtomicInteger
import java.util.concurrent.ConcurrentHashMap

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.HttpSource

/** The paginated REST source against an in-process CKAN-search stand-in:
  * full-corpus recovery across pages, schema inference, parallel task
  * fetch, retry-on-5xx, and hard failure on a 4xx contract violation.
  */
class HttpSourceSpec extends AnyFunSuite with SharedSpark {

  /** `GET {base}/package_search?offset=N&limit=M` over a fixed record
    * set, CKAN-search response shape.
    */
  final class FakeSearch(n: Int) {
    val offsetsSeen = ConcurrentHashMap.newKeySet[Long]()
    val hits = new AtomicInteger(0)
    /** While > 0, every request burns one unit and answers 503. */
    val failNext = new AtomicInteger(0)
    /** When true, every request 404s (the contract-violation case). */
    @volatile var broken = false
    /** When true, answers leave out `count`. */
    @volatile var countless = false

    private def rec(i: Int): String =
      s"""{"id": $i, "name": "pkg_$i", "score": ${i % 7}}"""

    private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.setExecutor(Executors.newFixedThreadPool(8))
    server.createContext("/api/3/action/package_search", (ex: HttpExchange) => {
      hits.incrementAndGet()
      val q = Option(ex.getRequestURI.getQuery).getOrElse("")
      val params = q.split("&").map(_.split("=", 2))
        .collect { case Array(k, v) => k -> v.toLong }.toMap
      val (off, lim) = (params.getOrElse("offset", 0L), params.getOrElse("limit", 10L))
      offsetsSeen.add(off)
      val status =
        if (broken) 404
        else if (failNext.getAndUpdate(x => math.max(0, x - 1)) > 0) 503
        else 200
      val rows = (off.toInt until math.min(n, (off + lim).toInt)).map(rec)
      val count = if (countless) "" else s""""count": $n, """
      val body = s"""{$count"results": [${rows.mkString(", ")}]}"""
        .getBytes(StandardCharsets.UTF_8)
      ex.sendResponseHeaders(status, body.length)
      ex.getResponseBody.write(body)
      ex.close()
    })
    server.start()
    def url: String = s"http://127.0.0.1:${server.getAddress.getPort}/api/3/action"
    def stop(): Unit = server.stop(0)
  }

  test("recovers every record across pages with an inferred schema") {
    val srv = new FakeSearch(57)
    try {
      val df = HttpSource(srv.url, pageSize = 10).load(spark)
      assert(df.columns.sorted.toSeq == Seq("id", "name", "score"))
      val rows = df.collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      assert(rows.length == 57)
      assert(rows.map(_._1).toSet == (0 until 57).map(_.toLong).toSet)
      rows.foreach { case (id, name, score) =>
        assert(name == s"pkg_$id" && score == id % 7)
      }
      // every page band was requested exactly once (probe offset 0 rides
      // along with page 0's fetch)
      assert(srv.offsetsSeen.contains(50L) && srv.offsetsSeen.size() == 6)
    } finally srv.stop()
  }

  test("a single-page corpus needs exactly probe + one page fetch") {
    val srv = new FakeSearch(3)
    try {
      val df = HttpSource(srv.url, pageSize = 10).load(spark)
      assert(df.count() == 3)
      assert(srv.hits.get() == 2, "probe + one page, nothing more")
    } finally srv.stop()
  }

  test("an empty remote is a legitimate harvest: zero rows, no crash") {
    val srv = new FakeSearch(0)
    try {
      val df = HttpSource(srv.url, pageSize = 10).load(spark)
      assert(df.count() == 0)
      assert(srv.hits.get() == 1, "the probe alone decides an empty corpus")
    } finally srv.stop()
  }

  test("transient 5xx retries recover the full result") {
    val srv = new FakeSearch(25)
    try {
      srv.failNext.set(3)
      val df = HttpSource(srv.url, pageSize = 10).load(spark)
      assert(df.count() == 25)
    } finally srv.stop()
  }

  test("a 4xx is a contract violation and fails loudly, never retried") {
    val srv = new FakeSearch(5)
    try {
      srv.broken = true
      val before = srv.hits.get()
      val e = intercept[Exception] {
        HttpSource(srv.url, pageSize = 10).load(spark)
      }
      def root(t: Throwable): Throwable =
        if (t.getCause == null) t else root(t.getCause)
      assert(root(e).getMessage.contains("returned 404"))
      assert(srv.hits.get() - before == 1, "4xx must not burn retries")
    } finally srv.stop()
  }

  test("a probe answer without an integer count fails naming the endpoint") {
    val srv = new FakeSearch(5)
    try {
      srv.countless = true
      val e = intercept[java.io.IOException] {
        HttpSource(srv.url, pageSize = 10).load(spark)
      }
      assert(e.getMessage.contains(s"${srv.url}/package_search"), e.getMessage)
      assert(e.getMessage.contains("count"), e.getMessage)
    } finally srv.stop()
  }

  test("load releases the page bodies it pinned") {
    val srv = new FakeSearch(25)
    try {
      spark.catalog.clearCache()
      val df = HttpSource(srv.url, pageSize = 10).load(spark)
      assert(df.count() == 25)
      assert(spark.sharedState.cacheManager.isEmpty,
        "load left its page bodies in the CacheManager")
    } finally srv.stop()
  }
}
