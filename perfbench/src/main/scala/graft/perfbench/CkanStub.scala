package graft.perfbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, Executors}
import java.util.concurrent.atomic.LongAdder
import java.util.regex.Pattern

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** In-process CKAN action-API target for the harvest workloads.
  *
  *  - `POST {url}/package_create|_update|_delete` route like CKAN:
  *    create on an existing id → 409, update/delete on a missing id → 404,
  *    a body without the id field → 400.
  *  - `GET {url}/package_search?offset=&limit=` pages the stored documents
  *    in key order as `{"count": n, "results": [...]}`, the shape
  *    [[graft.sources.HttpSource]] reads.
  *
  * Every request is counted by status class and its handler time summed,
  * and every write call is logged as (verb, id), so a harvest can be
  * checked call by call.
  *
  * The JDK server leaves Nagle's algorithm on by default; against a
  * keep-alive client every small response then stalls on the peer's
  * delayed ACK (~40 ms per request). `sun.net.httpserver.nodelay` is read
  * once, when the server implementation is first loaded, so it is set
  * here before any server is created.
  */
final class CkanStub(idField: String, threads: Int) {
  CkanStub.enableNoDelay()

  val store = new ConcurrentHashMap[String, String]()
  val calls = new ConcurrentLinkedQueue[(String, String)]()

  val requests = new LongAdder
  val http2xx = new LongAdder
  val http404 = new LongAdder
  val http409 = new LongAdder
  val httpOther = new LongAdder
  val searches = new LongAdder
  val busyNanos = new LongAdder

  private val idRx = Pattern.compile(
    "\"" + Pattern.quote(idField) + "\"\\s*:\\s*(?:\"([^\"]*)\"|([0-9Ee.+-]+))")

  private[perfbench] def idOf(body: String): Option[String] = {
    val m = idRx.matcher(body)
    if (m.find()) Option(m.group(1)).orElse(Option(m.group(2))) else None
  }

  private val pool = Executors.newFixedThreadPool(threads)
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  server.setExecutor(pool)

  def url: String = s"http://127.0.0.1:${server.getAddress.getPort}/api/3/action"

  /** Status for one write call; mutates the store. */
  private[perfbench] def write(verb: String, body: String): Int =
    idOf(body) match {
      case None => 400
      case Some(id) =>
        calls.add((verb, id))
        verb match {
          case "create" => if (store.putIfAbsent(id, body) == null) 200 else 409
          case "update" => if (store.replace(id, body) != null) 200 else 404
          case "delete" => if (store.remove(id) != null) 200 else 404
          case _ => 400
        }
    }

  /** One `package_search` page over the documents in key order. */
  private[perfbench] def search(offset: Int, limit: Int): String = {
    val keys = store.keySet().toArray(new Array[String](0))
      .sortBy(k => (k.length, k)) // numeric ids in numeric order
    val page = keys.slice(offset, offset + limit).flatMap(k => Option(store.get(k)))
    page.mkString(s"""{"count":${keys.length},"results":[""", ",", "]}")
  }

  private def count(status: Int): Unit = {
    requests.increment()
    if (status / 100 == 2) http2xx.increment()
    else if (status == 404) http404.increment()
    else if (status == 409) http409.increment()
    else httpOther.increment()
  }

  private def reply(ex: HttpExchange, status: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.sendResponseHeaders(status, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  private def timed(ex: HttpExchange)(body: => (Int, String)): Unit = {
    val t0 = System.nanoTime()
    val (status, resp) =
      try body catch { case _: Exception => (500, "{\"success\":false}") }
    count(status)
    reply(ex, status, resp)
    busyNanos.add(System.nanoTime() - t0)
  }

  Seq("create", "update", "delete").foreach { verb =>
    server.createContext(s"/api/3/action/package_$verb", (ex: HttpExchange) =>
      timed(ex) {
        val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
        val st = write(verb, body)
        (st, s"""{"success":${st == 200}}""")
      })
  }
  server.createContext("/api/3/action/package_search", (ex: HttpExchange) =>
    timed(ex) {
      searches.increment()
      val q = CkanStub.query(ex.getRequestURI.getRawQuery)
      (200, search(q.getOrElse("offset", "0").toInt, q.getOrElse("limit", "10").toInt))
    })
  server.start()

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS)
  }

  /** Replace the store with `docs` and clear the call log and counters. */
  def reset(docs: java.util.Map[String, String]): Unit = {
    store.clear()
    store.putAll(docs)
    clearLog()
  }

  def clearLog(): Unit = {
    calls.clear()
    Seq(requests, http2xx, http404, http409, httpOther, searches, busyNanos)
      .foreach(_.reset())
  }

  /** Logged write calls grouped by verb: verb → ids in call order. */
  def callsByVerb: Map[String, Seq[String]] = {
    import scala.jdk.CollectionConverters._
    calls.asScala.toSeq.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
  }
}

object CkanStub {
  private[perfbench] def enableNoDelay(): Unit =
    System.setProperty("sun.net.httpserver.nodelay", "true")

  private[perfbench] def query(raw: String): Map[String, String] =
    Option(raw).toSeq.flatMap(_.split('&')).flatMap { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => Some(k -> java.net.URLDecoder.decode(v, "UTF-8"))
        case _ => None
      }
    }.toMap
}
