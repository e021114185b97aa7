package graft.sources

import graft.{Json, Reuse}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

/** Paginated REST SOURCE — the pull half of the REST tier ([[HttpSink]] is
  * the push half): the reference's gather stage enumerates the remote
  * system's rows before importing them (`/root/reference/odgovlt.py:355-367`
  * reads the legacy DB; a CKAN-side harvester does the same through the
  * paginated search API). Endpoint shape: GET
  * `{baseUrl}/package_search?offset=N&limit=M` returning
  * `{"count": total, "results": [ {...}, ... ]}` — the CKAN
  * `package_search` convention.
  *
  * Execution shape: ONE driver-side probe (offset 0, limit 1) discovers
  * the total count — the gather stage's "how much work" call — then the
  * page range parallelizes as a `spark.range(nPages)` and every TASK
  * fetches its own pages with a keep-alive client ([[HttpSink]]'s
  * foreachPartition economics, direction reversed): N executors pull
  * concurrently, no page body ever passes through the driver. Page bodies
  * land as a `Dataset[String]` and the JSON decoding stays DECLARATIVE —
  * `spark.read.json` infers the schema (the reference's
  * `meta.reflect()` reflection posture, `odgovlt.py:147-148`) and the
  * record array explodes with `inline`-style column expansion, so no page
  * is hand-parsed (the probe's one `count` field is read with
  * [[graft.Json]]).
  *
  * Transient failures (I/O, 5xx) retry per page on [[HttpSink.withRetry]]'s
  * ladder (bounded, idempotent — a page GET is naturally replayable, so Spark
  * task retries are safe by construction).
  */
final case class HttpSource(baseUrl: String, pageSize: Int = 100) {

  import HttpSink.newClient
  import HttpSource._

  /** The remote row set as a DataFrame with an inferred schema. */
  def load(spark: SparkSession): DataFrame = {
    // driver-side probe: one bounded request for the total
    val probe = Json.parse(get(newClient(), baseUrl, 0, 1)).path("count")
    if (!probe.isIntegralNumber) throw new java.io.IOException(
      s"$baseUrl/package_search: probe answer has no integer count")
    val total = probe.asLong
    // an empty remote is a legitimate harvest result, not an error — but
    // its schema is unknowable (no record to infer from), so the honest
    // answer is an empty zero-column frame rather than a star-expansion
    // crash on an empty inferred array
    if (total == 0L) return spark.emptyDataFrame
    val nPages = ((total + pageSize - 1) / pageSize).toInt.max(1)
    import spark.implicits._
    val rows = Reuse.released {
      // one task per page band: pages fetch concurrently on executors
      val bodies = Reuse(spark.range(nPages)
        .repartition(nPages.min(spark.sparkContext.defaultParallelism))
        .mapPartitions { pages =>
          val client = newClient()
          pages.map(p => get(client, baseUrl, p * pageSize, pageSize))
        })
      // pinned: read.json's schema-inference pass is an action of its own
      // — unpinned, every page would be FETCHED twice (inference + read).
      // The pinned page bodies are exactly the reference's staged
      // HarvestObjects (odgovlt.py:362-366) living in executor storage.
      // localCheckpoint materializes the PARSED rows in executor storage,
      // so (a) the scope can release the page bodies — only them, not a
      // session-wide spark.catalog.clearCache() that would evict every
      // caller's frames — and (b) the returned frame is self-contained:
      // later actions never re-fetch pages
      spark.read.json(bodies)
        .select(explode(col("results")).as("__r"))
        .select(col("__r.*"))
        .localCheckpoint(true)
    }
    // the one-shot probe count is a point-in-time claim: if the remote
    // grew or shrank between the probe and the page fetches, pages
    // silently shorten (or rows drop past the last probed page) and the
    // harvester would report success on a partial corpus — fail loud
    val got = rows.count()
    if (got != total)
      throw new IllegalStateException(
        s"HttpSource $baseUrl: probed count=$total but fetched $got rows " +
          "— remote changed between probe and page fetches; re-run the pull")
    rows
  }
}

object HttpSource {

  /** One GET on [[HttpSink.withRetry]]'s ladder; any final non-2xx
    * throws (a 4xx on a page read is a contract violation, not a semantic
    * answer).
    */
  private def get(client: HttpClient, baseUrl: String, offset: Long,
      limit: Int): String = {
    val what = s"package_search?offset=$offset"
    val req = HttpRequest
      .newBuilder(URI.create(s"$baseUrl/$what&limit=$limit"))
      .timeout(HttpSink.Timeout)
      .GET().build()
    val resp = HttpSink.withRetry(client, req,
      HttpResponse.BodyHandlers.ofString(), what)
    if (resp.statusCode / 100 != 2)
      throw new java.io.IOException(s"$what returned ${resp.statusCode}")
    resp.body()
  }
}
