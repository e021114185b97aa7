package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

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
  * record array explodes with `inline`-style column expansion, so the
  * source never hand-parses JSON.
  *
  * Transient failures (I/O, 5xx) retry per page with exponential backoff
  * (bounded, idempotent — a page GET is naturally replayable, so Spark
  * task retries are safe by construction).
  */
final case class HttpSource(
    baseUrl: String,
    pageSize: Int = 100,
    maxRetries: Int = 3,
    retryBaseMs: Long = 50L,
    timeoutMs: Long = 30000L) {

  import HttpSource._

  /** The remote row set as a DataFrame with an inferred schema. */
  def load(spark: SparkSession): DataFrame = {
    val (base, psz, retries, backoff, timeout) =
      (baseUrl, pageSize, maxRetries, retryBaseMs, timeoutMs)
    // driver-side probe: one bounded request for the total
    val probeClient = HttpClient.newBuilder()
      .connectTimeout(Duration.ofMillis(timeout)).build()
    val probe = get(probeClient, base, 0, 1, retries, backoff, timeout)
    import spark.implicits._
    val total = spark.read.json(Seq(probe).toDS)
      .select(col("count").cast("long")).head().getLong(0)
    // an empty remote is a legitimate harvest result, not an error — but
    // its schema is unknowable (no record to infer from), so the honest
    // answer is an empty zero-column frame rather than a star-expansion
    // crash on an empty inferred array
    if (total == 0L) return spark.emptyDataFrame
    val nPages = ((total + psz - 1) / psz).toInt.max(1)
    // one task per page band: pages fetch concurrently on executors
    val bodies = spark.range(nPages)
      .repartition(nPages.min(spark.sparkContext.defaultParallelism))
      .mapPartitions { pages =>
        val client = HttpClient.newBuilder()
          .connectTimeout(Duration.ofMillis(timeout)).build()
        pages.map(p => get(client, base, p * psz, psz, retries, backoff,
          timeout))
      }
      // cached: read.json's schema-inference pass is an action of its own
      // — uncached, every page would be FETCHED twice (inference + read).
      // The cached page bodies are exactly the reference's staged
      // HarvestObjects (odgovlt.py:362-366) living in executor storage;
      // unpersisted below once the parsed rows materialize
      .cache()
    // localCheckpoint materializes the PARSED rows in executor storage, so
    // (a) the page-bodies cache can be released here — scoped to this
    // dataset, not a session-wide spark.catalog.clearCache() that would
    // evict every caller's frames — and (b) the returned frame is
    // self-contained: later actions never re-fetch pages
    val rows = spark.read.json(bodies)
      .select(explode(col("results")).as("__r"))
      .select(col("__r.*"))
      .localCheckpoint(true)
    bodies.unpersist()
    // the one-shot probe count is a point-in-time claim: if the remote
    // grew or shrank between the probe and the page fetches, pages
    // silently shorten (or rows drop past the last probed page) and the
    // harvester would report success on a partial corpus — fail loud
    val got = rows.count()
    if (got != total)
      throw new IllegalStateException(
        s"HttpSource $base: probed count=$total but fetched $got rows " +
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
      limit: Int, maxRetries: Int, retryBaseMs: Long,
      timeoutMs: Long): String = {
    val what = s"package_search?offset=$offset"
    val req = HttpRequest
      .newBuilder(URI.create(s"$baseUrl/$what&limit=$limit"))
      .timeout(Duration.ofMillis(timeoutMs))
      .GET().build()
    val resp = HttpSink.withRetry(client, req,
      HttpResponse.BodyHandlers.ofString(), what, maxRetries, retryBaseMs)
    if (resp.statusCode / 100 != 2)
      throw new java.io.IOException(s"$what returned ${resp.statusCode}")
    resp.body()
  }
}
