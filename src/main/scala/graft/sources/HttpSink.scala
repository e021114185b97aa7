package graft.sources

import org.apache.spark.sql.DataFrame
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

/** REST tier of [[ActionSink]]: the reference's real output surface — the
  * CKAN action API, one JSON POST per entity
  * (`/root/reference/odgovlt.py:407` `_create_or_update_package`;
  * `odgovlt.py:281,287,318` group patch/create/delete; `odgovlt.py:379`
  * `organization_member_create`). Endpoint shape: POST
  * `{baseUrl}/{entity}_{create|update|delete}` with the row as the JSON
  * body, the key riding inside the body as `{idField}` — exactly the CKAN
  * convention.
  *
  * Execution shape (the part the reference, a per-row driver loop, does not
  * have): `foreachPartition` — every partition opens ONE keep-alive client
  * and streams its rows one POST at a time, so N executors × M partitions
  * POST concurrently while per-task buffering stays bounded.
  * Rows are serialized by the engine (`df.toJSON`) before the sink sees
  * them, so the HTTP loop never touches Spark rows.
  *
  * Idempotency by guid (what makes Spark task retries safe):
  *  - create → HTTP 409 (already exists) falls through to `{entity}_update`
  *    — a replayed create converges instead of failing, the reference's
  *    create-or-update;
  *  - update → HTTP 404 (vanished) falls through to `{entity}_create` —
  *    the reference's show→NotFound→create probe, direction reversed;
  *  - delete → HTTP 404 counts as success (already gone).
  *
  * Transient failures (I/O errors and 5xx) retry on [[HttpSink.withRetry]]'s
  * ladder; exhaustion throws, failing the task so Spark's own retry ladder
  * takes over — safe because every call is idempotent.
  */
final case class HttpSink(
    baseUrl: String,
    entity: String = "package",
    idField: String = "id",
    apiKey: Option[String] = None) extends ActionSink {

  import HttpSink._

  override def create(df: DataFrame): Unit =
    post(df.toJSON, s"${entity}_create", fallbackOn = 409,
      fallback = Some(s"${entity}_update"))

  override def update(df: DataFrame): Unit =
    post(df.toJSON, s"${entity}_update", fallbackOn = 404,
      fallback = Some(s"${entity}_create"))

  override def delete(df: DataFrame): Unit = {
    // key column → {"<idField>": key} body; 404 = already gone = success
    val keyed = df.withColumnRenamed(df.schema.fieldNames.head, idField)
    post(keyed.toJSON, s"${entity}_delete", fallbackOn = 404, fallback = None)
  }

  /** POST every JSON row to `{baseUrl}/{action}`; on `fallbackOn` re-POST
    * the same body to the fallback action (or succeed if none).
    */
  private def post(rows: org.apache.spark.sql.Dataset[String], action: String,
      fallbackOn: Int, fallback: Option[String]): Unit = {
    rows.foreachPartition { it: Iterator[String] =>
      if (it.nonEmpty) {
        val client = newClient()
        it.foreach { body =>
          val status = send(client, baseUrl, action, body, apiKey)
          if (status == fallbackOn) {
            fallback.foreach { fbAction =>
              val st2 = send(client, baseUrl, fbAction, body, apiKey)
              if (st2 / 100 != 2) throw new java.io.IOException(
                s"$fbAction fallback after $action=$fallbackOn returned $st2")
            }
          } else if (status / 100 != 2) throw new java.io.IOException(
            s"$action returned $status")
        }
      }
    }
  }
}

object HttpSink {

  /** The REST tier's retry budget: a transient failure is retried this
    * many times, the n-th retry after `RetryBaseMs << (n - 1)` ms.
    */
  private[sources] val MaxRetries = 3
  private[sources] val RetryBaseMs = 50L
  /** Connect timeout and per-request timeout. */
  private[sources] val Timeout = Duration.ofSeconds(30)

  private[sources] def newClient(): HttpClient =
    HttpClient.newBuilder().connectTimeout(Timeout).build()

  /** One POST; returns the final HTTP status. 4xx is a semantic answer
    * (exists / not found) the caller routes on.
    */
  private def send(client: HttpClient, baseUrl: String,
      action: String, body: String, apiKey: Option[String]): Int = {
    val b = HttpRequest.newBuilder(URI.create(s"$baseUrl/$action"))
      .timeout(Timeout)
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(body))
    apiKey.foreach(k => b.header("Authorization", k))
    withRetry(client, b.build(), HttpResponse.BodyHandlers.discarding(),
      action).statusCode()
  }

  /** The REST tier's one retry ladder, for the sink's POSTs and
    * [[HttpSource]]'s page GETs. I/O errors and 5xx are transient: they
    * retry with exponential backoff, at most [[MaxRetries]] times. Returns
    * the first response that is not a 5xx, or the last 5xx once the
    * retries are spent; throws if the last attempt was an I/O error. Any
    * other status is the caller's to route — every call is idempotent,
    * so a retry never double-applies.
    */
  private[sources] def withRetry[T](client: HttpClient, req: HttpRequest,
      handler: HttpResponse.BodyHandler[T], what: String): HttpResponse[T] = {
    @annotation.tailrec
    def attempt(n: Int): HttpResponse[T] = {
      if (n > 0) Thread.sleep(RetryBaseMs << (n - 1))
      val r = try Right(client.send(req, handler))
        catch { case e: java.io.IOException => Left(e) }
      r match {
        case Right(resp) if resp.statusCode / 100 != 5 || n == MaxRetries => resp
        case Left(e) if n == MaxRetries => throw new java.io.IOException(
          s"$what failed after $MaxRetries retries", e)
        case _ => attempt(n + 1)
      }
    }
    attempt(0)
  }
}
