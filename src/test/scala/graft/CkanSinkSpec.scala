package graft

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, Executors}
import java.util.regex.Pattern

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{HttpSink, HttpSource}

/** CKAN action-API CALL-SEQUENCE conformance — the reference's e2e harvest
  * scenario (`/root/reference/tests/test_odgovlt.py:238-314`: run the
  * harvester twice, assert what the API was actually asked to do) ported
  * onto an in-process protocol fake that records every action call in
  * order. Where [[HttpSinkSpec]] pins the TRANSPORT semantics (status
  * routing, fallbacks, retries), this spec pins the PROTOCOL: which
  * create/patch/delete calls a full sync emits against a live target
  * state, across three harvests —
  *
  *  1. cold target → exactly one `package_create` per source document and
  *     NOTHING else (the reference's first `run_harvest`,
  *     report_status == 'added');
  *  2. unchanged re-run → ZERO calls of any kind — the `was_changed` skip
  *     (`odgovlt.py:278-284`: "group is up to date" logs and calls
  *     nothing; `_create_or_update_package` likewise skips an unchanged
  *     package);
  *  3. drifted target (one patched doc, one dropped doc, one stale owned
  *     doc, one stale FOREIGN doc) → exactly `update` for the drift,
  *     `create` for the hole, `delete` for the stale owned doc — and the
  *     foreign doc untouched (the `Šaltinis == 'IVPK IRS'` ownership
  *     guard, `odgovlt.py:312-318`).
  *
  * The sync side is the real production path: gather → staged import →
  * assembly → [[SyncPipeline.classifyAgainst]] over the target state READ
  * BACK from the fake (the `package_show`/`group_show` round the
  * reference's `was_changed` diffs against) → [[SyncJob.applyActions]]
  * through [[HttpSink]].
  */
class CkanSinkSpec extends AnyFunSuite with SharedSpark {

  /** CKAN action fake with an ORDERED call log: POST {base}/{entity}_{verb}
    * appends (verb, id) and mutates the keyed store — the observable the
    * reference e2e asserts through mocked ckanapi calls. One instance per
    * entity tier (package / group / user / organization), like the
    * reference's per-action mocks.
    */
  final class LoggingCkan(idField: String, entity: String = "package") {
    val store = new ConcurrentHashMap[String, String]()
    val calls = new ConcurrentLinkedQueue[(String, String)]()

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
      val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      val status = idOf(body) match {
        case None => 400
        case Some(id) =>
          calls.add((verb, id))
          verb match {
            case "create" => if (store.putIfAbsent(id, body) == null) 200 else 409
            case "update" => if (store.replace(id, body) != null) 200 else 404
            case "delete" => if (store.remove(id) != null) 200 else 404
          }
      }
      val resp = s"""{"success":${status == 200}}""".getBytes(StandardCharsets.UTF_8)
      ex.sendResponseHeaders(status, resp.length)
      ex.getResponseBody.write(resp)
      ex.close()
    }

    Seq("create", "update", "delete").foreach { verb =>
      server.createContext(s"/api/3/action/${entity}_$verb", handle(verb)(_))
    }
    // GET {base}/{entity}_search?offset=N&limit=M: the store's documents in
    // the CKAN-search response shape, as [[HttpSource]] reads a remote back
    server.createContext(s"/api/3/action/${entity}_search", (ex: HttpExchange) => {
      import scala.jdk.CollectionConverters._
      val params = Option(ex.getRequestURI.getQuery).getOrElse("").split("&")
        .map(_.split("=", 2)).collect { case Array(k, v) => k -> v.toInt }.toMap
      val off = params.getOrElse("offset", 0)
      val page = store.values().asScala.toSeq.sorted
        .slice(off, off + params.getOrElse("limit", 10))
      val resp = s"""{"count":${store.size()},"results":[${page.mkString(",")}]}"""
        .getBytes(StandardCharsets.UTF_8)
      ex.sendResponseHeaders(200, resp.length)
      ex.getResponseBody.write(resp)
      ex.close()
    })
    server.start()
    def stop(): Unit = server.stop(0)

    def callsByVerb: Map[String, Seq[String]] = {
      import scala.jdk.CollectionConverters._
      calls.asScala.toSeq.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    }
    def clearLog(): Unit = calls.clear()
  }

  private val dir = "/root/testdata/sf0.001"

  /** Assembled source state over the real gather→staging→import path. */
  private def assembledSource(staging: String): DataFrame = {
    SyncPipeline.gatherToStaging(spark, dir, staging)
    val (ok, _) = SyncPipeline.importFromStagingWithErrors(spark, dir, staging)
    SyncPipeline.assembled(spark, dir, Some(ok.drop("guid")))
  }

  /** The `package_show` round: the target state read back from the fake's
    * store, typed under the source's schema (absent fields → null).
    */
  private def targetState(ckan: LoggingCkan,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val bodies = ckan.store.values().asScala.toSeq
    bodies.toDS().select(from_json(col("value"), schema).as("rec"))
      .select(col("rec.*"))
  }

  /** One full harvest against the live fake: classify vs its current
    * state, push the action sets through the sink.
    */
  private def harvest(ckan: LoggingCkan, staging: String): DataFrame = {
    val packages = assembledSource(staging)
    val target = targetState(ckan, packages.schema)
    // ownership guard: our documents always carry extras (the reference's
    // SOURCE_NAME extras marker); a doc without them is not ours to delete
    val actions = SyncPipeline.classifyAgainst(packages, target,
      "o_orderkey", owned = col("extras_kodas").isNotNull)
    val sink = HttpSink(ckan.url, entity = "package", idField = "o_orderkey")
    SyncJob.applyActions(packages, actions, "o_orderkey", sink)
    packages
  }

  test("three-harvest call sequence: cold creates, was_changed skip, drift repair") {
    val ckan = new LoggingCkan("o_orderkey")
    val staging = java.nio.file.Files
      .createTempDirectory("graft-ckan-conformance").resolve("stage").toString
    try {
      // -- harvest 1: cold target ------------------------------------
      val packages = harvest(ckan, staging)
      val sourceIds = packages.select("o_orderkey")
        .collect().map(_.get(0).toString).toSeq.sorted
      assert(sourceIds.nonEmpty)
      val run1 = ckan.callsByVerb
      assert(run1.keySet === Set("create"),
        s"cold harvest must emit only creates, got verbs ${run1.keySet}")
      assert(run1("create") === sourceIds)
      assert(ckan.store.size() === sourceIds.size)

      // -- harvest 2: unchanged re-run → the was_changed skip ---------
      ckan.clearLog()
      harvest(ckan, staging)
      assert(ckan.calls.isEmpty,
        s"unchanged re-run must call NOTHING, got ${ckan.callsByVerb}")

      // -- harvest 3: drifted target ----------------------------------
      ckan.clearLog()
      val patchedId = sourceIds.head
      val droppedId = sourceIds.last
      // target-side drift: the stored doc no longer matches the source
      ckan.store.put(patchedId, ckan.store.get(patchedId)
        .replaceFirst("\"owner_name\":\"[^\"]*\"", "\"owner_name\":\"Drifted Owner\""))
      // a hole: the doc vanished from the target
      ckan.store.remove(droppedId)
      // a stale doc WE own (extras present) and a FOREIGN one (no extras)
      ckan.store.put("999999001",
        """{"o_orderkey":999999001,"name_slug":"stale-ours","extras_kodas":"1"}""")
      ckan.store.put("999999002",
        """{"o_orderkey":999999002,"name_slug":"stale-foreign"}""")
      harvest(ckan, staging)
      val run3 = ckan.callsByVerb
      assert(run3 === Map(
        "create" -> Seq(droppedId),
        "update" -> Seq(patchedId),
        "delete" -> Seq("999999001")),
        s"drift repair must emit exactly one call per drift, got $run3")
      // end state converged: drift gone, hole refilled, foreign untouched
      assert(!ckan.store.get(patchedId).contains("Drifted Owner"))
      assert(ckan.store.containsKey(droppedId))
      assert(!ckan.store.containsKey("999999001"))
      assert(ckan.store.containsKey("999999002"))
      assert(ckan.store.size() === sourceIds.size + 1)
    } finally ckan.stop()
  }

  test("first harvest into an empty remote read back by HttpSource: one create per package") {
    // an empty remote reads back as a zero-column frame (no record to
    // infer a schema from); SyncJob.push must classify every key a create
    val ckan = new LoggingCkan("o_orderkey")
    val staging = java.nio.file.Files
      .createTempDirectory("graft-ckan-cold").resolve("stage").toString
    try {
      val target = HttpSource(ckan.url).load(spark)
      assert(target.columns.isEmpty)
      val r = SyncJob.push(spark, dir, staging, target,
        HttpSink(ckan.url, entity = "package", idField = "o_orderkey"))
      val keys = r.packages.select("o_orderkey")
        .collect().map(_.get(0).toString).toSeq.sorted
      assert(keys.nonEmpty)
      assert(ckan.callsByVerb === Map("create" -> keys))
      assert(ckan.store.size() === keys.size)
    } finally ckan.stop()
  }

  /** One group-tier harvest: assemble the group docs, classify against the
    * fake's live state, apply with the children-first create ordering.
    */
  private def harvestGroups(ckan: LoggingCkan): DataFrame = {
    val docs = graft.ops.HierarchyOps.groupDocs(spark, dir)
    val target = targetState(ckan, docs.schema)
    val actions = SyncPipeline.classifyAgainst(docs, target, "group_slug",
      owned = col("extras_source") === "IVPK IRS")
    val sink = HttpSink(ckan.url, entity = "group", idField = "group_slug")
    SyncJob.applyActions(docs, actions, "group_slug", sink,
      createWavesBy = Some("depth"))
    docs
  }

  test("group-tree call sequence: children-first creates, was_changed patch, owned-only delete") {
    val ckan = new LoggingCkan("group_slug", "group")
    try {
      import scala.jdk.CollectionConverters._
      // -- harvest 1: cold target → one create per tree node, in an order
      // where every child precedes its parent (the reference consumes the
      // recursive generator before the parent's own group_create,
      // odgovlt.py:260-287 — the parent's `groups` field references the
      // children by name, so they must exist first)
      val docs = harvestGroups(ckan)
      val rows = docs.collect().map(r =>
        (r.getString(0), r.getString(2))).toSeq // (slug, children csv)
      val slugs = rows.map(_._1).sorted
      val run1 = ckan.callsByVerb
      assert(run1.keySet === Set("create"),
        s"cold group harvest must emit only creates, got ${run1.keySet}")
      assert(run1("create") === slugs)
      val createOrder = ckan.calls.asScala.toSeq.collect {
        case ("create", id) => id }.zipWithIndex.toMap
      for ((parent, kids) <- rows; child <- kids.split('|') if child.nonEmpty)
        assert(createOrder(child) < createOrder(parent),
          s"child $child must be created before parent $parent")
      assert(ckan.store.size() === slugs.size)

      // -- harvest 2: unchanged re-run → the was_changed skip: the
      // reference logs "group is up to date" and calls NOTHING
      ckan.clearLog()
      harvestGroups(ckan)
      assert(ckan.calls.isEmpty,
        s"unchanged group re-run must call nothing, got ${ckan.callsByVerb}")

      // -- harvest 3: drifted target — a retitled group (patch), a leaf
      // dropped from the target (re-create), a stale group WE own
      // (delete) and a stale FOREIGN group (untouched —
      // the Šaltinis == 'IVPK IRS' ownership guard, odgovlt.py:312-318).
      // The reference patches via group_patch; the sink's uniform verb
      // surface posts the full doc to group_update (CKAN's full-document
      // update), pinned as the update call here.
      ckan.clearLog()
      val patched = slugs.head
      // a leaf (no children) so the re-create is a single bottom wave
      val dropped = rows.collect { case (s, "") => s }.max
      ckan.store.put(patched, ckan.store.get(patched)
        .replaceFirst("\"title\":\"[^\"]*\"", "\"title\":\"Drifted Title\""))
      ckan.store.remove(dropped)
      ckan.store.put("stale-ours",
        """{"group_slug":"stale-ours","title":"Stale","extras_source":"IVPK IRS"}""")
      ckan.store.put("stale-foreign",
        """{"group_slug":"stale-foreign","title":"Stale","extras_source":"elsewhere"}""")
      harvestGroups(ckan)
      val run3 = ckan.callsByVerb
      assert(run3 === Map(
        "create" -> Seq(dropped),
        "update" -> Seq(patched),
        "delete" -> Seq("stale-ours")),
        s"group drift repair must emit exactly one call per drift, got $run3")
      assert(!ckan.store.get(patched).contains("Drifted Title"))
      assert(ckan.store.containsKey(dropped))
      assert(!ckan.store.containsKey("stale-ours"))
      assert(ckan.store.containsKey("stale-foreign"))
    } finally ckan.stop()
  }

  test("user/org find-or-create: create only the absent, drift never patches") {
    import org.apache.spark.sql.types.StructType
    // user identity is the slugified login, org identity the slugified
    // title (odgovlt.py:183-215,217-258); both tiers look up by name and
    // CREATE when absent — they never patch and never delete
    def tier(entity: String, idField: String, source: DataFrame): Unit = {
      val ckan = new LoggingCkan(idField, entity)
      try {
        val schema = StructType(Seq(source.schema(idField)))
        def harvest(): Unit = {
          val actions = SyncPipeline.classifyFindOrCreate(
            source, targetState(ckan, schema), idField)
          val sink = HttpSink(ckan.url, entity = entity, idField = idField)
          SyncJob.applyActions(source, actions, idField, sink)
        }
        val ids = source.select(idField).collect().map(_.getString(0)).sorted
        // cold: one create per distinct source entity, nothing else
        harvest()
        assert(ckan.callsByVerb === Map("create" -> ids.toSeq),
          s"cold $entity harvest must create every source entity")
        // re-run: all present → zero calls
        ckan.clearLog()
        harvest()
        assert(ckan.calls.isEmpty,
          s"$entity re-run must call nothing, got ${ckan.callsByVerb}")
        // drift: a mutated target doc must NOT fire an update (find-or-
        // create never patches), a hole must fire exactly one create, and
        // a target-only entity must NOT be deleted
        ckan.clearLog()
        val mutated = ids.head
        val hole = ids.last
        ckan.store.put(mutated, ckan.store.get(mutated)
          .replaceFirst("\\{", s"""{"fullname":"Drifted","""))
        ckan.store.remove(hole)
        ckan.store.put("target-only-entity",
          s"""{"$idField":"target-only-entity"}""")
        harvest()
        assert(ckan.callsByVerb === Map("create" -> Seq(hole)),
          s"$entity drift: only the hole may be re-created, got ${ckan.callsByVerb}")
        assert(ckan.store.get(mutated).contains("Drifted"),
          s"$entity drift must be left alone (no patch)")
        assert(ckan.store.containsKey("target-only-entity"),
          s"target-only $entity must never be deleted")
      } finally ckan.stop()
    }
    tier("user", "name_slug",
      Tables.table(spark, dir, "customer")
        .select(TextFunctions.slugifyNorm(col("c_name")).as("name_slug"))
        .distinct())
    tier("organization", "org_slug",
      Tables.table(spark, dir, "nation")
        .select(TextFunctions.slugifyNorm(col("n_name")).as("org_slug"))
        .distinct())
  }

  test("classifyAgainst subset semantics: target-only fields never fire an update") {
    import spark.implicits._
    // target carries an extra column the source does not send — the sync
    // never un-sets a field it isn't sending (odgovlt.py:112-124)
    val source = Seq((1L, "a"), (2L, "b")).toDF("key_id", "v")
    val target = Seq((1L, "a", "target-only"), (2L, "CHANGED", "x"))
      .toDF("key_id", "v", "t_extra")
    val acts = SyncPipeline.classifyAgainst(source, target, "key_id", lit(true))
      .orderBy("key")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(acts === Seq((2L, "update")))
  }
}
