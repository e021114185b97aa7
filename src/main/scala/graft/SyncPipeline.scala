package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.{table => t}

/** The reference's end-to-end dataflow (`/root/reference/odgovlt.py:373-407`,
  * import_stage) as one set-oriented Spark plan — the parity artifact of
  * SURVEY.md §3.2 / §7.3.
  *
  * Reference shape (per dataset row, N+1): user lookup + default
  * (odgovlt.py:183-215), org lookup + default (odgovlt.py:217-258), bridge →
  * category collect (odgovlt.py:320-334), tag pipeline (odgovlt.py:79-94),
  * nested package dict (odgovlt.py:383-406), upsert by guid (odgovlt.py:407).
  *
  * Spark shape (set-oriented, one pass):
  *   fact ⟕ broadcast(dim) joins with coalesce defaults (no shuffle of the
  *   fact side), one hash-aggregate shuffle for the bridge collect, row-local
  *   codegen'd string pipeline, nested struct assembly in the projection.
  * At 100 TB the only shuffle is the groupBy on the bridge fact — dims stay
  * broadcast, everything else is scan-local.
  */
object SyncPipeline {

  /** Per-order collected "groups" (bridge traversal J3/J4/A2/A6): distinct
    * part names + a csv of distinct part types reached through lineitem.
    */
  def orderGroups(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select("l_orderkey", "l_partkey")
      .join(broadcast(t(s, dir, "part").select("p_partkey", "p_name", "p_type")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_orderkey"))
      .agg(
        array_sort(collect_set(col("p_name"))).as("group_names"),
        array_join(array_sort(collect_set(col("p_type"))), ",").as("type_csv"))

  /** Shared assembly: joins + derived columns with arrays kept as arrays —
    * the flat (oracle) and document (JSON) projections both read this plan,
    * so the tag pipeline and group collection run once, not twice.
    */
  private[graft] def assembled(s: SparkSession, dir: String,
      ordersOverride: Option[DataFrame] = None): DataFrame = {
    val orders = ordersOverride.getOrElse(t(s, dir, "orders"))
    // dim halved so the default path (odgovlt.py:195-203) actually fires
    val users = t(s, dir, "customer").filter(col("c_custkey") % 2 === 0)
    val nations = t(s, dir, "nation")
    val regions = t(s, dir, "region")
    orders
      .join(broadcast(users), col("o_custkey") === col("c_custkey"), "left_outer")
      .join(broadcast(nations), col("c_nationkey") === col("n_nationkey"), "left_outer")
      .join(broadcast(regions), col("n_regionkey") === col("r_regionkey"), "left_outer")
      .join(orderGroups(s, dir), col("o_orderkey") === col("l_orderkey"), "left_outer")
      .select(
        col("o_orderkey"),
        TextFunctions.slugifyNorm(
          concat_ws(" ", coalesce(col("c_name"), lit("Unknown User")), col("o_orderkey")))
          .as("name_slug"),
        coalesce(col("c_name"), lit("Unknown User")).as("owner_name"),
        coalesce(col("n_name"), lit("Unknown organization")).as("org_name"),
        coalesce(col("r_name"), lit("Unknown region")).as("org_region"),
        coalesce(col("group_names"), array().cast("array<string>")).as("group_arr"),
        TextFunctions.packageTags(coalesce(col("type_csv"), lit(""))).as("tag_arr"),
        date_format(col("o_orderdate"), "yyyy-MM-dd'T'HH:mm:ss").as("created_iso"),
        col("o_custkey").cast("string").as("extras_kodas"))
  }

  /** The flagship flat package projection: every field of the reference's
    * package dict that is scalar/joinable, flattened for oracle comparison.
    */
  def packageFlat(s: SparkSession, dir: String): DataFrame =
    assembled(s, dir)
      .select(
        col("o_orderkey"), col("name_slug"), col("owner_name"),
        col("org_name"), col("org_region"),
        array_join(col("group_arr"), "|").as("groups"),
        size(col("group_arr")).cast("int").as("n_groups"),
        array_join(col("tag_arr"), "|").as("tags"),
        col("created_iso"), col("extras_kodas"))
      .orderBy("o_orderkey")

  /** The nested package document (P4, odgovlt.py:383-406): arrays of structs
    * for tags/groups/extras inside one document, serialized to JSON the way
    * the reference round-trips rows (odgovlt.py:363). Field order in the
    * struct fixes the JSON key order, so output is deterministic.
    *
    * Serialized with the native [[graft.functions.JsonProject]] expression
    * (byte-identical to `to_json`, pinned by JsonProjectSpec): `to_json` is
    * CodegenFallback, which dragged the whole inlined slug/tag pipeline out
    * of codegen — 14.1s vs 3.7s for the flat twin in round-1 bench.
    */
  def packageDoc(s: SparkSession, dir: String): DataFrame =
    assembled(s, dir)
      .select(
        col("o_orderkey"),
        graft.functions.JsonProject(struct(
          col("name_slug").as("name"),
          col("owner_name").as("maintainer"),
          col("org_name").as("owner_org"),
          col("tag_arr").as("tags"),
          col("group_arr").as("groups"),
          array(
            struct(lit("Šaltinis").as("key"), lit("IVPK IRS").as("value")),
            struct(lit("Kodas").as("key"), col("extras_kodas").as("value"))).as("extras"),
          col("created_iso").as("metadata_created"))).as("package_json"))
      .orderBy("o_orderkey")

  /** The membership edge set the reference emits per imported dataset
    * (`organization_member_create`, odgovlt.py:381): each package's owner is
    * granted the 'editor' role on the owning organization. Set-oriented form:
    * the DISTINCT (owner, org) pairs over the assembled packages — the
    * reference issues one idempotent API call per dataset; the distinct set
    * is the state those calls converge to.
    *
    * Built without the bridge/groups aggregation (memberships don't depend
    * on it), so the plan is two broadcast joins + one distinct shuffle of
    * two small string columns.
    */
  def memberEdges(s: SparkSession, dir: String): DataFrame =
    memberEdgesUnsorted(s, dir).orderBy("owner_name", "org_name")

  /** [[memberEdges]] without the presentation sort — the graph operators
    * ([[graft.ops.GraphOps.pageRank]]) consume the edge SET and impose
    * their own output order; riding the sorted form would execute a
    * rangepartitioning exchange + sort whose ordering every downstream
    * aggregation immediately destroys.
    */
  private[graft] def memberEdgesUnsorted(s: SparkSession, dir: String): DataFrame = {
    val users = t(s, dir, "customer").filter(col("c_custkey") % 2 === 0)
    t(s, dir, "orders")
      .join(broadcast(users), col("o_custkey") === col("c_custkey"), "left_outer")
      .join(broadcast(t(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"), "left_outer")
      .select(
        coalesce(col("c_name"), lit("Unknown User")).as("owner_name"),
        coalesce(col("n_name"), lit("Unknown organization")).as("org_name"),
        lit("editor").as("role"))
      .distinct()
  }

  /** K1: the gather stage's queue sink (odgovlt.py:362-366) — each published
    * source row serialized to a JSON work item in a staging location. The
    * staging write is the exactly-once boundary between gather and import
    * (SURVEY.md §2.9); Parquet stands in for the HarvestObject store.
    */
  def gatherToStaging(s: SparkSession, dir: String, stagingDir: String): Unit =
    t(s, dir, "orders")
      .filter(col("o_orderstatus") === "F")
      .select(
        col("o_orderkey").as("guid"),
        to_json(struct(col("*"))).as("content"))
      .write.mode("overwrite").parquet(stagingDir)

  /** The row-local error classifier — ONE definition for the batch
    * channel ([[importFromStagingWithErrors]], [[syncErrors]]) and the
    * streaming twin ([[graft.streaming.StreamOps.importErrorStream]]),
    * so the two tiers cannot disagree about what an import error is.
    * NULL for an importable item.
    */
  private[graft] def errorClass(guid: Column, rec: Column): Column =
    when(guid.isNull, "missing_guid")
      .when(rec.isNull || rec.getField(CorruptField).isNotNull
          || rec.getField("o_orderkey").isNull, "parse_error")

  /** Corrupt-record column name for [[parsedRecord]] — prefixed so it can
    * never collide with a source schema field.
    */
  private[graft] val CorruptField = "_graft_corrupt"

  /** `from_json` with the corrupt-record channel attached: the returned
    * struct is `schema` plus [[CorruptField]] (raw text iff the parse
    * failed anywhere, else null). The ONE parse definition for both error
    * classifiers and the streaming twin.
    */
  private[graft] def parsedRecord(content: Column,
      schema: org.apache.spark.sql.types.StructType): Column =
    from_json(content,
      schema.add(CorruptField, org.apache.spark.sql.types.StringType),
      java.util.Map.of("columnNameOfCorruptRecord", CorruptField))

  /** K2: the import stage's queue source (odgovlt.py:378) — parse the
    * staged JSON payloads back into typed records (schema from the source
    * catalog) — with the PER-OBJECT ERROR CHANNEL on the work items: the
    * harvest framework's `_save_object_error` accounting (a failed
    * HarvestObject is recorded against the object and the job CONTINUES;
    * the reference inherits it from ckanext-harvest's import loop around
    * `odgovlt.py:378`): every staged `(guid, content)` item classifies as
    * importable or errored, errored rows land in a side table instead of
    * failing the stage or silently nulling through. Two error classes:
    * `missing_guid` (no object identity — nothing to upsert against) and
    * `parse_error` (the JSON payload does not parse). Detector: the
    * parse schema carries an explicit corrupt-record column
    * (`columnNameOfCorruptRecord`, [[CorruptField]]) — PERMISSIVE
    * `from_json` fills it with the raw text whenever ANY parse error
    * occurred, independent of `spark.sql.json.enablePartialResults`
    * (which, default-true since 3.4, can let a LEADING field like the PK
    * survive a mid-payload truncation under some configs — a PK-only
    * probe is config-fragile; round-8 advice). The parsed-PK probe stays
    * as a second clause: a payload that parses cleanly but carries no PK
    * is unimportable for the same operational reason. Deliberately few
    * probes: a per-field all-null conjunction makes the filter pushdown
    * duplicate the whole to_json→from_json chain once per schema column
    * (measured — ~8 parse evaluations per row); two probes keep it
    * bounded.
    *
    * Returns (ok, errors): `ok` is the typed frame (guid + the source
    * schema's columns) over the importable subset; `errors` is
    * `(guid, error)` — the audit rows an operator reads before re-running
    * the harvest. The two frames prune opposite halves of one shared
    * classifier PLAN — but they are returned lazily, so a caller that
    * ACTIONS both pays two staging scans (and two JSON parses); a caller
    * on the both-sides path should persist the frames it is about to
    * consume (the standing caller-owns-the-cache contract — the library
    * never pins a cache inside a returned frame).
    */
  def importFromStagingWithErrors(s: SparkSession, dir: String,
      stagingDir: String): (DataFrame, DataFrame) = {
    val schema = t(s, dir, "orders").schema
    val classified = s.read.parquet(stagingDir)
      .select(col("guid"), parsedRecord(col("content"), schema).as("rec"))
      .withColumn("error", errorClass(col("guid"), col("rec")))
    val ok = classified.filter(col("error").isNull)
      .select((Seq(col("guid")) ++ schema.fieldNames.map(f => col(s"rec.$f"))): _*)
    val errors = classified.filter(col("error").isNotNull)
      .select(col("guid"), col("error"))
    (ok, errors)
  }

  /** Deterministic corruption moduli for the DECLARED error-channel query
    * ([[syncErrors]]): every [[CorruptTruncMod]]-th staged payload is
    * truncated to half (a proper prefix of a JSON object is never valid
    * JSON — the crash-mid-write shape), every [[CorruptGuidMod]]-th loses
    * its guid. The same integers drive the oracle's analytic derivation.
    */
  val CorruptTruncMod = 13
  val CorruptGuidMod = 17

  /** The error channel DECLARED: gather-shaped work items with
    * deterministic corruption injected in-plan, classified by the same
    * detector [[importFromStagingWithErrors]] uses, reporting one audit
    * row per failed object — `(obj_id, error)`, where obj_id is the
    * staged HarvestObject's own id (the identity `_save_object_error`
    * attaches to, which survives even a lost guid). The Spark side finds
    * parse errors by ACTUALLY failing to parse the truncated payload;
    * the oracle derives the same set analytically from the corruption
    * moduli — a detector that swallows or over-fires value-mismatches.
    * missing_guid takes precedence when both corruptions hit one object
    * (mirrored in the oracle's CASE order).
    */
  def syncErrors(s: SparkSession, dir: String): DataFrame = {
    val schema = t(s, dir, "orders").schema
    val dirty = t(s, dir, "orders")
      .filter(col("o_orderstatus") === "F")
      .select(
        col("o_orderkey").as("obj_id"),
        when(col("o_orderkey") % CorruptGuidMod === 0, lit(null))
          .otherwise(col("o_orderkey")).as("guid"),
        to_json(struct(col("*"))).as("content0"))
      .select(col("obj_id"), col("guid"),
        // half-length truncation: substring length is per-row integer math
        when(col("obj_id") % CorruptTruncMod === 0,
          expr("substring(content0, 1, length(content0) div 2)"))
          .otherwise(col("content0")).as("content"))
    dirty
      .withColumn("rec", parsedRecord(col("content"), schema))
      .select(col("obj_id"),
        errorClass(col("guid"), col("rec")).as("error"))
      .filter(col("error").isNotNull)
      .orderBy("obj_id")
  }

  /** The reference's sync protocol CLASSIFIER, the one rule behind the
    * real harvest and [[mergeActions]]' simulated target:
    * given the assembled source state and the target's current documents,
    * emit exactly the action set the reference's per-entity loop would —
    *
    *  - key absent from target → `create` (odgovlt.py:287,255-257);
    *  - key present and `was_changed` fires → `update` (odgovlt.py:278-284
    *    — the PATCH branch); present and unchanged → NO action (the
    *    was_changed skip: the reference logs "up to date" and calls
    *    nothing);
    *  - target key absent from source AND owned by this source → `delete`
    *    (odgovlt.py:312-318 — the `Šaltinis == 'IVPK IRS'` extras guard);
    *    unowned stale targets are untouched.
    *
    * Change detection is [[graft.ops.ChangeOps.subsetChanged]] over the
    * columns the SOURCE sends (subset semantics, odgovlt.py:112-124: the
    * sync never un-sets a field it isn't sending — target-only columns
    * are ignored). `owned` is evaluated against target rows.
    *
    * Scale shape: one full-outer shuffle join on the key with a row-local
    * codegen'd diff predicate — the target side is the synced corpus, the
    * source side the harvest; neither is collected, and the emitted
    * action set holds only changed keys (small by the merge's nature), so
    * [[graft.SyncJob.applyActions]] can broadcast it back.
    */
  def classifyAgainst(source: DataFrame, target: DataFrame, key: String,
      owned: Column): DataFrame = {
    val shared = source.columns.filter(c =>
      c != key && target.columns.contains(c)).toSeq
    val docType = org.apache.spark.sql.types.StructType(
      shared.map(c => source.schema(c)))
    val src = source.select(col(key).as("__s_key"),
      struct(shared.map(col): _*).as("__s_doc"))
    val tgt = target.select(col(key).as("__t_key"),
      struct(shared.map(col): _*).as("__t_doc"), owned.as("__owned"))
    src.join(tgt, col("__s_key") === col("__t_key"), "full_outer")
      .select(
        coalesce(col("__s_key"), col("__t_key")).as("key"),
        when(col("__t_key").isNull, "create")
          .when(col("__s_key").isNull && col("__owned"), "delete")
          .when(col("__s_key").isNull, "noop")
          .when(graft.ops.ChangeOps.subsetChanged(
            col("__t_doc"), col("__s_doc"), docType), "update")
          .otherwise("noop").as("action"))
      .filter(col("action") =!= "noop")
  }

  /** FIND-OR-CREATE classification — the user/org tiers of the protocol
    * (odgovlt.py:205-211 `user_list`→`user_create`, odgovlt.py:249-257
    * `organization_show`→NotFound→`organization_create`): the reference
    * looks these entities up by name and creates them only when absent —
    * it NEVER patches or deletes them (unlike packages and groups, which
    * are was_changed-gated). Set form: the distinct source keys
    * anti-joined against the target's — one broadcast-able action set,
    * no diff predicate at all, because target-side drift on these tiers
    * is deliberately left alone.
    */
  def classifyFindOrCreate(source: DataFrame, target: DataFrame,
      key: String): DataFrame =
    source.select(col(key).as("key")).distinct()
      .join(target.select(col(key).as("__t_key")),
        col("key") === col("__t_key"), "left_anti")
      .select(col("key"), lit("create").as("action"))

  /** K3-K5 merge-set computation (the upsert/delete semantics of
    * odgovlt.py:205-211,249-257,312-318,407): [[classifyAgainst]] over a
    * simulated target, so the declared query and the real harvest share
    * one classifier.
    *
    *  - source: current upstream state (published orders)
    *  - target: previously-synced state — simulated as a deterministic
    *    subset with a deterministic field mutation
    *  - delete only fires for target rows "owned" by this source
    *    (the F4 `Šaltinis == 'IVPK IRS'` guard) — here: even order keys.
    */
  def mergeActions(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    val source = orders.filter(col("o_orderstatus") === "F")
      .select("o_orderkey", "o_orderpriority")
    val target = orders.filter(col("o_orderkey") % 3 === 0)
      .select(col("o_orderkey"),
        when(col("o_orderkey") % 9 === 0, lit("0-MUTATED"))
          .otherwise(col("o_orderpriority")).as("o_orderpriority"))
    classifyAgainst(source, target, "o_orderkey",
      owned = col("o_orderkey") % 2 === 0)
      .orderBy("key")
  }
}
