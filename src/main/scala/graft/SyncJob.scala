package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The complete harvest lifecycle (SURVEY.md §3) as one callable — the
  * set-oriented equivalent of running gather_stage + import_stage end to
  * end (`/root/reference/odgovlt.py:355-367,373-407`):
  *
  *   1. gather: published rows → JSON work items in staging (K1, S3 gate)
  *   2. import: staging → typed records (K2)
  *   3. assembly: joins + defaults + bridge collect + tag pipeline →
  *      package documents (J1-J4, P4, SF1-SF7)
  *   4. merge: classify create/update/delete against the target's
  *      current documents (A7, K3-K5)
  *
  * The staging hop is the exactly-once boundary: a crashed import re-reads
  * the same staged snapshot, and re-running the whole job is idempotent
  * because the merge classifies against whatever the target holds.
  */
object SyncJob {

  /** `errors` is the per-object error side-channel (the harvest
    * framework's `_save_object_error` accounting): staged items that
    * could not import — `(guid, error)` — reported while the job
    * CONTINUES over the importable rest.
    */
  final case class Result(packages: DataFrame, actions: DataFrame,
      errors: DataFrame)

  /** `target`: the target's current documents — `o_orderkey`,
    * `extras_kodas` (set on documents this source owns) and any package
    * fields to compare. An empty target classifies every package a create.
    */
  def run(s: SparkSession, dir: String, stagingDir: String,
      target: DataFrame): Result = {
    SyncPipeline.gatherToStaging(s, dir, stagingDir)
    val (ok, errors) =
      SyncPipeline.importFromStagingWithErrors(s, dir, stagingDir)
    val packages = SyncPipeline.assembled(s, dir, Some(ok.drop("guid")))
      .orderBy("o_orderkey")
    val actions = SyncPipeline.classifyAgainst(packages, target, "o_orderkey",
      owned = col("extras_kodas").isNotNull)
    Result(packages, actions, errors)
  }

  /** Step 5 — apply the classified sets to a target through any
    * [[graft.sources.ActionSink]] tier (JDBC or the reference's REST
    * surface). The action table is tiny relative to the corpus (changed
    * keys only), so it broadcasts into semi-joins against the assembled
    * packages — the payload side never shuffles.
    */
  def applyActions(packages: DataFrame, actions: DataFrame, keyCol: String,
      sink: graft.sources.ActionSink,
      createWavesBy: Option[String] = None): Unit = {
    // Each sink verb is its own Spark action, so without materialization the
    // assembled-packages lineage (four joins + slug/tag pipelines) would
    // recompute per verb. Join ONCE against all non-delete actions and
    // persist the result: it holds only the changed rows — small relative to
    // the corpus by the merge's nature — so the cache is cheap and create /
    // update are two filters over the same materialized frame. An
    // `actions` frame the caller already cached stays the caller's: only
    // a cache taken here is released here.
    val ownsActsCache = actions.storageLevel == StorageLevel.NONE
    val acts = if (ownsActsCache) actions.persist() else actions
    val upserts = acts.filter(col("action") =!= "delete")
      .select(col("key"), col("action").as("__action"))
    val payload = packages
      .join(broadcast(upserts), packages(keyCol) === upserts("key"), "inner")
      .drop(upserts("key")) // by reference: keyCol itself may be named "key"
      .persist()
    try {
      val creates = payload.filter(col("__action") === "create").drop("__action")
      createWavesBy match {
        case None => sink.create(creates)
        case Some(depthCol) =>
          // the group tier's ordering constraint (see [[applyGroupActions]]):
          // descending-depth waves, O(tree height) driver iterations.
          // A null depth has no defined wave — `=== d` would silently skip
          // the row (an entity that never reaches the target, with no
          // error) and getInt would NPE the driver — so fail loudly here:
          // depth is derived by the tree walk and null means the caller's
          // hierarchy was broken upstream.
          val depths = creates.select(col(depthCol).cast("int")).distinct()
            .collect().map { r =>
              require(!r.isNullAt(0),
                s"createWavesBy=$depthCol: null depth on a create row — " +
                "the entity would be silently dropped from the sync")
              r.getInt(0)
            }.sorted.reverse
          depths.foreach(d => sink.create(creates.filter(col(depthCol) === d)))
      }
      sink.update(payload.filter(col("__action") === "update").drop("__action"))
      sink.delete(acts.filter(col("action") === "delete").select(col("key")))
    } finally {
      payload.unpersist()
      if (ownsActsCache) acts.unpersist()
    }
  }

  /** [[applyActions]] for the GROUP tier, where create ORDER is part of
    * the protocol: a group's `groups` field references its children by
    * name, so children must exist before their parent is created — the
    * reference guarantees this by consuming the recursive generator
    * before the parent's own create call (odgovlt.py:260-287, post-order
    * DFS). Set-oriented equivalent: issue creates in DESCENDING `depthCol`
    * waves (deepest = leaf-most first); within a wave nodes are mutually
    * non-ancestral, so intra-wave order is free and the waves can each be
    * a fully parallel sink pass. Updates and deletes carry no ordering
    * constraint (the reference patches in traversal order only as an
    * artifact of its loop) and run as single passes. The wave loop is
    * O(tree height) driver iterations — a scalar bound, not a data bound.
    */
  def applyGroupActions(groups: DataFrame, actions: DataFrame, keyCol: String,
      depthCol: String, sink: graft.sources.ActionSink): Unit =
    applyActions(groups, actions, keyCol, sink, createWavesBy = Some(depthCol))

  /** The full lifecycle ending at an external target: gather → import →
    * assemble → merge-classify → push. With an [[graft.sources.HttpSink]]
    * this is the reference's complete harvester
    * (`/root/reference/odgovlt.py:355-367,373-407`) as one call.
    */
  def push(s: SparkSession, dir: String, stagingDir: String,
      target: DataFrame, sink: graft.sources.ActionSink): Result = {
    val r = run(s, dir, stagingDir, target)
    applyActions(r.packages, r.actions, "o_orderkey", sink)
    r
  }
}
