package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.HierarchyOps

/** Covers the tree walk (J5) on a literal adjacency list — shape, depth,
  * paths, cycle guard — and the nested package document (P4) structure on
  * the sf0.001 fixture, mirroring the reference's e2e assertions
  * (`/root/reference/tests/test_odgovlt.py:241-260,326-359`).
  */
class PipelineSpec extends AnyFunSuite with SharedSpark {

  val sf = "/root/testdata/sf0.001"

  test("treeWalk: 3-level tree yields depth/root/path like the reference fixture") {
    import spark.implicits._
    // the reference fixture tree: roots 1,2; children 3,4; leaves 5,6,7
    // (tests/test_odgovlt.py:180-220)
    val edges = Seq(
      (1L, 0L, "Roads"), (2L, 0L, "Water"),
      (3L, 1L, "Highways"), (4L, 2L, "Lakes"),
      (5L, 3L, "A1"), (6L, 3L, "A2"), (7L, 4L, "Galve")
    ).toDF("node_id", "parent_id", "name")
    val got = HierarchyOps.treeWalk(edges)
      .orderBy("node_id")
      .select("node_id", "depth", "root_name", "path")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getString(3)))
    assert(got.toList == List(
      (1L, 1, "Roads", "Roads"),
      (2L, 1, "Water", "Water"),
      (3L, 2, "Roads", "Roads/Highways"),
      (4L, 2, "Water", "Water/Lakes"),
      (5L, 3, "Roads", "Roads/Highways/A1"),
      (6L, 3, "Roads", "Roads/Highways/A2"),
      (7L, 3, "Water", "Water/Lakes/Galve")))
  }

  test("treeWalk: cycle does not loop forever (maxDepth guard)") {
    import spark.implicits._
    val edges = Seq(
      (1L, 0L, "root"), (2L, 3L, "a"), (3L, 2L, "b")
    ).toDF("node_id", "parent_id", "name")
    // nodes 2,3 form a cycle unreachable from the root: never emitted
    val got = HierarchyOps.treeWalk(edges, maxDepth = 5).collect()
    assert(got.map(_.getLong(0)).toList == List(1L))
  }

  test("packageDoc: nested document carries tags/groups/extras arrays") {
    val doc = SyncPipeline.packageDoc(spark, sf).limit(50)
      .filter(get_json_object(col("package_json"), "$.groups[0]").isNotNull)
      .select(
        get_json_object(col("package_json"), "$.name").as("name"),
        get_json_object(col("package_json"), "$.extras[0].key").as("k0"),
        get_json_object(col("package_json"), "$.extras[0].value").as("v0"),
        get_json_object(col("package_json"), "$.maintainer").as("maint"))
      .collect()
    assert(doc.nonEmpty)
    doc.foreach { r =>
      assert(r.getString(0).matches("[a-z0-9-]+"))
      assert(r.getString(1) == "Šaltinis")
      assert(r.getString(2) == "IVPK IRS")
      assert(r.getString(3).nonEmpty)
    }
  }

  test("mergeActions: classifies create/update/delete, never noop") {
    val acts = SyncPipeline.mergeActions(spark, sf)
      .groupBy("action").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(acts.keySet == Set("create", "update", "delete"))
    assert(acts.values.forall(_ > 0))
  }
}
