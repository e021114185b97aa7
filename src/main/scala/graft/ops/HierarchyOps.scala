package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.{table => t}

/** J5: the reference's category-tree traversal
  * (`/root/reference/odgovlt.py:260-287,302-307` — adjacency list in
  * `t_kategorija` with parent pointer `KATEGORIJA_ID`, root = 0, materialized
  * depth `LYGIS` ≤ 3 in fixtures), re-expressed as a bounded iterative
  * self-join instead of driver-side recursion.
  *
  * Scale design: each level is one broadcast join of the (small) frontier
  * against the full edge set — the edge DataFrame is scanned once per level
  * and the loop is bounded by the actual tree depth (`maxDepth` guard stops
  * cycles). For catalog-sized hierarchies (thousands of nodes) every join is
  * a broadcast; nothing here shuffles the fact side. This is the standard
  * Spark answer to WITH RECURSIVE (which Catalyst lacks).
  */
object HierarchyOps {

  /** Walk an adjacency list `(node_id, parent_id, name)` from the roots
    * (`parent_id == 0`) down, producing
    * `(node_id, name, depth, root_name, path)` with `/`-joined paths.
    */
  def treeWalk(edges: DataFrame, maxDepth: Int = 20): DataFrame = {
    val e = edges.select("node_id", "parent_id", "name")
    // localCheckpoint each level: the per-level isEmpty action and the
    // final union consumer would otherwise re-execute every level's join
    // lineage (O(depth²) joins); checkpointing materializes each
    // catalog-sized level once and truncates its lineage
    var frontier = e.filter(col("parent_id") === 0L)
      .select(
        col("node_id"), col("name"), lit(1).as("depth"),
        col("name").as("root_name"), col("name").as("path"))
      .localCheckpoint()
    var out = frontier
    var depth = 1
    var done = false
    while (!done && depth < maxDepth) {
      val next = e.as("c")
        .join(broadcast(frontier.as("p")), col("c.parent_id") === col("p.node_id"))
        .select(
          col("c.node_id"), col("c.name"), (col("p.depth") + 1).as("depth"),
          col("p.root_name"),
          concat(col("p.path"), lit("/"), col("c.name")).as("path"))
        .localCheckpoint()
      if (next.isEmpty) done = true
      else {
        out = out.unionByName(next)
        frontier = next
        depth += 1
      }
    }
    out
  }

  /** Build a 3-level tree from the harness tables (mirrors the reference's
    * 3-level fixture tree, tests/test_odgovlt.py:180-220):
    * region (roots) → nation → supplier. Ids are offset into disjoint ranges.
    */
  def harnessEdges(s: SparkSession, dir: String): DataFrame = {
    val region = t(s, dir, "region").select(
      (col("r_regionkey") + 1).cast("bigint").as("node_id"),
      lit(0L).as("parent_id"),
      col("r_name").as("name"))
    val nation = t(s, dir, "nation").select(
      (col("n_nationkey") + 100).cast("bigint").as("node_id"),
      (col("n_regionkey") + 1).cast("bigint").as("parent_id"),
      col("n_name").as("name"))
    val supplier = t(s, dir, "supplier").select(
      (col("s_suppkey") + 10000).cast("bigint").as("node_id"),
      (col("s_nationkey") + 100).cast("bigint").as("parent_id"),
      col("s_name").as("name"))
    region.unionByName(nation).unionByName(supplier)
  }

  /** The SYNC form of the group tree (P3/SF7 + §2.9): one row per tree
    * node carrying exactly the fields the reference sends on
    * `group_create`/`group_patch` (odgovlt.py:260-287) — the
    * slugify(name + ' ' + id) group name (odgovlt.py:289-290), the title,
    * the ORDERED child-name list (the parent's `groups` field — which is
    * why creates must be issued children-first; [[graft.SyncJob
    * .applyActions]] owns that ordering via `createWavesBy`), and
    * the source-ownership extras marker the stale-delete guard reads
    * (odgovlt.py:312-318). Children are collected bottom-up with one
    * hash aggregate over the edge set; everything else is the bounded
    * [[treeWalk]] — no data-sized shuffles beyond the one collect.
    */
  def groupDocs(s: SparkSession, dir: String): DataFrame = {
    val edges = harnessEdges(s, dir)
    def slug(name: org.apache.spark.sql.Column, id: org.apache.spark.sql.Column) =
      graft.TextFunctions.slugifyNorm(concat_ws(" ", name, id))
    val kids = edges
      .select(col("parent_id"), slug(col("name"), col("node_id")).as("child_slug"))
      .groupBy(col("parent_id"))
      .agg(array_join(array_sort(collect_set(col("child_slug"))), "|").as("children"))
    treeWalk(edges)
      .join(kids, col("node_id") === col("parent_id"), "left_outer")
      .select(
        slug(col("name"), col("node_id")).as("group_slug"),
        col("name").as("title"),
        coalesce(col("children"), lit("")).as("children"),
        col("depth").cast("int").as("depth"),
        lit("IVPK IRS").as("extras_source"))
  }

  /** Declared query: full tree materialization with depth/root/path. */
  def j5Tree(s: SparkSession, dir: String): DataFrame =
    treeWalk(harnessEdges(s, dir))
      .select(col("node_id"), col("name"), col("depth").cast("int").as("depth"),
        col("root_name"), col("path"))
      .orderBy("node_id")
}
