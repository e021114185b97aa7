package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.Dedup

/** Connected-components invariants (the DuckDB recursive-closure oracle
  * pins exact values; this pins the graph properties that make the labels a
  * valid clustering).
  */
class ComponentsSpec extends AnyFunSuite with SharedSpark {

  private val dir = "/root/testdata/sf0.001"

  test("labels cover every document, never exceed the doc_id, and are consistent across every near-dup pair") {
    val labels = Dedup.nearDupComponents(spark, dir).cache()
    val nDocs = Tables.table(spark, dir, "documents").count()
    assert(labels.count() == nDocs, "every document must be labeled")
    assert(labels.filter(col("component") > col("doc_id")).count() == 0,
      "a component label is the minimum id in the cluster")
    // both endpoints of every edge must agree (the components ride the
    // 64-bit pair tier since round 12)
    val pairs = Dedup.simhash64Pairs(spark, dir).select("a_id", "b_id")
    val disagree = pairs
      .join(labels.withColumnRenamed("doc_id", "a_id")
        .withColumnRenamed("component", "ca"), "a_id")
      .join(labels.withColumnRenamed("doc_id", "b_id")
        .withColumnRenamed("component", "cb"), "b_id")
      .filter(col("ca") =!= col("cb"))
      .count()
    assert(disagree == 0, "paired documents must share a component")
    // at least one real (multi-doc) cluster exists in the fixture
    val multi = labels.groupBy("component").count().filter(col("count") > 1).count()
    assert(multi > 0, "fixture should contain at least one near-dup cluster")
    spark.catalog.clearCache()
  }

  test("canonical selection keeps exactly the longest member per cluster") {
    val rows = Dedup.dedupCanonical(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    // same clustering as the label convention (the policy layer must not
    // perturb the components underneath)
    val labels = Dedup.nearDupComponents(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    rows.foreach { case (d, c, _, _) => assert(labels(d) == c, s"doc $d") }
    for ((c, ms) <- rows.groupBy(_._2)) {
      val canon = ms.filter(_._4)
      assert(canon.length == 1, s"component $c: ${canon.length} canonicals")
      // the winner is the unique max under (n_chars desc, doc_id asc)
      val want = ms.minBy(m => (-m._3, m._1))
      assert(canon.head == want, s"component $c: ${canon.head} vs $want")
    }
    // the policy is non-vacuous on the fixture: a multi-member cluster
    // exists, and keep-longest genuinely disagrees with keep-min-id
    assert(rows.groupBy(_._2).exists(_._2.length > 1))
    assert(rows.exists(r => r._4 && r._1 != r._2),
      "fixture should contain a canonical that is not the min-id member")
    spark.catalog.clearCache()
  }

  test("dedup report summarizes the component frame exactly") {
    val comp = Dedup.nearDupComponents(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    spark.catalog.clearCache()
    val sizes = comp.groupBy(_._2).map(_._2.length.toLong).toSeq
    val clustered = sizes.filter(_ > 1)
    val got = Dedup.dedupReport(spark, dir).collect()
    spark.catalog.clearCache()
    assert(got.length == 1)
    val r = got.head
    assert(r.getLong(0) == comp.length.toLong)
    assert(r.getLong(1) == clustered.sum)
    assert(r.getLong(2) == clustered.length.toLong)
    assert(r.getLong(3) == clustered.sum - clustered.length)
    assert(r.getLong(4) ==
      (clustered.sum - clustered.length) * 1000000L / comp.length)
    assert(r.getLong(5) == sizes.max)
    // the report is non-vacuous on the fixture: real duplication exists
    assert(r.getLong(3) > 0 && r.getLong(5) > 1)
  }
}
