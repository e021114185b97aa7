package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.ChangeOps

/** The recursive subset-diff must reproduce the reference's was_changed
  * semantics (odgovlt.py:112-124): new-side keys only, dict recursion,
  * list comparison over the NEW list's indices — an appended element is a
  * change, a dropped tail is not.
  */
class ChangeOpsSpec extends AnyFunSuite with SharedSpark {

  /** Evaluate subsetChanged for one (old, new) pair of struct expressions. */
  private def changed(oldC: org.apache.spark.sql.Column,
      neuC: org.apache.spark.sql.Column): Boolean = {
    val df = spark.range(1).select(oldC.as("o"), neuC.as("n"))
    df.select(ChangeOps.subsetChanged(col("o"), col("n"),
      df.schema("n").dataType).as("c")).collect()(0).getBoolean(0)
  }

  test("identical depth-3 documents are unchanged") {
    val doc = struct(lit("a").as("x"),
      struct(lit(1L).as("k"), struct(lit("deep").as("z")).as("inner")).as("m"))
    assert(!changed(doc, doc))
  }

  test("a depth-3 leaf mutation fires") {
    val oldD = struct(lit("a").as("x"),
      struct(lit(1L).as("k"), struct(lit("deep").as("z")).as("inner")).as("m"))
    val newD = struct(lit("a").as("x"),
      struct(lit(1L).as("k"), struct(lit("DEEP!").as("z")).as("inner")).as("m"))
    assert(changed(oldD, newD))
  }

  test("fields missing from the new side are ignored (subset semantics)") {
    val oldD = struct(lit("a").as("x"), lit("extra").as("y"),
      struct(lit(1L).as("k"), lit("p").as("gone")).as("m"))
    val newD = struct(lit("a").as("x"), struct(lit(1L).as("k")).as("m"))
    assert(!changed(oldD, newD))
  }

  test("lists compare only the common prefix (a shorter tail is no change)") {
    val oldD = struct(array(lit("a"), lit("b"), lit("c")).as("tags"))
    val shorter = struct(array(lit("a"), lit("b")).as("tags"))
    val mutated = struct(array(lit("a"), lit("X")).as("tags"))
    assert(!changed(oldD, shorter))
    assert(changed(oldD, mutated))
  }

  test("a LONGER new list is a change even when the prefix matches") {
    // odgovlt.py:118: `if i >= len(old) or ...` — the appended index alone
    // fires, with identical common-prefix elements
    val oldD = struct(array(lit("a"), lit("b")).as("tags"))
    val longer = struct(array(lit("a"), lit("b"), lit("c")).as("tags"))
    assert(changed(oldD, longer))
    // empty old vs non-empty new is the degenerate longer case
    val emptyOld = struct(array().cast("array<string>").as("tags"))
    assert(changed(emptyOld, longer))
    assert(!changed(emptyOld, struct(array().cast("array<string>").as("tags"))))
  }

  test("arrays of structs recurse per element") {
    val oldD = struct(array(
      struct(lit("k1").as("key"), lit("v1").as("value")),
      struct(lit("k2").as("key"), lit("v2").as("value"))).as("extras"))
    val same = struct(array(
      struct(lit("k1").as("key"), lit("v1").as("value"))).as("extras"))
    val diff = struct(array(
      struct(lit("k1").as("key"), lit("CHANGED").as("value"))).as("extras"))
    assert(!changed(oldD, same))
    assert(changed(oldD, diff))
  }

  test("null handling: null-vs-null unchanged, null-vs-value changed") {
    val s = lit(null).cast("string")
    assert(!changed(struct(s.as("x")), struct(lit(null).cast("string").as("x"))))
    assert(changed(struct(lit("v").as("x")), struct(lit(null).cast("string").as("x"))))
    assert(changed(struct(s.as("x")), struct(lit("v").as("x"))))
    val nullArr = lit(null).cast("array<string>")
    assert(!changed(struct(nullArr.as("t")), struct(lit(null).cast("array<string>").as("t"))))
    assert(changed(struct(array(lit("a")).as("t")), struct(lit(null).cast("array<string>").as("t"))))
  }

  test("declared query: only the 11th/13th-key mutations fire") {
    val got = ChangeOps.a7cNestedDiff(spark, "/root/testdata/sf0.001")
      .collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val k = r.getLong(0)
      assert(k % 11 == 0 || k % 13 == 0, s"unexpected changed key $k")
    }
  }

  test("scd2 history replays as a plain-Scala compress + interval-ize") {
    val dir = "/root/testdata/sf0.001"
    val got = ChangeOps.scd2History(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), if (r.isNullAt(4)) None else Some(r.getLong(4)),
        r.getBoolean(5)))

    // epoch micros of a java.sql.Timestamp (the repo's shared-precision
    // convention the operator now emits)
    def us(ts: java.sql.Timestamp): Long =
      Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000
    val events = Tables.table(spark, dir, "events")
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), us(r.getTimestamp(2)), r.getLong(3)))
    val want = events.groupBy(_._1).toSeq.flatMap { case (user, es) =>
      val sorted = es.sortBy(e => (e._3, e._4))
      val compressed = sorted.zip(None +: sorted.map(e => Some(e._2)))
        .collect { case (e, prev) if prev.forall(_ != e._2) => e }
      compressed.zip(compressed.drop(1).map(e => Some(e._3)) :+ None)
        .map { case ((u, et, ts, id), to) => (u, id, et, ts, to, to.isEmpty) }
    }.sortBy(v => (v._1, v._4, v._2))

    assert(got.length == want.length,
      s"${got.length} versions vs ${want.length} expected")
    assert(got.toSeq == want.toSeq)
    // every user's history must end in exactly one open (current) version
    val currents = got.groupBy(_._1).map { case (_, vs) => vs.count(_._6) }
    assert(currents.forall(_ == 1))
  }
}
