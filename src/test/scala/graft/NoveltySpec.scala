package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.Curation

/** N-gram novelty invariants: a pure-Scala set-algebra re-derivation of
  * every pool document's score from the raw parquet (own tokenizer, own
  * shingling, own distinct), plus the grid laws the integer ratio encodes.
  */
class NoveltySpec extends AnyFunSuite with SharedSpark {

  private val dir = "/root/testdata/sf0.001"

  /** Mirrors TextHash.shingles3 exactly: distinct space-joined word
    * 3-grams; documents under 3 tokens get the `""` fallback (which the
    * operator then excludes on both sides).
    */
  private def shingles(text: String): Seq[String] = {
    val ts = text.split("\\s+", -1).toSeq
    if (ts.length >= 3) ts.sliding(3).map(_.mkString(" ")).toSeq.distinct
    else Seq("")
  }

  private lazy val docs =
    Tables.table(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))

  test("ngramNovelty matches the pure-Scala set-algebra re-derivation") {
    val ref = docs.filter(_._3 == Curation.DsirTargetSource)
      .flatMap(d => shingles(d._4)).filter(_.nonEmpty).toSet
    val expected = docs.filter(_._3 != Curation.DsirTargetSource)
      .flatMap { case (id, lang, _, text) =>
        val gs = shingles(text).filter(_.nonEmpty)
        if (gs.isEmpty) None
        else {
          val n = gs.length.toLong
          val known = gs.count(ref.contains).toLong
          Some((id, (lang, n, known, (n - known) * 1000000L / n)))
        }
      }.toMap
    val got = Curation.ngramNovelty(spark, dir).collect()
      .map(r => (r.getLong(0),
        (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))))
    assert(got.map(_._1).toSet == expected.keySet,
      "scored exactly the shingle-bearing pool documents")
    got.foreach { case (id, row) => assert(row == expected(id), s"doc $id") }
    // output is ordered and single-row per document
    assert(got.map(_._1).toSeq == got.map(_._1).toSeq.sorted)
    assert(got.length == got.map(_._1).distinct.length)
  }

  test("the x1e6 grid is an honest ratio: 0 <= novelty <= 1e6, with the " +
      "endpoints meaning fully-known / fully-novel") {
    val got = Curation.ngramNovelty(spark, dir).collect()
      .map(r => (r.getLong(2), r.getLong(3), r.getLong(4)))
    got.foreach { case (n, known, nov) =>
      assert(known >= 0L && known <= n)
      assert(nov >= 0L && nov <= 1000000L)
      if (known == n) assert(nov == 0L)
      if (known == 0L) assert(nov == 1000000L)
    }
  }
}
