package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.Curation

/** RHO-style excess-surprise selection invariants. The DuckDB oracle pins
  * the exact relation; these pin the semantics independently: a pure-Scala
  * re-derivation of BOTH models' document scores (own tokenizer, own
  * integer log2 — no Spark columns in the loop), the grounding of `ce_ref`
  * in the already-decided [[Curation.lmScore]], and the ordered-quota rule.
  */
class LmExcessSpec extends AnyFunSuite with SharedSpark {

  private val dir = "/root/testdata/sf0.001"

  /** Both scorers re-derived in pure Scala: per-language (c12, c1, vocab)
    * over the trusted slice AND over the pool slice, then per pool
    * document the two exact integer bit counts on the shared grid.
    */
  private lazy val expected: Seq[(Long, String, Long, Long, Long, Long)] = {
    val docs = Tables.table(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
    def toks(text: String): Seq[String] = text.split("\\s+", -1).toSeq
    def fit(slice: Seq[(Long, String, String, String)])
        : (Map[(String, String, String), Long], Map[(String, String), Long],
           Map[String, Long]) = {
      val c12 = scala.collection.mutable.Map
        .empty[(String, String, String), Long].withDefaultValue(0L)
      val c1 = scala.collection.mutable.Map.empty[(String, String), Long]
        .withDefaultValue(0L)
      val vocab = scala.collection.mutable.Map.empty[String, Set[String]]
        .withDefaultValue(Set.empty)
      slice.foreach { case (_, lang, _, text) =>
        val ts = toks(text)
        vocab(lang) = vocab(lang) ++ ts
        ts.zip(ts.drop(1)).foreach { case (a, b) =>
          c12((lang, a, b)) += 1
          c1((lang, a)) += 1
        }
      }
      (c12.toMap.withDefaultValue(0L), c1.toMap.withDefaultValue(0L),
        vocab.map { case (l, s) => l -> s.size.toLong }.toMap)
    }
    val trusted = docs.filter(_._3 == Curation.DsirTargetSource)
    val pool = docs.filter(_._3 != Curation.DsirTargetSource)
    val (c12r, c1r, vr) = fit(trusted)
    val (c12s, c1s, vs) = fit(pool)
    val q = 1L << Curation.LmQBits
    def bits(num: Long, den: Long): Long = {
      val ratio = den * q / num
      val lg = java.lang.Long.toBinaryString(ratio).length - 1
      (lg - Curation.LmQBits) * Curation.LmMantissa +
        ratio * Curation.LmMantissa / (1L << lg) - Curation.LmMantissa
    }
    val scored = pool
      .filter { case (_, lang, _, text) =>
        vr.contains(lang) && toks(text).length >= 2 }
      .map { case (id, lang, _, text) =>
        val ts = toks(text)
        val bs = ts.zip(ts.drop(1)).map { case (a, b) =>
          (bits(c12r((lang, a, b)) + 1, c1r((lang, a)) + vr(lang) + 1),
            bits(c12s((lang, a, b)) + 1, c1s((lang, a)) + vs(lang) + 1))
        }
        val n = bs.length.toLong
        val ceRef = bs.map(_._1).sum * 1000 / n
        val ceSelf = bs.map(_._2).sum * 1000 / n
        (id, lang, n, ceRef, ceSelf, ceSelf - ceRef)
      }
    scored.sortBy { case (id, _, _, _, _, ex) => (-ex, id) }
      .take(Curation.LmExcessQuota).toSeq
  }

  private lazy val got: Seq[(Long, String, Long, Long, Long, Long)] =
    Curation.lmExcess(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq

  test("lmExcess matches the two-model pure-Scala re-derivation, in order") {
    assert(got == expected)
  }

  test("ce_ref is lmScore's ce_milli_q8 row for row") {
    val ref = Curation.lmScore(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(4)).toMap
    got.foreach { case (id, _, _, ceRef, _, _) =>
      assert(ceRef == ref(id), s"doc $id")
    }
  }

  test("self-scored pool bigrams always have c12 >= 1: ce_self is finite " +
      "and the excess column is self minus ref exactly") {
    got.foreach { case (id, _, _, ceRef, ceSelf, ex) =>
      assert(ex == ceSelf - ceRef, s"doc $id")
    }
    // quota respected
    assert(got.length <= Curation.LmExcessQuota)
  }
}
