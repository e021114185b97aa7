package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.Curation

/** CCNet LM-perplexity filter invariants. The DuckDB oracle pins the exact
  * relation; these pin the semantics independently: a pure-Scala
  * re-derivation of whole documents' bit counts (own tokenizer, own integer
  * log2 — no Spark columns), the add-one probability laws the integer
  * arithmetic encodes, and the tercile set algebra.
  */
class LmSpec extends AnyFunSuite with SharedSpark {

  private val dir = "/root/testdata/sf0.001"

  /** The whole scorer re-derived in pure Scala over the fixture corpus:
    * per-language trusted bigram/left/vocab counts, then per pool document
    * the exact integer bit count — floor-log2 as the binary-string length,
    * linear mantissa, floor divisions throughout.
    */
  private lazy val expected: Map[Long, (String, Long, Long, Long)] = {
    val docs = Tables.table(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
    def toks(text: String): Seq[String] = text.split("\\s+", -1).toSeq
    val trusted = docs.filter(_._3 == Curation.DsirTargetSource)
    val c12 = scala.collection.mutable.Map.empty[(String, String, String), Long]
      .withDefaultValue(0L)
    val c1 = scala.collection.mutable.Map.empty[(String, String), Long]
      .withDefaultValue(0L)
    val vocab = scala.collection.mutable.Map.empty[String, Set[String]]
      .withDefaultValue(Set.empty)
    trusted.foreach { case (_, lang, _, text) =>
      val ts = toks(text)
      vocab(lang) = vocab(lang) ++ ts
      ts.zip(ts.drop(1)).foreach { case (a, b) =>
        c12((lang, a, b)) += 1
        c1((lang, a)) += 1
      }
    }
    val q = 1L << Curation.LmQBits
    docs.filter(_._3 != Curation.DsirTargetSource)
      .filter { case (_, lang, _, text) =>
        vocab.contains(lang) && toks(text).length >= 2 }
      .map { case (id, lang, _, text) =>
        val ts = toks(text)
        val v = vocab(lang).size.toLong
        val bits = ts.zip(ts.drop(1)).map { case (a, b) =>
          val num = c12((lang, a, b)) + 1
          val den = c1((lang, a)) + v + 1
          val ratio = den * q / num
          val lg = java.lang.Long.toBinaryString(ratio).length - 1
          (lg - Curation.LmQBits) * Curation.LmMantissa +
            ratio * Curation.LmMantissa / (1L << lg) - Curation.LmMantissa
        }
        val sum = bits.sum
        val n = bits.length.toLong
        (id, (lang, n, sum, sum * 1000 / n))
      }.toMap
  }

  test("lmScore matches the pure-Scala re-derivation on every document") {
    val got = Curation.lmScore(spark, dir).collect()
      .map(r => (r.getLong(0),
        (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(got.keySet == expected.keySet,
      "scored exactly the pool documents with >= 2 tokens and a modeled lang")
    got.foreach { case (id, row) =>
      assert(row == expected(id), s"doc $id")
    }
    // the integer arithmetic encodes honest probabilities: every bigram of
    // a modeled language has num <= den, so bit counts are non-negative
    assert(got.values.forall(_._3 >= 0L))
  }

  test("lmBuckets terciles each language by (ce, doc_id) deterministically") {
    val rows = Curation.lmBuckets(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
    assert(rows.map(_._1).toSet == expected.keySet, "buckets cover scores 1:1")
    rows.groupBy(_._2).foreach { case (lang, rs) =>
      val ordered = rs.sortBy(r => (r._3, r._1))
      val n = ordered.length
      val sizes = Seq("head", "middle", "tail")
        .map(b => ordered.count(_._4 == b))
      // ntile(3): earlier buckets get the remainder, sizes differ by <= 1
      assert(sizes.sum == n)
      assert(sizes.max - sizes.min <= 1, s"$lang tercile sizes $sizes")
      // bucket labels are a monotone function of the (ce, doc_id) order
      val labelSeq = ordered.map(_._4)
      val firstMiddle = labelSeq.indexOf("middle")
      val firstTail = labelSeq.indexOf("tail")
      assert(labelSeq.takeWhile(_ == "head").length == sizes.head)
      if (firstTail >= 0 && firstMiddle >= 0) assert(firstMiddle < firstTail)
    }
  }

  test("tokenBudgetSelect fills each language's budget best-first") {
    val toksz = Tables.table(spark, dir, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1).split("\\s+", -1).length.toLong))
      .toMap
    val got = Curation.tokenBudgetSelect(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    // replay the fill in pure Scala from the already-verified scores
    val exp = expected.toSeq
      .map { case (id, (lang, _, _, ce)) => (id, lang, ce, toksz(id)) }
      .groupBy(_._2).flatMap { case (_, rs) =>
        val ordered = rs.sortBy(r => (r._3, r._1))
        val cums = ordered.scanLeft(0L)(_ + _._4)
        ordered.zip(cums).takeWhile(_._2 < Curation.LmTokenBudget)
          .map { case ((id, lang, ce, nt), cb) => (id, lang, ce, nt, cb + nt) }
      }.toSet
    assert(got.toSet == exp)
    // every language reaches its budget (the fixture pool is ample)
    got.groupBy(_._2).foreach { case (lang, rs) =>
      assert(rs.map(_._4).sum >= Curation.LmTokenBudget, s"$lang underfilled")
    }
  }

  test("pipelineQuality composes its three declared stages exactly") {
    val clean = Curation.decontaminate(spark, dir)
      .filter(col("keep")).collect().map(_.getLong(0)).toSet
    val nonTail = Curation.lmBuckets(spark, dir)
      .filter(col("bucket") =!= "tail").collect().map(_.getLong(0)).toSet
    val toksz = Tables.table(spark, dir, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1).split("\\s+", -1).length.toLong))
      .toMap
    val admitted = expected.filter { case (id, _) =>
      clean(id) && nonTail(id) }
    val exp = admitted.toSeq
      .map { case (id, (lang, _, _, ce)) => (id, lang, ce, toksz(id)) }
      .groupBy(_._2).flatMap { case (_, rs) =>
        val ordered = rs.sortBy(r => (r._3, r._1))
        val cums = ordered.scanLeft(0L)(_ + _._4)
        ordered.zip(cums).takeWhile(_._2 < Curation.LmTokenBudget)
          .map { case ((id, lang, ce, nt), cb) => (id, lang, ce, nt, cb + nt) }
      }.toSet
    val got = Curation.pipelineQuality(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(got == exp)
    // composition is strictly tighter than the plain budget fill's pool
    assert(got.map(_._1).forall(id => clean(id) && nonTail(id)))
  }

  test("lmProfile aggregates the buckets relation exactly") {
    val buckets = Curation.lmBuckets(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
    val toksz = Tables.table(spark, dir, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1).split("\\s+", -1).length.toLong))
      .toMap
    val exp = buckets.groupBy(r => (r._2, r._4)).map { case (k, rs) =>
      k -> (rs.length.toLong, rs.map(r => toksz(r._1)).sum,
        rs.map(_._3).min, rs.map(_._3).max)
    }
    val got = Curation.lmProfile(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    assert(got == exp)
  }
}
