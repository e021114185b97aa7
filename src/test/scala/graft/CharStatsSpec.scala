package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.CharStats
import graft.llm.TextAnalysis

/** The native char_stats histogram moments must match a brute-force
  * Scala recompute over code points — including the non-ASCII map
  * fallback and supplementary-plane characters the fixture corpus never
  * exercises — and the derived diversity signals must be the exact
  * integer ratios q_text_entropy's oracle recomputes.
  */
class CharStatsSpec extends AnyFunSuite with SharedSpark {

  private val dir = "/root/testdata/sf0.001"

  private def brute(s: String): (Int, Int, Int, Long) = {
    val counts = s.codePoints().toArray.groupBy(identity).map {
      case (_, a) => a.length
    }.toSeq
    if (counts.isEmpty) (0, 0, 0, 0L)
    else (counts.sum, counts.size, counts.max,
      counts.map(k => k.toLong * k.toLong).sum)
  }

  test("native matches the brute-force histogram on adversarial strings") {
    import spark.implicits._
    val inputs = Seq(
      "", "a", "aaaa", "abab", "the quick brown fox",
      "ü中ü中ü", // non-ASCII map fallback
      "a\u0000b\u0000", // NUL chars
      "😀😀x", // supplementary plane (surrogate pairs)
      "ascii and ünïcode mixed 123 123",
      " \t\n ", "zzzzzzzzzzzzzzzzzzzzzzzzzzzzzz")
    val got = inputs.toDF("text")
      .select(CharStats(col("text")).as("cs"))
      .select(col("cs.n_chars"), col("cs.n_distinct"),
        col("cs.top_count"), col("cs.sum_sq"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getLong(3)))
    inputs.zip(got).foreach { case (s, g) =>
      assert(g == brute(s), s"char_stats mismatch on ${s.take(20)}")
    }
  }

  test("NULL text yields a NULL struct") {
    import spark.implicits._
    val r = Seq[Option[String]](None, Some("ab")).toDF("text")
      .select(CharStats(col("text")).as("cs")).collect()
    assert(r(0).isNullAt(0) && !r(1).isNullAt(0))
  }

  test("diversity signals are the exact integer ratios of the moments") {
    val out = TextAnalysis.charDiversity(spark, dir).collect()
    assert(out.nonEmpty)
    val texts = spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    out.foreach { r =>
      val (n, alpha, eff, top) =
        (r.getInt(1), r.getInt(2), r.getDouble(3), r.getDouble(4))
      val (bn, balpha, btop, bssq) = brute(texts(r.getLong(0)))
      assert(n == bn && alpha == balpha)
      def r6(x: Double) = BigDecimal(x)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(eff == r6(bn.toLong * bn.toLong / bssq.toDouble))
      assert(top == r6(btop.toDouble / bn.toDouble))
      // signal sanity: effective alphabet never exceeds the real one,
      // and both ratios live in their defined ranges
      assert(eff <= alpha + 1e-9 && eff >= 1.0 - 1e-9)
      assert(top > 0.0 && top <= 1.0)
    }
  }
}
