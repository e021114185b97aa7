package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.TextAnalysis

/** The native char_trigrams expression must be element-for-element identical
  * (including distinct ORDER) to the declarative chain it replaced —
  * that chain feeds q_text_langid's oracle-verified scores.
  */
class CharTrigramsSpec extends AnyFunSuite with SharedSpark {

  private val dir = "/root/testdata/sf0.001"

  test("native matches the HOF chain on adversarial inputs") {
    import spark.implicits._
    val inputs = Seq(
      "", "a", "ab", "abc", "abcd", "aaaa", "abab", "ABC", "AbCd",
      "Šaltiniai", "žąsis ėjo", "ŽĄSIS", "a b", "  ", "ab ",
      "tab\tand\nnewline", "ümlaut Über", "中文字符测试", "😀😀😀a😀",
      "mixed 中 ascii 文")
    val rows = inputs.toDF("s")
      .select(
        TextAnalysis.charTrigrams(col("s")).as("native"),
        TextAnalysis.charTrigramsHof(col("s")).as("hof"))
      .as[(Seq[String], Seq[String])]
      .collect()
    rows.zip(inputs).foreach { case ((native, hof), in) =>
      assert(native == hof, s"mismatch for input '$in'")
    }
  }

  test("NULL text takes the [NULL] fallback on both forms") {
    import spark.implicits._
    val r = spark.sql("SELECT cast(NULL AS STRING) AS s")
      .select(
        TextAnalysis.charTrigrams(col("s")).as("native"),
        TextAnalysis.charTrigramsHof(col("s")).as("hof"))
      .as[(Option[Seq[String]], Option[Seq[String]])].head()
    assert(r._1 == r._2, s"NULL-input mismatch: ${r._1} vs ${r._2}")
    assert(r._1.contains(Seq(null)), s"expected the [NULL] fallback, got ${r._1}")
  }

  test("native matches the HOF chain over the documents corpus") {
    // null-safe inequality so NULL-valued rows can't hide a divergence
    val mismatches = Tables.table(spark, dir, "documents")
      .select(
        TextAnalysis.charTrigrams(col("text")).as("native"),
        TextAnalysis.charTrigramsHof(col("text")).as("hof"))
      .filter(!(col("native") <=> col("hof")))
      .count()
    assert(mismatches == 0)
  }
}
