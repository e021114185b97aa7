package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.NgramDupStats
import graft.llm.TextAnalysis
import graft.llm.TextHash.tokens

/** The native ngram_dup_stats expression must match the declarative
  * zipped-slices chain field-for-field — that chain is the executable
  * specification behind q_text_repetition's oracle.
  */
class NgramDupStatsSpec extends AnyFunSuite with SharedSpark {

  private val dir = "/root/testdata/sf0.001"

  test("native matches the HOF chain on adversarial token arrays") {
    import spark.implicits._
    val inputs: Seq[Seq[String]] = Seq(
      Seq(), Seq("a"), Seq("a", "b"), Seq("a", "a"),
      Seq("a", "b", "a", "b", "a", "b"), Seq("x", "y", "z"),
      Seq("r", "r", "r", "r"), Seq("", "", ""), Seq("a", "", "a", ""),
      Seq("ü", "中", "ü", "中", "ü"), Seq("a b", "c"), // token containing a space
      (1 to 50).map(i => s"t${i % 5}"))
    val rows = inputs.toDF("toks")
      .select(
        NgramDupStats(col("toks")).as("native"),
        TextAnalysis.ngramDupStatsHof(col("toks")).as("hof"))
      .filter(!(col("native") <=> col("hof")))
      .collect()
    assert(rows.isEmpty, s"native/hof diverge: ${rows.mkString(", ")}")
  }

  test("NULL array and NULL tokens follow the HOF chain's semantics") {
    import spark.implicits._
    // NULL array: size(NULL) is NULL and both guards fail -> (NULL, 0.0, 0.0)
    val nullArr = spark.sql("SELECT cast(NULL AS ARRAY<STRING>) AS toks")
      .select(
        NgramDupStats(col("toks")).as("native"),
        TextAnalysis.ngramDupStatsHof(col("toks")).as("hof"))
      .head()
    assert(nullArr.getStruct(0) == nullArr.getStruct(1),
      s"NULL-array mismatch: ${nullArr.getStruct(0)} vs ${nullArr.getStruct(1)}")
    assert(nullArr.getStruct(0).isNullAt(0))
    // NULL tokens null their grams; array_distinct keeps one NULL
    val withNulls = Seq(1).toDF("i")
      .select(expr("array('a', cast(NULL AS STRING), 'a', NULL, 'b')").as("toks"))
      .select(
        NgramDupStats(col("toks")).as("native"),
        TextAnalysis.ngramDupStatsHof(col("toks")).as("hof"))
      .filter(!(col("native") <=> col("hof")))
      .count()
    assert(withNulls == 0)
  }

  test("native matches the HOF chain over the documents corpus") {
    val mismatches = Tables.table(spark, dir, "documents")
      .withColumn("toks", tokens(col("text")))
      .select(
        NgramDupStats(col("toks")).as("native"),
        TextAnalysis.ngramDupStatsHof(col("toks")).as("hof"))
      .filter(!(col("native") <=> col("hof")))
      .count()
    assert(mismatches == 0)
  }
}
