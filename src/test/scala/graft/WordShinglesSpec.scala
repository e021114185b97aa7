package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.TextHash

/** The native word_shingles expression must be element-for-element identical
  * (including distinct order, fallback, and null propagation) to the
  * zipped-slices chain it replaced — that chain feeds the oracle-verified
  * n-gram Jaccard and MinHash dedup queries.
  */
class WordShinglesSpec extends AnyFunSuite with SharedSpark {

  private val dir = "/root/testdata/sf0.001"

  test("native matches the HOF chain on adversarial token arrays") {
    import spark.implicits._
    val inputs: Seq[Seq[String]] = Seq(
      Seq(), Seq("a"), Seq("a", "b"), Seq("a", "b", "c"),
      Seq("a", "b", "c", "d"), Seq("a", "a", "a", "a", "a"),
      Seq("a", "b", "a", "b", "a", "b"),            // repeated shingles
      Seq("", "", "", ""),                          // empty tokens
      Seq("žodis", "kitas", "žodis", "dar"),        // unicode
      Seq("x y", "z", "w", "v"))                    // token containing the sep
    val rows = inputs.toDF("toks")
      .select(
        TextHash.shingles3(col("toks")).as("native"),
        TextHash.shingles3Hof(col("toks")).as("hof"))
      .as[(Seq[String], Seq[String])]
      .collect()
    rows.zip(inputs).foreach { case ((native, hof), in) =>
      assert(native == hof, s"mismatch for input $in")
    }
  }

  test("null tokens propagate like concat + array_distinct") {
    import spark.implicits._
    val df = spark.sql(
      "SELECT array('a', cast(NULL AS STRING), 'c', 'd', 'e') AS toks")
    val r = df.select(
      TextHash.shingles3(col("toks")).as("native"),
      TextHash.shingles3Hof(col("toks")).as("hof"))
      .as[(Seq[String], Seq[String])].head()
    assert(r._1 == r._2, s"null propagation mismatch: ${r._1} vs ${r._2}")
  }

  test("a NULL token array takes the [''] fallback on both forms") {
    import spark.implicits._
    val r = spark.sql("SELECT cast(NULL AS ARRAY<STRING>) AS toks")
      .select(
        TextHash.shingles3(col("toks")).as("native"),
        TextHash.shingles3Hof(col("toks")).as("hof"))
      .as[(Option[Seq[String]], Option[Seq[String]])].head()
    assert(r._1 == r._2, s"NULL-input mismatch: ${r._1} vs ${r._2}")
    assert(r._1.contains(Seq("")), s"expected the [''] fallback, got ${r._1}")
  }

  test("native matches the HOF chain over the documents corpus") {
    // null-safe inequality: a plain =!= would silently DROP rows where
    // either side is NULL — exactly where the forms could diverge
    val mismatches = Tables.table(spark, dir, "documents")
      .select(TextHash.tokens(col("text")).as("toks"))
      .select(
        TextHash.shingles3(col("toks")).as("native"),
        TextHash.shingles3Hof(col("toks")).as("hof"))
      .filter(!(col("native") <=> col("hof")))
      .count()
    assert(mismatches == 0)
  }
}
