package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.HashedScore
import graft.llm.TextAnalysis

/** The native hashed_score expression must match the declarative
  * element_at-fold chain value-for-value — that chain is the executable
  * specification behind the model-scoring oracles.
  */
class HashedScoreSpec extends AnyFunSuite with SharedSpark {

  private def weightsLit =
    array(TextAnalysis.modelWeights.map(w => lit(w)): _*)

  test("native matches the HOF fold on adversarial token arrays") {
    import spark.implicits._
    val inputs: Seq[Seq[String]] = Seq(
      Seq(), Seq(""), Seq("a"), Seq("a", "a"), Seq("feat:", ":"),
      Seq("ü", "中文", "🎯"), Seq("a b", "c"), // token containing a space
      (1 to 200).map(i => s"tok$i"))
    val rows = inputs.toDF("toks")
      .select(
        HashedScore(col("toks"), weightsLit, TextAnalysis.ModelSalt).as("native"),
        TextAnalysis.modelScoreHof(col("toks"), weightsLit).as("hof"))
      .filter(!(col("native") <=> col("hof")))
      .collect()
    assert(rows.isEmpty, s"native/hof diverge: ${rows.mkString(", ")}")
  }

  test("empty weight array yields NULL, never a divide-by-zero crash") {
    import spark.implicits._
    val got = Seq(1).toDF("i")
      .select(HashedScore(array(lit("a")),
        typedlit(Array.empty[Long]), TextAnalysis.ModelSalt).as("s"))
      .head()
    assert(got.isNullAt(0))
  }

  test("NULL array and NULL tokens poison the sum, as the fold does") {
    import spark.implicits._
    val nullArr = spark.sql("SELECT cast(NULL AS ARRAY<STRING>) AS toks")
      .select(
        HashedScore(col("toks"), weightsLit, TextAnalysis.ModelSalt).as("native"),
        TextAnalysis.modelScoreHof(col("toks"), weightsLit).as("hof"))
      .head()
    assert(nullArr.isNullAt(0) && nullArr.isNullAt(1))
    val withNull = Seq(1).toDF("i")
      .select(array(lit("a"), lit(null: String), lit("b")).as("toks"))
      .select(
        HashedScore(col("toks"), weightsLit, TextAnalysis.ModelSalt).as("native"),
        TextAnalysis.modelScoreHof(col("toks"), weightsLit).as("hof"))
      .head()
    assert(withNull.isNullAt(0) && withNull.isNullAt(1))
  }

  test("native equals the HOF over the whole harness corpus") {
    import graft.llm.TextHash.tokens
    val docs = Tables.table(spark, "/root/testdata/sf0.001", "documents")
      .withColumn("toks", tokens(col("text")))
    val diverged = docs.select(
        HashedScore(col("toks"), weightsLit, TextAnalysis.ModelSalt).as("native"),
        TextAnalysis.modelScoreHof(col("toks"), weightsLit).as("hof"))
      .filter(!(col("native") <=> col("hof")))
      .count()
    assert(diverged == 0)
  }

  test("hashed_score resolves from SQL with a literal salt") {
    GraftCatalog.registerFunctions(spark)
    val got = spark.sql(s"""
      SELECT hashed_score(array('the', 'a'),
                          array(${TextAnalysis.modelWeights.mkString("L,")}L),
                          '${TextAnalysis.ModelSalt}') AS s""").head()
    assert(!got.isNullAt(0))
  }
}
