package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.MinhashSig
import graft.llm.TextHash

/** The native minhash_sig expression must match the declarative fold
  * (TextHash.minhashSig) value-for-value — the fold is the executable
  * specification behind the minhash oracles' sig CTE, and LlmOpsSpec
  * separately pins the fold equal to the explode+aggregate form, so all
  * three formulations are tied together.
  */
class MinhashSigSpec extends AnyFunSuite with SharedSpark {

  test("native matches the fold on adversarial gram arrays") {
    import spark.implicits._
    val inputs: Seq[Seq[String]] = Seq(
      Seq(), Seq(""), Seq("a b c"), Seq("x", "x", "x"),
      Seq("ü 中 🎯", "plain"), (1 to 300).map(i => s"g$i g${i + 1} g${i + 2}"))
    val rows = inputs.toDF("grams")
      .select(
        MinhashSig(col("grams"), 16).as("native"),
        TextHash.minhashSig(col("grams"), 16).as("hof"))
      .filter(!(col("native") <=> col("hof")))
      .collect()
    assert(rows.isEmpty, s"native/fold diverge: ${rows.mkString(", ")}")
  }

  test("NULL array yields NULL; NULL grams are skipped, as the fold does") {
    import spark.implicits._
    val nullArr = spark.sql("SELECT cast(NULL AS ARRAY<STRING>) AS grams")
      .select(
        MinhashSig(col("grams"), 8).as("native"),
        TextHash.minhashSig(col("grams"), 8).as("hof"))
      .head()
    assert(nullArr.isNullAt(0) && nullArr.isNullAt(1))
    val withNull = Seq(1).toDF("i")
      .select(array(lit("a b c"), lit(null: String)).as("grams"))
      .select(
        MinhashSig(col("grams"), 8).as("native"),
        TextHash.minhashSig(col("grams"), 8).as("hof"))
      .head()
    assert(withNull.getSeq[Long](0) == withNull.getSeq[Long](1),
      "a null gram must be skipped identically by both forms")
  }

  test("native equals the fold over the whole harness corpus") {
    val docs = Tables.table(spark, "/root/testdata/sf0.001", "documents")
      .select(TextHash.shingles3(TextHash.tokens(col("text"))).as("grams"))
    val diverged = docs.select(
        MinhashSig(col("grams"), graft.llm.Dedup.MinhashK).as("native"),
        TextHash.minhashSig(col("grams"), graft.llm.Dedup.MinhashK).as("hof"))
      .filter(!(col("native") <=> col("hof")))
      .count()
    assert(diverged == 0)
  }

  test("minhash_sig resolves from SQL and the signature plan has no exchange") {
    GraftCatalog.registerFunctions(spark)
    val got = spark.sql(
      "SELECT minhash_sig(array('a b c', 'b c d'), 4) AS sig").head()
    assert(got.getSeq[Long](0).length == 4)
    // the signature is a scan-side projection now: no shuffle anywhere
    // below the signature table
    val sh = Tables.table(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), TextHash.shingles3(TextHash.tokens(col("text"))).as("grams"))
      .select(col("doc_id"), MinhashSig(col("grams"), 8).as("sig"))
    assert(!sh.queryExecution.executedPlan.toString.contains("Exchange"),
      "row-local signature must plan without exchanges")
  }
}
