package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.RollingFingerprint
import graft.llm.TextHash

/** The native rolling_fingerprint expression must match the declarative
  * fold (TextHash.fingerprint) value-for-value — the fold is the
  * executable specification behind q_text_fingerprint's oracle.
  */
class RollingFingerprintSpec extends AnyFunSuite with SharedSpark {

  test("native matches the fold, including order sensitivity and nulls") {
    import spark.implicits._
    val inputs: Seq[Seq[String]] = Seq(
      Seq(), Seq(""), Seq("a", "b"), Seq("b", "a"), // order matters
      Seq("ü", "中文", "🎯"), (1 to 500).map(i => s"t$i"))
    val rows = inputs.toDF("toks")
      .select(
        RollingFingerprint(col("toks")).as("native"),
        TextHash.fingerprint(col("toks")).as("hof"))
      .filter(!(col("native") <=> col("hof")))
      .collect()
    assert(rows.isEmpty, s"native/fold diverge: ${rows.mkString(", ")}")
    // order sensitivity survives the nativization
    val ab = Seq(Seq("a", "b"), Seq("b", "a")).toDF("toks")
      .select(RollingFingerprint(col("toks"))).collect().map(_.getLong(0))
    assert(ab(0) != ab(1))
    // null token poisons; null array yields null — both like the fold
    val withNull = Seq(1).toDF("i")
      .select(array(lit("a"), lit(null: String)).as("toks"))
      .select(
        RollingFingerprint(col("toks")).as("native"),
        TextHash.fingerprint(col("toks")).as("hof"))
      .head()
    assert(withNull.isNullAt(0) && withNull.isNullAt(1))
  }

  test("native equals the fold over the harness corpus and resolves from SQL") {
    val docs = Tables.table(spark, "/root/testdata/sf0.001", "documents")
      .select(TextHash.tokens(col("text")).as("toks"))
    val diverged = docs.select(
        RollingFingerprint(col("toks")).as("native"),
        TextHash.fingerprint(col("toks")).as("hof"))
      .filter(!(col("native") <=> col("hof")))
      .count()
    assert(diverged == 0)
    GraftCatalog.registerFunctions(spark)
    val got = spark.sql(
      "SELECT rolling_fingerprint(array('a', 'b')) AS fp").head()
    assert(!got.isNullAt(0))
  }
}
