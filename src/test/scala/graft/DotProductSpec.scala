package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.Similarity

/** The native dot_product must be BIT-identical to the declarative fold —
  * double addition is order-sensitive, so this pins not just values but the
  * left-to-right accumulation the DuckDB oracles replay via list_reduce.
  */
class DotProductSpec extends AnyFunSuite with SharedSpark {

  private val dir = "/root/testdata/sf0.001"

  test("bit-identical to the HOF fold over all corpus pairs (first 50)") {
    val c = Tables.table(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .limit(50)
    val pairs = c.as("a").crossJoin(c.as("b"))
      .select(
        Similarity.dot(col("a.v"), col("b.v")).as("native"),
        Similarity.dotHof(col("a.v"), col("b.v")).as("hof"))
    // bitwise: compare the raw long bits, not ==, so -0.0/0.0 or any ulp
    // difference would fail
    val diff = pairs.filter(
      expr("cast(native AS STRING) IS DISTINCT FROM cast(hof AS STRING)") ||
        col("native") =!= col("hof")).count()
    assert(diff == 0)
  }

  test("null semantics match the fold: length mismatch and null elements") {
    import spark.implicits._
    val df = Seq(
      (Seq(1.0, 2.0), Seq(3.0, 4.0)),          // 11.0
      (Seq.empty[Double], Seq.empty[Double])    // 0.0 (the seed)
    ).toDF("a", "b")
    val r = df.select(
      Similarity.dot(col("a"), col("b")).as("native"),
      Similarity.dotHof(col("a"), col("b")).as("hof"))
      .as[(Option[Double], Option[Double])].collect()
    assert(r.forall { case (n, h) => n == h })
    assert(r(0)._1.contains(11.0) && r(1)._1.contains(0.0))

    val mismatch = Seq((Seq(1.0, 2.0), Seq(3.0))).toDF("a", "b")
      .select(
        Similarity.dot(col("a"), col("b")).as("native"),
        Similarity.dotHof(col("a"), col("b")).as("hof"))
      .as[(Option[Double], Option[Double])].head()
    assert(mismatch._1.isEmpty && mismatch._2.isEmpty,
      "length mismatch must be NULL on both forms")

    val withNull = spark.sql(
      "SELECT array(1.0d, cast(NULL AS DOUBLE)) AS a, array(2.0d, 3.0d) AS b")
      .select(
        Similarity.dot(col("a"), col("b")).as("native"),
        Similarity.dotHof(col("a"), col("b")).as("hof"))
      .as[(Option[Double], Option[Double])].head()
    assert(withNull._1.isEmpty && withNull._2.isEmpty,
      "a null element must poison both forms to NULL")
  }
}
