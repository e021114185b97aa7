package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.Similarity

/** The native nearest_centroid / nearest_code argmax loops must be
  * BIT-identical to the aggregation forms they superseded (broadcast join
  * fan-out + partial/final struct max/min) — the 9-dp rounding happens
  * BEFORE the comparison and ties break to the smallest id, so this pins
  * values, rounding placement and tie-break order all at once, on the
  * fixture corpus AND on adversarial inputs (exact ties, duplicated
  * centroids, rounding-boundary cosines).
  */
class NearestSpec extends AnyFunSuite with SharedSpark {

  private val dir = "/root/testdata/sf0.001"

  private def corpus: DataFrame =
    Tables.table(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nv", Similarity.norm(col("v")))

  private def assertSameRows(a: DataFrame, b: DataFrame, keys: Seq[String])
      : Unit = {
    val order = keys.map(col)
    val l = a.orderBy(order: _*).collect()
    val r = b.orderBy(order: _*).collect()
    assert(l.length == r.length, s"row counts differ: ${l.length} vs ${r.length}")
    l.zip(r).foreach { case (x, y) => assert(x == y, s"row differs: $x vs $y") }
  }

  test("assign: native loop == aggregation form on the fixture corpus") {
    val c = corpus
    val cents = Similarity.kmeansCentroidsOf(c).cache()
    assertSameRows(
      Similarity.assign(c, cents).select("vec_id", "cid"),
      Similarity.assignAgg(c, cents).select("vec_id", "cid"),
      Seq("vec_id"))
    cents.unpersist()
  }

  test("assignFine: native loop == aggregation form (two-level membership)") {
    val c = corpus
    // synthesize a 2-cell coarse membership and per-cell fine centroids
    val cm = c.withColumn("ccid", (col("vec_id") % 2).cast("int"))
    val cents = cm.filter(col("vec_id") < 8)
      .select(col("ccid"), (col("vec_id") / 2).cast("int").as("fcid"),
        col("v").as("centroid"), col("nv").as("cnorm"))
      .cache()
    assertSameRows(
      Similarity.assignFine(cm, cents).select("vec_id", "ccid", "fcid"),
      Similarity.assignFineAgg(cm, cents).select("vec_id", "ccid", "fcid"),
      Seq("vec_id"))
    cents.unpersist()
  }

  test("pqAssign: native loop == aggregation form, both keepSv regimes") {
    val c = Tables.table(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val sub = Similarity.pqSubvectors(c).cache()
    val books = Similarity.pqTrain(sub).cache()
    assertSameRows(
      Similarity.pqAssign(sub, books, keepSv = false),
      Similarity.pqAssignAgg(sub, books, keepSv = false),
      Seq("vec_id", "m"))
    assertSameRows(
      Similarity.pqAssign(sub, books, keepSv = true),
      Similarity.pqAssignAgg(sub, books, keepSv = true),
      Seq("vec_id", "m"))
    books.unpersist(); sub.unpersist()
  }

  test("adversarial ties and rounding boundaries pick the same winner") {
    import spark.implicits._
    // duplicated centroids (exact cosine ties at several cids), an
    // orthogonal centroid (cos 0), a negated one (cos -1), and vectors
    // engineered near the 9-dp rounding boundary (x.xxxxxxxxx5)
    val vecs = Seq(
      (0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)), (2L, Seq(3.0, 4.0)),
      (3L, Seq(-1.0, 0.0)), (4L, Seq(1.0, 1.0)),
      (5L, Seq(1.0, 1.0000000005)), (6L, Seq(1e-9, 1.0)))
      .toDF("vec_id", "v0")
      .select(col("vec_id"), col("v0").cast("array<double>").as("v"))
      .withColumn("nv", Similarity.norm(col("v")))
    val cents = Seq(
      (0, Seq(1.0, 0.0)), (1, Seq(1.0, 0.0)), (2, Seq(1.0, 0.0)),
      (3, Seq(0.0, 1.0)), (4, Seq(-1.0, 0.0)), (5, Seq(1.0, 1.0)))
      .toDF("cid", "c0")
      .select(col("cid"), col("c0").cast("array<double>").as("centroid"))
      .withColumn("cnorm", Similarity.norm(col("centroid")))
    assertSameRows(
      Similarity.assign(vecs, cents).select("vec_id", "cid"),
      Similarity.assignAgg(vecs, cents).select("vec_id", "cid"),
      Seq("vec_id"))
    // tie on cid 0/1/2 must resolve to 0 in BOTH forms
    val winner = Similarity.assign(vecs, cents)
      .filter(col("vec_id") === 0L).select("cid").head().getInt(0)
    assert(winner == 0, s"tie must break to the smallest cid, got $winner")
  }

  test("assign: an empty centroid table assigns nothing, as the aggregation form") {
    val cents = corpus.filter(lit(false)).select(col("vec_id").cast("int").as("cid"),
      col("v").as("centroid"), col("nv").as("cnorm"))
    assert(Similarity.assignAgg(corpus, cents).count() == 0)
    val got = Similarity.assign(corpus, cents).select("vec_id", "cid").collect()
    assert(got.isEmpty, s"${got.length} rows, first: ${got.headOption}")
  }

  test("an array<float> centroid or codebook fails analysis") {
    import graft.functions.{NearestCentroid, NearestCode}
    val v = typedLit(Seq(1.0, 0.0))
    val cents = array(struct(lit(0).as("cid"),
      typedLit(Seq(1.0f, 0.0f)).as("centroid"), lit(1.0).as("cnorm")))
    val books = array(struct(lit(0).as("code"),
      typedLit(Seq(1.0f, 0.0f)).as("cb")))
    Seq(NearestCentroid(v, lit(1.0), cents) -> "nearest_centroid requires",
        NearestCode(v, books) -> "nearest_code requires").foreach { case (e, msg) =>
      val err = intercept[org.apache.spark.sql.AnalysisException](
        spark.range(1).select(e))
      assert(err.getMessage.contains(msg), err.getMessage)
    }
  }

  test("round9 matches Spark's round(col, 9) on doubles") {
    import spark.implicits._
    val xs = Seq(0.1234567895, -0.1234567885, 1.0 / 3.0, -1.0 / 3.0,
      0.9999999995, -0.9999999995, 1e-10, -1e-10, 0.0, 1.0, -1.0,
      123456.123456789549, Double.MinPositiveValue,
      Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)
    val viaSpark = xs.toDF("x").select(round(col("x"), 9)).as[Double].collect()
    val viaOps = xs.map(graft.functions.Round9Ops.round9)
    viaSpark.zip(viaOps).zip(xs).foreach { case ((s, o), x) =>
      assert(java.lang.Double.doubleToLongBits(s) ==
        java.lang.Double.doubleToLongBits(o),
        s"round9 mismatch at $x: spark=$s ops=$o")
    }
  }
}
