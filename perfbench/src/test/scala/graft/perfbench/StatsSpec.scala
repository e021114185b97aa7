package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "3")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("digest does not depend on row order or partitioning") {
    import spark.implicits._
    val df = (1 to 200).map(i => (i.toLong, s"r$i", if (i % 7 == 0) None else Some(i * 0.5)))
      .toDF("k", "s", "d")
    val d = Stats.digest(df)
    assert(d._1 === 200)
    assert(Stats.digest(df.orderBy(col("k").desc)) === d)
    assert(Stats.digest(df.repartition(5, col("s"))) === d)
    // column order is canonicalized by name
    assert(Stats.digest(df.select("d", "k", "s")) === d)
    // a changed value or a lost row changes the digest
    assert(Stats.digest(df.withColumn("s", when(col("k") === 5, "x").otherwise(col("s")))) !== d)
    assert(Stats.digest(df.filter(col("k") =!= 5)) !== d)
    // a null is not the string "null"
    assert(Stats.digest(Seq(Some("null"), None).toDF("v")) !==
      Stats.digest(Seq[Option[String]](None, None).toDF("v")))
    assert(Stats.digest(df.limit(0)) === ((0L, 0L)))
  }

  test("a percentile above the median is reported only with 10 samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs.take(99), 0.9).isEmpty)
    assert(math.abs(Stats.percentile(xs, 0.9).get - 90.1) < 1e-9)
    assert(Stats.percentile(xs.take(39), 0.75).isEmpty)
    assert(Stats.percentile(xs.take(40), 0.75).isDefined)
    // the median needs no tail
    assert(Stats.percentile(xs.take(3), 0.5) === Some(2.0))
    assert(Stats.percentile(xs.take(20), 0.5) === Some(10.5))
    assert(Stats.percentile(Seq.empty, 0.5).isEmpty)
    assert(Stats.percentile(xs.reverse, 0.9) === Stats.percentile(xs, 0.9))
  }

  test("median and geometric mean") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) === 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) === 2.5)
    assert(math.abs(Stats.geomean(Seq(1.0, 4.0, 16.0)) - 4.0) < 1e-12)
    assertThrows[IllegalArgumentException](Stats.geomean(Seq(1.0, 0.0)))
  }
}
