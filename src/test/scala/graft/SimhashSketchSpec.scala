package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.SimhashSketch
import graft.llm.TextHash

/** The native simhash_sketch expression must match BOTH prior forms —
  * the declarative fold (TextHash.simhash32, the semantics spec) and the
  * explode + 32 vote-sum aggregate table the dedup queries used to build —
  * value-for-value.
  */
class SimhashSketchSpec extends AnyFunSuite with SharedSpark {

  test("native matches the fold on adversarial token arrays") {
    import spark.implicits._
    val inputs: Seq[Seq[String]] = Seq(
      Seq(), Seq(""), Seq("a"), Seq("a", "a", "b"),
      Seq("ü", "中文", "🎯"), (1 to 300).map(i => s"t${i % 7}"))
    val rows = inputs.toDF("toks")
      .select(
        SimhashSketch(col("toks")).as("native"),
        TextHash.simhash32(col("toks")).as("hof"))
      .filter(!(col("native") <=> col("hof")))
      .collect()
    assert(rows.isEmpty, s"native/fold diverge: ${rows.mkString(", ")}")
  }

  test("NULL array yields NULL; a NULL token votes -1 everywhere, as the fold does") {
    import spark.implicits._
    val nullArr = spark.sql("SELECT cast(NULL AS ARRAY<STRING>) AS toks")
      .select(SimhashSketch(col("toks")).as("native")).head()
    assert(nullArr.isNullAt(0))
    val withNull = Seq(1).toDF("i")
      .select(array(lit("a"), lit(null: String)).as("toks"))
      .select(
        SimhashSketch(col("toks")).as("native"),
        TextHash.simhash32(col("toks")).as("hof"))
      .head()
    assert(withNull.getLong(0) == withNull.getLong(1))
  }

  test("native equals the explode+aggregate table over the harness corpus") {
    // the aggregate formulation the dedup queries used before — kept here
    // as the second pinned spec (vote sums per bit, bit set iff positive)
    val tok = Tables.table(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), explode(TextHash.tokens(col("text"))).as("w"))
      .select(col("doc_id"), TextHash.md5Long(col("w")).as("h"))
    val votes = (0 until 32).map { i =>
      sum(when((col("h") / lit(1L << i)).cast("long") % 2 === 1, 1L)
        .otherwise(-1L)).as(s"b$i")
    }
    val value = (0 until 32)
      .map(i => when(col(s"b$i") > 0, lit(1L << i)).otherwise(lit(0L)))
      .reduce(_ + _)
    val agg = tok.groupBy(col("doc_id"))
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), value.as("agg_sh"))
    val native = Tables.table(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"),
        SimhashSketch(TextHash.tokens(col("text"))).as("sh"))
    val diverged = native.join(agg, "doc_id")
      .filter(col("sh") =!= col("agg_sh")).count()
    assert(diverged == 0)
    // and the sketch table plans without exchanges now
    assert(!native.queryExecution.executedPlan.toString.contains("Exchange"),
      "row-local sketch must plan without exchanges")
  }

  test("simhash_sketch resolves from SQL") {
    GraftCatalog.registerFunctions(spark)
    val got = spark.sql(
      "SELECT simhash_sketch(array('a', 'b', 'c')) AS sh").head()
    assert(!got.isNullAt(0))
  }

  // ---- the 64-bit tier (round 11) ----------------------------------------

  /** Independent reference: md5 through the JDK directly (not Md5Ops),
    * big-endian first 8 bytes, ±1 votes — what the DuckDB oracle replays
    * as two 32-bit hex halves.
    */
  private def refSimhash64(toks: Seq[String]): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val votes = new Array[Int](64)
    toks.foreach { w =>
      val d = md.digest(w.getBytes("UTF-8"))
      val h = (0 until 8).foldLeft(0L)((acc, i) => (acc << 8) | (d(i) & 0xffL))
      (0 until 64).foreach { b =>
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
      }
    }
    (0 until 64).foldLeft(0L)((acc, b) =>
      if (votes(b) > 0) acc | (1L << b) else acc)
  }

  test("simhash64: native matches an independent JDK-md5 replay; null semantics hold") {
    import spark.implicits._
    import graft.functions.Simhash64Sketch
    val inputs: Seq[Seq[String]] = Seq(
      Seq(), Seq(""), Seq("a"), Seq("a", "a", "b"),
      Seq("ü", "中文", "🎯"), (1 to 300).map(i => s"t${i % 7}"))
    val got = inputs.toDF("toks")
      .select(Simhash64Sketch(col("toks")).as("sh")).collect().map(_.getLong(0))
    val want = inputs.map(refSimhash64)
    assert(got.toSeq == want, "native 64-bit sketch diverged from the JDK replay")
    // sign bit exercised: at least one input's sketch sets bit 63
    assert(want.exists(_ < 0L), "no negative sketch — the sign bit went untested")
    val nullArr = spark.sql("SELECT cast(NULL AS ARRAY<STRING>) AS toks")
      .select(Simhash64Sketch(col("toks")).as("sh")).head()
    assert(nullArr.isNullAt(0))
    val withNull = Seq(1).toDF("i")
      .select(array(lit("a"), lit(null: String)).as("toks"))
      .select(Simhash64Sketch(col("toks")).as("sh")).head().getLong(0)
    // one real token + one NULL (voting -1 everywhere): ties at every bit
    // the token voted +1 resolve to 0 (votes must be strictly positive)
    assert(withNull == 0L)
  }

  test("simhash64 pairs: banded candidates equal the brute-force all-pairs form") {
    import graft.llm.Dedup
    val sf = "/root/testdata/sf0.001"
    val banded = Dedup.simhash64Pairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    spark.catalog.clearCache()
    val sk = Tables.table(spark, sf, "documents")
      .select(col("doc_id"), col("lang"),
        graft.functions.Simhash64Sketch(TextHash.tokens(col("text"))).as("sh"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val brute = (for {
      (a, la, sa) <- sk; (b, lb, sb) <- sk
      if la == lb && a < b
      h = java.lang.Long.bitCount(sa ^ sb)
      if h <= Dedup.Simhash64MaxHamming
    } yield (a, b, h)).toSet
    assert(banded == brute,
      s"banding lost/invented pairs: banded=${banded.size} brute=${brute.size}")
    assert(brute.nonEmpty, "fixture yields no 64-bit near-dup pairs — vacuous")
  }

  test("simhash64_sketch resolves from SQL") {
    GraftCatalog.registerFunctions(spark)
    val got = spark.sql(
      "SELECT simhash64_sketch(array('a', 'b', 'c')) AS sh").head()
    assert(!got.isNullAt(0))
  }
}
