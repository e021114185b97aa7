package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, rng}
import org.scalatest.funsuite.AnyFunSuite

/** Randomized bulk invariants: ScalaCheck generators produce one batch of
  * adversarial strings, a single Spark job runs the column pipelines over
  * all of them, and the invariants are asserted per row — same coverage as
  * per-sample forAll without paying one Spark job per sample.
  */
class BulkInvariantSpec extends AnyFunSuite with SharedSpark {

  private val messy: Gen[String] = Gen.frequency(
    3 -> Gen.asciiPrintableStr,
    2 -> Gen.listOf(Gen.choose(Char.MinValue, '퟿')).map(_.mkString),
    2 -> (for {
      n <- Gen.choose(0, 8)
      ws <- Gen.listOfN(n, Gen.oneOf(
        "Ąžuolų", "šakos", "KELIAI", "eismo", "1abc", "e", "x" * 120,
        "a,b;c", "  pad  ", "ėžeras!"))
    } yield ws.mkString(" ")),
    1 -> Gen.const(""))

  private def samples(n: Int): Seq[String] = {
    val params = Gen.Parameters.default
    (0 until n).flatMap(i => messy.apply(params, rng.Seed(i.toLong)))
  }

  test("slugifyNorm: charset, lowercase, idempotent over 500 random strings") {
    import spark.implicits._
    val df = samples(500).toDF("s")
    val rows = df.select(
      TextFunctions.slugifyNorm(col("s")).as("slug"),
      TextFunctions.slugifyNorm(TextFunctions.slugifyNorm(col("s"))).as("slug2"))
      .collect()
    rows.foreach { r =>
      val (slug, slug2) = (r.getString(0), r.getString(1))
      assert(slug.matches("[\\w-]*"), s"charset: '$slug'")
      assert(slug == slug.toLowerCase)
      assert(slug2 == slug, s"idempotence: '$slug' vs '$slug2'")
      assert(!slug.contains(" "))
    }
  }

  test("packageTags: every tag has length 2..100, no non-word runs, lowercase") {
    import spark.implicits._
    val df = samples(500).toDF("s")
    val rows = df.select(TextFunctions.packageTags(col("s")).as("tags")).collect()
    rows.foreach { r =>
      r.getSeq[String](0).foreach { tag =>
        assert(tag.length >= 2 && tag.length <= 100, s"length: '$tag'")
        assert(tag == tag.toLowerCase, s"case: '$tag'")
        assert(!tag.matches(".*\\s\\s.*"), s"collapsed: '$tag'")
        assert(!tag.startsWith(" ") && !tag.endsWith(" "))
      }
    }
  }

  test("sketch invariants: fingerprint/simhash ranges, jaccard bounds") {
    import spark.implicits._
    import graft.llm.TextHash
    val df = samples(300).filter(_.nonEmpty).toDF("s")
    val rows = df.select(
      TextHash.fingerprint(TextHash.tokens(col("s"))).as("fp"),
      TextHash.simhash32(TextHash.tokens(col("s"))).as("sh"),
      TextHash.jaccard(
        TextHash.shingles3(TextHash.tokens(col("s"))),
        TextHash.shingles3(TextHash.tokens(col("s")))).as("self_jac"))
      .collect()
    rows.foreach { r =>
      assert(r.getLong(0) >= 0L && r.getLong(0) < 2147483647L)
      assert(r.getLong(1) >= 0L && r.getLong(1) < (1L << 32))
      assert(r.getDouble(2) == 1.0) // self-jaccard is exactly 1
    }
  }
}
