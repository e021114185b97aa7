package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.{BandPlan, Dedup}

/** Pins the parameterized combination-banding plan: legacy-layout
  * reproduction, the pigeonhole completeness property (the recall-1.0
  * proof, exercised on random fingerprints), Column/Scala key agreement,
  * block-count-invariant pair output on the fixture, and the
  * corpus-size → block-count chooser's arithmetic.
  */
class BandPlanSpec extends AnyFunSuite with SharedSpark {

  val sf = "/root/testdata/sf0.001"

  test("layout reproduces the legacy fixed band layouts exactly") {
    // 32-bit tier: widths 5,5,5,5,4,4,4 at offsets 0,5,10,15,20,24,28
    assert(BandPlan(32, 7, 6).layout ===
      Vector((0, 5), (5, 5), (10, 5), (15, 5), (20, 4), (24, 4), (28, 4)))
    // 64-bit tier: 4 × 16 bits
    assert(BandPlan(64, 4, 3).layout ===
      Vector((0, 16), (16, 16), (32, 16), (48, 16)))
  }

  test("degenerate blocks = maxHamming+1 keys are the single-block bands") {
    val p = BandPlan(64, 4, 3)
    assert(p.combos === Vector(Vector(0), Vector(1), Vector(2), Vector(3)))
    assert(p.keysPerDoc === 4 && p.keyBits === 16)
    val w = BandPlan(64, 6, 3)
    assert(w.keysPerDoc === 20) // C(6,3)
    assert(w.keyBits === 31)    // three narrowest blocks: 11,10,10
    // a combination key IS the selected blocks' bits: block 1 of the
    // degenerate plan on a known fingerprint
    val sh = 0xDEADBEEFCAFEF00DL
    assert(p.keyOf(sh, 1) === ((sh >>> 16) & 0xFFFFL))
  }

  test("pigeonhole completeness: any pair within maxHamming shares a key") {
    val rng = new scala.util.Random(20260816L)
    for (plan <- Seq(BandPlan(64, 4, 3), BandPlan(64, 5, 3), BandPlan(64, 6, 3),
                     BandPlan(32, 7, 6), BandPlan(64, 8, 2));
         _ <- 1 to 400) {
      val x = rng.nextLong() & (if (plan.bits == 64) -1L else (1L << plan.bits) - 1)
      val nFlips = rng.nextInt(plan.maxHamming + 1)
      val y = (1 to nFlips).foldLeft(x)((v, _) => v ^ (1L << rng.nextInt(plan.bits)))
      val shared = plan.combos.indices.exists(i => plan.keyOf(x, i) === plan.keyOf(y, i))
      assert(shared,
        s"plan=$plan x=$x y=$y hamming=${java.lang.Long.bitCount(x ^ y)} " +
          "must agree on some combination key")
    }
  }

  test("Column key expression agrees with the Scala twin, incl. sign-extended 32-bit") {
    val rng = new scala.util.Random(42L)
    val longs = Seq.fill(64)(rng.nextLong())
    // 32-bit fingerprints arrive as IntegerType and are cast(long) inside
    // the kernel — sign extension must not leak into any key
    val ints = Seq.fill(64)(rng.nextInt()) ++ Seq(Int.MinValue, -1, 0, Int.MaxValue)
    for (plan <- Seq(BandPlan(64, 4, 3), BandPlan(64, 6, 3))) {
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(longs.map(org.apache.spark.sql.Row(_))),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("sh", org.apache.spark.sql.types.LongType))))
      val got = df.select(col("sh"),
        array(plan.combos.indices.map(i => plan.keyCol(col("sh"), i)): _*).as("keys"))
        .collect()
      got.foreach { r =>
        val sh = r.getLong(0)
        val keys = r.getSeq[Long](1)
        plan.combos.indices.foreach(i => assert(keys(i) === plan.keyOf(sh, i)))
      }
    }
    val plan32 = BandPlan(32, 7, 6)
    val df32 = spark.createDataFrame(
      spark.sparkContext.parallelize(ints.map(org.apache.spark.sql.Row(_))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("sh", org.apache.spark.sql.types.IntegerType))))
    df32.select(col("sh"),
      array(plan32.combos.indices.map(i =>
        plan32.keyCol(col("sh").cast("long"), i)): _*).as("keys"))
      .collect().foreach { r =>
        val sh = r.getInt(0).toLong // sign-extended, as the kernel's cast does
        val keys = r.getSeq[Long](1)
        plan32.combos.indices.foreach { i =>
          val k = keys(i)
          assert(k === plan32.keyOf(sh, i))
          assert(k >= 0 && k < (1L << 5), s"32-bit key $k escaped its block width")
        }
      }
  }

  test("pair output is block-count-invariant on the fixture") {
    def pairs(blocks: Int): Set[(Long, Long, Int)] =
      Dedup.simhash64PairsAt(spark, sf, blocks).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val base = pairs(4)
    assert(base.nonEmpty, "fixture must contain 64-bit near-dup pairs")
    assert(pairs(5) === base)
    assert(pairs(Dedup.Simhash64WideBlocks) === base)
  }

  test("the adaptive form equals the fixed forms on the fixture") {
    val auto = Dedup.simhash64PairsAuto(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val fixed = Dedup.simhash64PairsAt(spark, sf, 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(auto === fixed)
  }

  test("blocksForCorpus widens with corpus size and respects the key budget") {
    // small corpora: the degenerate plan's 16-bit keys already cover it
    assert(BandPlan.blocksForCorpus(64, 3, 1000L) === 4)
    // ~10⁶ docs: log2 ≈ 20 + 4 margin > 16 → needs blocks=5 (25-bit keys)
    assert(BandPlan.blocksForCorpus(64, 3, 1000000L) === 5)
    // ~10⁸ docs: needs ≥ 31 bits → blocks=6 (C(6,3)=20 keys)
    assert(BandPlan.blocksForCorpus(64, 3, 100000000L) === 6)
    // monotone nondecreasing in n
    val ns = Seq(100L, 10000L, 1000000L, 100000000L, 10000000000L)
    val bs = ns.map(BandPlan.blocksForCorpus(64, 3, _))
    assert(bs === bs.sorted)
    // the budget caps the answer: with ≤ 8 keys/doc only blocks ≤ 5 are
    // affordable at maxHamming=3 (C(5,3)=10 > 8 → caps at 4)
    assert(BandPlan.blocksForCorpus(64, 3, 10000000000L, maxKeysPerDoc = 8) === 4)
    // the fingerprint caps keyBits: an absurd n still terminates and
    // returns the widest affordable plan
    val b = BandPlan.blocksForCorpus(64, 3, Long.MaxValue, maxKeysPerDoc = 64)
    assert(b >= 6 && BandPlan(64, b, 3).keysPerDoc <= 64)
  }
}
