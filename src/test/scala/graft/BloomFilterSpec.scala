package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{BloomBuild, BloomContains, BloomHashOps}
import graft.llm.Curation

/** Contracts of the Bloom pair: no false negatives ever (the lossless-ness
  * of the decontamination pre-filter hangs on it), merge-path equivalence,
  * a sane false-positive rate at the declared sizing, and end-to-end
  * equality of the accelerated decontamination with the exact one.
  */
class BloomFilterSpec extends AnyFunSuite with SharedSpark {

  private val dir = "/root/testdata/sf0.001"

  private val Bits = 1 << 12
  private val K = 5

  test("no false negatives: every inserted hash probes true, merged across partitions") {
    import spark.implicits._
    val hashes = (1L to 5000L).map(v => v * 2654435761L % 4294967296L)
    val bloom = spark.createDataset(hashes).repartition(7).toDF("h")
      .agg(BloomBuild(col("h"), Bits, K).as("bits"))
    val missing = spark.createDataset(hashes).toDF("h")
      .crossJoin(broadcast(bloom))
      .filter(!BloomContains(col("bits"), col("h")))
      .count()
    assert(missing == 0, s"$missing inserted hashes probed false")
  }

  test("merge path is bit-identical to a single-partition build") {
    import spark.implicits._
    val hashes = (1L to 2000L).map(v => v * 40503L % 4294967296L)
    def build(parts: Int): Seq[Long] =
      spark.createDataset(hashes).repartition(parts).toDF("h")
        .agg(BloomBuild(col("h"), Bits, K).as("bits"))
        .head().getSeq[Long](0)
    assert(build(1) == build(7), "merged bitset differs from serial build")
  }

  test("false-positive rate stays near the sizing estimate on disjoint probes") {
    import spark.implicits._
    // ~2000 inserted into 4096 bits at k=5 is a deliberately OVERLOADED
    // filter; the point is only that probes of disjoint keys are not
    // degenerate (all-true would mean the probe ignores the bits)
    val inserted = (1L to 2000L).map(v => v * 40503L % 4294967296L)
    val probes = (1L to 4000L).map(v => v * 2654435761L % 4294967296L)
      .filterNot(inserted.toSet)
    val bloom = spark.createDataset(inserted).toDF("h")
      .agg(BloomBuild(col("h"), Bits, K).as("bits"))
    val fp = spark.createDataset(probes).toDF("h")
      .crossJoin(broadcast(bloom))
      .filter(BloomContains(col("bits"), col("h")))
      .count()
    assert(fp < probes.size * 0.9, s"degenerate filter: $fp/${probes.size} false positives")
    // and at the declared decontamination sizing the rate is actually low
    val big = spark.createDataset(inserted).toDF("h")
      .agg(BloomBuild(col("h"), Curation.BloomBits, Curation.BloomHashes).as("bits"))
    val fpBig = spark.createDataset(probes).toDF("h")
      .crossJoin(broadcast(big))
      .filter(BloomContains(col("bits"), col("h")))
      .count()
    assert(fpBig < probes.size * 0.01,
      s"declared sizing too hot: $fpBig/${probes.size} false positives")
  }

  test("null hashes are skipped by the build and null-propagate in the probe") {
    import spark.implicits._
    val bloomEmpty = Seq[Option[Long]](None, None).toDF("h")
      .agg(BloomBuild(col("h"), Bits, K).as("bits"))
      .head().getSeq[Long](0)
    assert(bloomEmpty.head == K.toLong, "word 0 must carry the build's hash count")
    assert(bloomEmpty.tail.forall(_ == 0L), "null inputs must not set bits")
    val probed = Seq[Option[Long]](None).toDF("h")
      .crossJoin(broadcast(Seq(1L).toDF("x")
        .agg(BloomBuild(col("x"), Bits, K).as("bits"))))
      .select(BloomContains(col("bits"), col("h")).as("c"))
      .head()
    assert(probed.isNullAt(0), "null probe must yield null, not false")
  }

  test("position arithmetic stays inside the bitset for boundary hashes") {
    // the SQL surface accepts ANY bigint as the pre-hash: full-range signed
    // values (xxhash64-style) and overflow-wrapping magnitudes included
    for (h <- Seq(0L, 1L, 4294967295L, -1L, Long.MinValue, Long.MaxValue);
         i <- 0 until 8) {
      val pos = BloomHashOps.position(h, i, Bits)
      assert(pos >= 0 && pos < Bits, s"position($h, $i) = $pos out of range")
    }
  }

  test("full-range signed hashes build and probe without false negatives") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val hashes = Seq(Long.MinValue, Long.MaxValue, -1L) ++
      Seq.fill(2000)(rnd.nextLong())
    val bloom = spark.createDataset(hashes).repartition(5).toDF("h")
      .agg(BloomBuild(col("h"), Bits, K).as("bits"))
    val missing = spark.createDataset(hashes).toDF("h")
      .crossJoin(broadcast(bloom))
      .filter(!BloomContains(col("bits"), col("h")))
      .count()
    assert(missing == 0, s"$missing full-range hashes probed false")
  }

  test("bloom-accelerated decontamination equals the exact one, end to end") {
    val exact = Curation.decontaminate(spark, dir).collect().toSeq
    val bloom = Curation.bloomDecontaminate(spark, dir).collect().toSeq
    assert(bloom == exact, "accelerated decontamination diverges from exact")
  }

  test("bloom_build / bloom_contains are reachable from SQL") {
    GraftCatalog.registerFunctions(spark)
    val got = spark.sql(
      s"""WITH b AS (SELECT bloom_build(h, $Bits, $K) AS bits
                     FROM (SELECT CAST(7 AS BIGINT) AS h))
          SELECT bloom_contains(bits, CAST(7 AS BIGINT)) AS yes,
                 bloom_contains(bits, CAST(8 AS BIGINT)) AS probably_not
          FROM b""").head()
    assert(got.getBoolean(0), "inserted key must probe true from SQL")
  }
}
