package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties, Test}

import graft.functions.{BloomBuild, BloomContains}

/** Randomized pin of the Bloom pair's contracts on arbitrary 64-bit hash
  * multisets and partitionings: NO false negative ever (the losslessness of
  * the decontamination pre-filter reduces to this), build independence from
  * partitioning (the merge is a lattice join, so any partition split must
  * produce the identical sketch), and header integrity.
  */
object BloomProps extends Properties("bloomFilter") {

  // each case is a small Spark job; 20 random multisets covers duplicates,
  // extremes, and partition-merge interleavings
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(20)

  private lazy val spark = SharedSpark.session

  private val Bits = 1 << 10
  private val K = 4

  private val genHashes: Gen[List[Long]] = for {
    n <- Gen.choose(1, 300)
    base <- Gen.listOfN(n, Gen.oneOf(
      Gen.choose(Long.MinValue, Long.MaxValue),
      Gen.choose(-100L, 100L), // force collisions/duplicates
      Gen.oneOf(0L, -1L, 1L, Long.MinValue, Long.MaxValue)))
  } yield base

  private def build(hashes: Seq[Long], parts: Int): Seq[Long] = {
    import spark.implicits._
    spark.createDataset(hashes).repartition(parts).toDF("h")
      .agg(BloomBuild(col("h"), Bits, K).as("bits"))
      .head().getSeq[Long](0)
  }

  property("no false negatives on arbitrary hash multisets") =
    Prop.forAll(genHashes, Gen.choose(1, 6)) { (hashes, parts) =>
      import spark.implicits._
      val bloom = spark.createDataset(hashes).repartition(parts).toDF("h")
        .agg(BloomBuild(col("h"), Bits, K).as("bits"))
      val missing = spark.createDataset(hashes).toDF("h")
        .crossJoin(broadcast(bloom))
        .filter(!BloomContains(col("bits"), col("h")))
        .count()
      Prop(missing == 0L) :| s"$missing inserted hashes probed false"
    }

  property("sketch is independent of partitioning and carries its k") =
    Prop.forAll(genHashes, Gen.choose(2, 7)) { (hashes, parts) =>
      val serial = build(hashes, 1)
      val merged = build(hashes, parts)
      Prop(serial == merged) :| "merge path diverged from serial build" &&
        Prop(serial.head == K.toLong) :| s"header ${serial.head} != $K" &&
        Prop(serial.length == 1 + Bits / 64) :| "wrong sketch length"
    }
}
