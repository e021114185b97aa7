package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties, Test}

import graft.functions.{CmsSketch, HllRegisters}
import graft.llm.Sketches

/** Randomized pin of the HLL / CMS aggregate contracts on arbitrary inputs
  * and partitionings: partition independence (both merges are commutative
  * monoids — element-wise max and element-wise sum — so any split of the
  * same multiset must produce the identical sketch), agreement with a
  * plain-Scala reference fold, and the sketches' defining inequalities
  * (HLL registers only grow under union; CMS point reads never
  * undercount).
  */
object SketchProps extends Properties("sketchAggregates") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(15)

  private lazy val spark = SharedSpark.session

  // ---- HLL -----------------------------------------------------------------

  private val genHashes32: Gen[List[Long]] = for {
    n <- Gen.choose(1, 300)
    xs <- Gen.listOfN(n, Gen.oneOf(
      Gen.choose(0L, (1L << 32) - 1),
      Gen.choose(0L, 255L),                 // bucket-0 pileup
      Gen.oneOf(0L, 1L, (1L << 32) - 1)))   // rank extremes
  } yield xs

  private def hllRef(hashes: Seq[Long]): Seq[Int] = {
    val regs = new Array[Int](Sketches.HllM)
    hashes.foreach { h =>
      val bucket = (h >>> Sketches.HllW).toInt
      val suffix = h & ((1L << Sketches.HllW) - 1)
      val rank =
        if (suffix == 0L) Sketches.HllMaxRank
        else Sketches.HllMaxRank - (64 - java.lang.Long.numberOfLeadingZeros(suffix))
      if (rank > regs(bucket)) regs(bucket) = rank
    }
    regs.toSeq
  }

  private def hllBuild(hashes: Seq[Long], parts: Int): Seq[Int] = {
    import spark.implicits._
    spark.createDataset(hashes).repartition(parts).toDF("h")
      .agg(HllRegisters(col("h"), Sketches.HllP).as("r"))
      .head().getSeq[Int](0)
  }

  property("hll registers match the reference fold under any partitioning") =
    Prop.forAll(genHashes32, Gen.choose(1, 7)) { (hs, parts) =>
      hllBuild(hs, parts) == hllRef(hs)
    }

  property("hll registers only grow under union") =
    Prop.forAll(genHashes32, genHashes32, Gen.choose(1, 5)) { (a, b, parts) =>
      // the AGGREGATE builds both sides — the inequality pins
      // HllRegisters, not just the reference fold
      val ra = hllBuild(a, parts)
      val ru = hllBuild(a ++ b, parts)
      ra.zip(ru).forall { case (x, y) => y >= x }
    }

  // ---- CMS -----------------------------------------------------------------

  private val D = 3
  private val W = 16

  private val genBuckets: Gen[List[List[Int]]] = for {
    n <- Gen.choose(1, 200)
    xs <- Gen.listOfN(n, Gen.listOfN(D, Gen.choose(0, W - 1)))
  } yield xs

  private def cmsRef(items: Seq[Seq[Int]]): Seq[Long] = {
    val m = new Array[Long](D * W)
    items.foreach(_.zipWithIndex.foreach { case (b, i) => m(i * W + b) += 1L })
    m.toSeq
  }

  private def cmsBuild(items: Seq[Seq[Int]], parts: Int): Seq[Long] = {
    import spark.implicits._
    spark.createDataset(items.map(_.toList)).repartition(parts).toDF("b")
      .agg(CmsSketch(col("b"), D, W).as("m"))
      .head().getSeq[Long](0)
  }

  property("cms matrix matches the reference fold under any partitioning") =
    Prop.forAll(genBuckets, Gen.choose(1, 7)) { (items, parts) =>
      cmsBuild(items, parts) == cmsRef(items)
    }

  property("cms point reads never undercount any item") =
    Prop.forAll(genBuckets, Gen.choose(1, 5)) { (items, parts) =>
      // the AGGREGATE builds the matrix — the one-sided error pins
      // CmsSketch.update/merge, not just the reference fold
      val m = cmsBuild(items, parts)
      val exact = items.groupBy(identity).view.mapValues(_.size.toLong)
      exact.forall { case (bs, n) =>
        val est = bs.zipWithIndex.map { case (b, i) => m(i * W + b) }.min
        est >= n
      }
    }
}
