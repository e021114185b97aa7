package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.ZOrderOps

/** The z-value arithmetic is pinned against a straight-line Scala Morton
  * reference, and the layout claim — z-clustered files carry tight min/max
  * envelopes on BOTH dimensions, so a 2-D box touches few files — is
  * measured, not asserted by vibes.
  */
class ZOrderSpec extends AnyFunSuite with SharedSpark {

  private val dir = "/root/testdata/sf0.001"

  /** Straight-line Morton reference: interleave bit by bit. */
  private def mortonRef(x: Long, y: Long): Long = {
    var z = 0L
    for (i <- 0 until ZOrderOps.DimBits)
      z |= (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))
    z
  }

  test("mask-chain z-value equals the bit-by-bit Morton reference") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val pts = Seq((0L, 0L), (65535L, 65535L), (1L, 0L), (0L, 1L)) ++
      Seq.fill(500)((rnd.nextInt(65536).toLong, rnd.nextInt(65536).toLong))
    val bad = pts.toDF("x", "y")
      .select(col("x"), col("y"), ZOrderOps.zvalue(col("x"), col("y")).as("z"))
      .collect()
      .filter(r => r.getLong(2) != mortonRef(r.getLong(0), r.getLong(1)))
    assert(bad.isEmpty, s"z mismatch on ${bad.take(3).mkString(", ")}")
    // values out of the 16-bit window are masked, not wrapped or overflowed
    val masked = Seq((65536L + 7L, 3L)).toDF("x", "y")
      .select(ZOrderOps.zvalue(col("x"), col("y"))).head().getLong(0)
    assert(masked == mortonRef(7L, 3L))
  }

  test("z-layout bounds BOTH dimensions per file; linear sort bounds only one") {
    val tmp = Files.createTempDirectory("graft_zorder").toString
    val src = Tables.table(spark, dir, "orders")
      .select(col("o_orderkey"), (col("o_custkey") % 256).as("x"),
        (datediff(col("o_orderdate"), to_date(lit("1992-01-01"))) % 256)
          .cast("long").as("y"))
    val files = 16
    ZOrderOps.zorderLayout(src, col("x"), col("y"), files)
      .write.parquet(s"$tmp/z")
    src.repartitionByRange(files, col("x"))
      .sortWithinPartitions(col("x"))
      .write.parquet(s"$tmp/linear")
    // the discriminating workload is a predicate on the SECOND dimension
    // (y only): a file must be read iff its [min(y), max(y)] envelope
    // intersects the band. The x-sorted layout spans all of y in every
    // file — nothing skips; the z layout bounds y per file, so only the
    // files owning low-y z-blocks qualify (~1/4 of them for a 64-wide band
    // over a 256 domain)
    def filesTouchedByYBand(path: String, lo: Long, hi: Long): (Long, Long) = {
      val env = spark.read.parquet(path)
        .groupBy(input_file_name().as("f"))
        .agg(min(col("y")).as("ymin"), max(col("y")).as("ymax"))
        .cache()
      val total = env.count()
      val touched = env.filter(col("ymax") >= lo && col("ymin") <= hi).count()
      env.unpersist()
      (touched, total)
    }
    val (zTouched, zTotal) = filesTouchedByYBand(s"$tmp/z", 0, 63)
    val (linTouched, linTotal) = filesTouchedByYBand(s"$tmp/linear", 0, 63)
    assert(linTouched == linTotal,
      s"x-sorted layout should be unable to skip on y ($linTouched/$linTotal)")
    assert(zTouched <= zTotal / 2,
      s"z layout should skip most files on a y band: touched $zTouched/$zTotal")
  }

  test("zorderPrune replays the ntile file assignment and the skip counts") {
    import ZOrderOps._
    val rows = Tables.table(spark, dir, "orders")
      .select(col("o_orderkey"), (col("o_custkey") % (1L << DimBits)).as("x"),
        (datediff(col("o_orderdate"), to_date(lit("1992-01-01")))
          % (1 << DimBits)).cast("long").as("y"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    def morton(x: Long, y: Long): Long = {
      def sp(v: Long) = (0 until DimBits).map(i => ((v >> i) & 1L) << (2 * i)).sum
      sp(x) | (sp(y) << 1)
    }
    def inBox(x: Long, y: Long) =
      x >= BoxXLo && x <= BoxXHi && y >= BoxYLo && y <= BoxYHi
    // SQL ntile: first (n mod F) tiles take ceil(n/F) rows
    def replay(sorted: Seq[(Long, Long, Long)]): (Long, Long) = {
      val n = sorted.size
      val (big, base) = (n % PruneFiles, n / PruneFiles)
      val files = sorted.zipWithIndex.groupBy { case (_, i) =>
        if (i < big * (base + 1)) i / (base + 1)
        else (i - big * (base + 1)) / base + big
      }
      val scanned = files.values.count { f =>
        val (xs, ys) = (f.map(_._1._2), f.map(_._1._3))
        xs.min <= BoxXHi && xs.max >= BoxXLo &&
          ys.min <= BoxYHi && ys.max >= BoxYLo
      }
      (scanned.toLong, sorted.count(r => inBox(r._2, r._3)).toLong)
    }
    val wantNat = replay(rows.sortBy(_._1).toSeq)
    val wantZ = replay(rows.sortBy(r => (morton(r._2, r._3), r._1)).toSeq)
    val got = ZOrderOps.zorderPrune(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got("natural") == ((PruneFiles.toLong, wantNat._1, wantNat._2)))
    assert(got("zorder") == ((PruneFiles.toLong, wantZ._1, wantZ._2)))
    // the point, measured: same matching rows, far fewer files touched
    assert(got("natural")._3 == got("zorder")._3)
    assert(got("zorder")._2 * 2 < got("natural")._2,
      s"z-order should skip most files: ${got("zorder")._2} vs ${got("natural")._2}")
    assert(got("natural")._3 > 0, "the benchmark box must match real rows")
  }

  test("zone-map maintenance merge equals the direct recompute") {
    import ZOrderOps._
    val rows = Tables.table(spark, dir, "orders")
      .select(col("o_orderkey"), (col("o_custkey") % (1L << DimBits)).as("x"),
        (datediff(col("o_orderdate"), to_date(lit("1992-01-01")))
          % (1 << DimBits)).cast("long").as("y"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    def sp(v: Long) = (0 until DimBits).map(i => ((v >> i) & 1L) << (2 * i)).sum
    val keyed = rows.map { case (k, x, y) =>
      ((sp(x) | (sp(y) << 1)) >> ZonemapShift, k, x, y)
    }
    val want = keyed.groupBy(_._1).map { case (f, rs) =>
      f -> (rs.map(_._3).min, rs.map(_._3).max, rs.map(_._4).min,
        rs.map(_._4).max, rs.size.toLong)
    }
    val got = ZOrderOps.ivmZonemap(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toMap
    assert(got == want, "merged stats must equal the direct recompute")
    // the merge is non-vacuous: some bucket receives rows from BOTH the
    // base and the delta slice, so min/min-max/max-add actually combined
    assert(keyed.groupBy(_._1).exists { case (_, rs) =>
      rs.exists(_._2 % 7 == 0) && rs.exists(_._2 % 7 != 0)
    })
    assert(got.size > 1, "the populated z-range must span several buckets")
  }
}
