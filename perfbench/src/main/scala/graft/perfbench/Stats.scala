package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

object Stats {

  /** Order-insensitive digest of a frame: (row count, XOR of each row's
    * 60-bit md5 prefix). A row canonicalizes as its columns cast to
    * string, in column-name order, joined by '|', with a sentinel for
    * null — the same form as `BenchSyncJob`'s action digest. Computed
    * as one distributed aggregation; nothing data-sized reaches the driver.
    */
  def digest(df: DataFrame): (Long, Long) = {
    val cols = df.columns.sorted.map(c =>
      coalesce(col(s"`$c`").cast("string"), lit("\u0000null")))
    val h = conv(substring(md5(concat_ws("|", cols.toSeq: _*)), 1, 15), 16, 10)
      .cast("long")
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), coalesce(expr("bit_xor(h)"), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** The q-quantile (0 < q < 1, linear interpolation). The median is
    * always reported; a percentile above it only when at least `minTail`
    * samples lie beyond it — a p90 needs 100 samples, a p75 40 — since
    * with fewer it is really the maximum.
    */
  def percentile(xs: Seq[Double], q: Double, minTail: Int = 10): Option[Double] = {
    require(q > 0 && q < 1, s"quantile $q outside (0, 1)")
    // the epsilon keeps 100 × (1 - 0.9) = 9.999… from losing a sample
    if (xs.isEmpty || (q > 0.5 && xs.length * (1 - q) + 1e-9 < minTail)) None
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.length - 1)
      Some(s(lo) + (s(hi) - s(lo)) * (pos - lo))
    }
  }

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), s"geomean needs positive samples: $xs")
    math.exp(xs.map(math.log).sum / xs.length)
  }
}
