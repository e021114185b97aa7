package graft

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import org.scalatest.funsuite.AnyFunSuite

import graft.llm.Similarity

/** Pins prototypePrune's selection logic and its prototypicality score.
  *
  * The cluster membership itself is pinned elsewhere (the pair-scanner
  * oracles + IvfRecallSpec); this spec takes the returned (cid, proto) as
  * given and independently re-derives everything layered on top:
  *  - the per-cluster drop quota, (csize * PrunePct) div 100, exactly;
  *  - the rank rule: within a cluster the dropped set is precisely the
  *    quota-prefix of (proto DESC, vec_id ASC);
  *  - the score itself, for every vector of one full cluster, recomputed
  *    in pure Scala from the raw parquet — own decimal quantization
  *    (Spark's Cast(double → DECIMAL(38,10)): shortest decimal repr,
  *    HALF_UP), own exact BigDecimal component sums, own left-to-right
  *    dot fold, own 9dp HALF_UP round — no Spark expression in the loop.
  */
class PrototypePruneSpec extends AnyFunSuite with SharedSpark {

  private val dir = "/root/testdata/sf0.001"

  private lazy val rows = Similarity.prototypePrune(spark, dir).collect()
    .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getBoolean(3)))

  test("one row per vector, ordered by vec_id") {
    val n = spark.read.parquet(s"$dir/embeddings.parquet").count()
    assert(rows.length == n)
    assert(rows.map(_._1).toSeq == rows.map(_._1).toSeq.sorted)
  }

  test("per-cluster drop quota is (csize * PrunePct) div 100, on the rank prefix") {
    rows.groupBy(_._2).foreach { case (cid, members) =>
      val quota = members.length * Similarity.PrunePct / 100
      val ranked = members.sortBy(m => (-m._3, m._1))
      val (dropped, kept) = ranked.splitAt(quota)
      assert(dropped.forall(!_._4), s"cid=$cid: quota prefix must be dropped")
      assert(kept.forall(_._4), s"cid=$cid: tail must be kept")
    }
  }

  test("proto = 9dp cosine to the cluster's exact-decimal sum centroid") {
    // Spark's Cast(double -> DECIMAL(38,10)) quantizes the double's
    // SHORTEST decimal representation half-up; Double.toString is that
    // shortest form.
    def q10(x: Double): JBigDecimal =
      new JBigDecimal(java.lang.Double.toString(x))
        .setScale(10, RoundingMode.HALF_UP)
    def round9(x: Double): Double =
      new JBigDecimal(java.lang.Double.toString(x))
        .setScale(9, RoundingMode.HALF_UP).doubleValue()
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .selectExpr("vec_id", "cast(embedding as array<double>) as v")
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val byCid = rows.groupBy(_._2)
    // the largest cluster exercises the most sum terms
    val (cid, members) = byCid.maxBy(_._2.length)
    val dim = vecs(members.head._1).length
    val centroid = Array.tabulate(dim) { i =>
      members.map(m => q10(vecs(m._1)(i)))
        .reduce(_.add(_)).doubleValue()
    }
    val cnorm = math.sqrt(dot(centroid, centroid))
    members.foreach { case (id, _, proto, _) =>
      val v = vecs(id)
      val want = round9(dot(v, centroid) / (math.sqrt(dot(v, v)) * cnorm))
      assert(proto == want,
        s"cid=$cid vec=$id: got $proto want $want")
    }
  }
}
