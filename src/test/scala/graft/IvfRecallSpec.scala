package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.llm.Similarity

/** Recall properties of the learned-centroid IVF: multi-probe must not lose
  * recall vs single-probe, and both must retrieve a sane share of the exact
  * brute-force top-3 (IVF trades recall for scanning probes/k of the
  * corpus; the probe count is the recall knob).
  */
class IvfRecallSpec extends AnyFunSuite with SharedSpark {

  private val dir = "/root/testdata/sf0.001"

  private def topSet(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
    df.filter(col("rk") <= 3)
      .select(col("q_id"), col("vec_id"))
      .collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(1)).toSet).toMap

  test("multi-probe recall@3 >= single-probe, and both retrieve real neighbors") {
    val truth = topSet(Similarity.bruteForceTopK(spark, dir))
    def recall(m: Map[Long, Set[Long]]): Double = {
      val per = truth.map { case (q, ts) =>
        m.getOrElse(q, Set.empty).intersect(ts).size.toDouble / ts.size }
      per.sum / per.size
    }
    val r1 = recall(topSet(Similarity.ivfKmeansTopK(spark, dir, probes = 1)))
    val r2 = recall(topSet(Similarity.ivfKmeansTopK(spark, dir, probes = 2)))
    assert(r2 >= r1, s"multi-probe recall $r2 < single-probe $r1")
    assert(r2 >= 0.5, s"recall@3 with 2 probes too low: $r2")
  }

  test("ivfpq returns probed-cluster members and tracks the exact-IVF answer") {
    import org.apache.spark.sql.functions.col
    // the exact-scan IVF with the SAME routing is the composition's
    // ceiling: IVFPQ differs from it only by the PQ shortlist, so the
    // comparison isolates the quantization loss from the routing loss
    val exactIvf = topSet(Similarity.ivfKmeansTopK(spark, dir))
    val ivfpq = topSet(Similarity.ivfPqSearch(spark, dir))
    assert(ivfpq.nonEmpty)
    val per = exactIvf.map { case (q, ts) =>
      ivfpq.getOrElse(q, Set.empty).intersect(ts).size.toDouble / ts.size }
    val vsExactIvf = per.sum / per.size
    assert(vsExactIvf >= 0.6,
      s"ivfpq lost too much of the probed-cluster exact answer: $vsExactIvf")
    // shape sanity: full k per query, exact cosine in range, and the ADC
    // column rides along (the consumer's debugging handle)
    val rows = Similarity.ivfPqSearch(spark, dir).collect()
    val perQuery = rows.groupBy(_.getLong(0)).values.map(_.length)
    assert(perQuery.forall(_ == Similarity.PqTopK))
    rows.foreach { r =>
      assert(math.abs(r.getDouble(3)) <= 1.0 + 1e-9)
      assert(r.getDouble(4) >= 0.0 - 1e-9)
    }
    spark.catalog.clearCache()
  }

  test("hard negatives: the best sub-threshold co-member, verified brute-force") {
    val negs = Similarity.hardNegatives(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val members = Similarity.semDedup(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    spark.catalog.clearCache()
    assert(negs.nonEmpty)
    val vecs = graft.Tables.table(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos9(a: Array[Double], b: Array[Double]): Double = {
      def dot(x: Array[Double], y: Array[Double]) =
        x.indices.foldLeft(0.0)((acc, i) => acc + x(i) * y(i))
      BigDecimal(dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val byCluster = members.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    val negById = negs.map(n => n._1 -> n).toMap
    members.foreach { case (id, cid) =>
      val cands = byCluster(cid).filter(_ != id)
        .map(o => (cos9(vecs(id), vecs(o)), o))
        .filter(_._1 < Similarity.SemDedupThreshold)
      negById.get(id) match {
        case Some((_, ncid, negId, negCos)) =>
          assert(ncid == cid)
          val best = cands.maxBy { case (c, o) => (c, -o) }
          assert((negCos, negId) == best,
            s"vec $id: got ($negCos, $negId), want $best")
          // hard but not a duplicate
          assert(negCos < Similarity.SemDedupThreshold)
        case None =>
          assert(cands.isEmpty,
            s"vec $id has candidates $cands but emitted no negative")
      }
    }
  }

  test("semdedup verdicts match a brute-force within-cluster recomputation") {
    val out = Similarity.semDedup(spark, dir).cache()
    val c = graft.Tables.table(spark, dir, "embeddings")
    assert(out.count() == c.count(), "every vector must get a verdict")
    val verdicts = out.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2)))
    val vecs = c.select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos9(a: Array[Double], b: Array[Double]): BigDecimal = {
      def dot(x: Array[Double], y: Array[Double]) =
        x.indices.foldLeft(0.0)((acc, i) => acc + x(i) * y(i))
      BigDecimal(dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP)
    }
    val byCluster = verdicts.groupBy(_._2)
    var dupsSeen = 0
    byCluster.values.foreach { mem =>
      val ids = mem.map(_._1).sorted
      mem.foreach { case (id, _, keep) =>
        val hasTwin = ids.exists(o => o < id &&
          cos9(vecs(o), vecs(id)) >= BigDecimal(Similarity.SemDedupThreshold))
        assert(keep == !hasTwin,
          s"vec $id: keep=$keep but smaller-id twin exists=$hasTwin")
        if (hasTwin) dupsSeen += 1
      }
    }
    assert(dupsSeen > 0, "fixture produced no semantic dup; the check is vacuous")
    // the smallest vec_id of every cluster is always a keeper
    byCluster.values.foreach { mem =>
      val first = mem.minBy(_._1)
      assert(first._3, s"cluster ${first._2}: smallest vec ${first._1} dropped")
    }
    spark.catalog.clearCache()
  }

  test("gated semdedup membership below the crossover equals the flat rank-seeded form") {
    // at this fixture the auto-sized fine budget k = max(8, n/250) sits
    // under CoarseRouteMinK, so the membership runs with ONE coarse cell
    // — which must reproduce the flat global-rank-seeded Lloyd EXACTLY:
    // the single cell's kf = max(1, n/250) seeds are the global k
    // smallest vec_ids, the fine rounds see every vector, and
    // cid = 0·kfmax + fcid is the seed rank. Bit-exact equality, not a
    // recall bound — the gate is a stage-count optimization, not an
    // approximation.
    val c = graft.Tables.table(spark, dir, "embeddings")
    val corp = c.select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("nv", Similarity.norm(col("v")))
    val n = corp.count()
    val kf = math.max(1L, n / Similarity.PairClusterTarget).toInt
    val gated = Similarity.semDedup(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val flat = Similarity.flatMembers(corp, kf)
      .select(col("vec_id"), col("cid")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    spark.catalog.clearCache()
    assert(gated == flat,
      s"gated single-cell membership diverged from flat(k=$kf): " +
        s"${gated.toSet.diff(flat.toSet).take(5)} vs ${flat.toSet.diff(gated.toSet).take(5)}")
  }

  test("hierarchical semdedup recall pinned against the flat exact form") {
    // ground truth: a vector is a TRUE dup iff a smaller-id twin at
    // cosine >= threshold exists ANYWHERE in the corpus (no clustering)
    val c = graft.Tables.table(spark, dir, "embeddings")
    val vecs = c.select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos9(a: Array[Double], b: Array[Double]): BigDecimal = {
      def dot(x: Array[Double], y: Array[Double]) =
        x.indices.foldLeft(0.0)((acc, i) => acc + x(i) * y(i))
      BigDecimal(dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP)
    }
    val thr = BigDecimal(Similarity.SemDedupThreshold)
    val ids = vecs.keys.toArray.sorted
    val truth = ids.filter(id =>
      ids.exists(o => o < id && cos9(vecs(o), vecs(id)) >= thr)).toSet
    assert(truth.nonEmpty, "fixture has no true near-twin; recall is vacuous")
    // dup sets under each clustering (same within-cluster rule)
    def dupsOf(members: Array[(Long, Int)]): Set[Long] =
      members.groupBy(_._2).values.flatMap { mem =>
        val ms = mem.map(_._1).sorted
        ms.filter(id => ms.exists(o => o < id &&
          cos9(vecs(o), vecs(id)) >= thr))
      }.toSet
    // force the TWO-LEVEL path (the crossover gate would otherwise take
    // the single-cell shortcut at fixture scale): a fine budget just
    // above CoarseRouteMinK gives ⌈√k⌉ coarse cells, each seeding
    // max(1, |cell|/250) fine centroids — the effective cluster count is
    // the coarse cell count here, so the flat reference is matched on
    // THAT budget, not on the nominal k
    val hierK = Similarity.CoarseRouteMinK + 50
    // ONE collect serves both the dup set and the effective cluster
    // count — a second full semDedup run bought nothing but wall clock
    val hierRows = Similarity.semDedup(spark, dir, k = Some(hierK)).collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    val hier = dupsOf(hierRows)
    val corp = c.select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("nv", Similarity.norm(col("v")))
    val effectiveK = hierRows.map(_._2).distinct.length
    val flat = dupsOf(
      Similarity.flatMembers(corp, effectiveK)
        .select(col("vec_id"), col("cid")).collect()
        .map(r => (r.getLong(0), r.getInt(1))))
    spark.catalog.clearCache()
    // both are exact WITHIN their clusters: no false positives ever
    assert(hier.subsetOf(truth), "hierarchical flagged a non-dup")
    assert(flat.subsetOf(truth), "flat flagged a non-dup")
    val hierRecall = hier.size.toDouble / truth.size
    val flatRecall = flat.size.toDouble / truth.size
    info(s"recall vs all-pairs truth: hier=$hierRecall flat=$flatRecall " +
      s"(truth=${truth.size}, hier=${hier.size}, flat=${flat.size})")
    // the two-level routing must not give up a meaningful share of what
    // the flat clustering catches — the documented cross-cluster trade
    // is allowed to move individual pairs, not to gut recall
    assert(hierRecall >= flatRecall - 0.15,
      s"hierarchical recall $hierRecall fell too far below flat $flatRecall")
    // collapse guards, asserted DIRECTLY rather than through a recall
    // floor sitting 0.07 under the measured value (0.274 — a fixture
    // nudge away from flaking while too low to catch anything but total
    // collapse): the two-level form must actually produce a granular
    // clustering (at this budget the effective clusters are the coarse
    // cells: >1 and at most coarseCount(hierK)=16), and it must find
    // SOMETHING (zero dups with a nonempty truth set is the collapse)
    assert(effectiveK > 1 && effectiveK <= Similarity.coarseCount(hierK),
      s"effective cluster count $effectiveK outside " +
        s"(1, ${Similarity.coarseCount(hierK)}] — two-level sizing broke")
    assert(hier.nonEmpty, "two-level semDedup found no dups at all " +
      s"against ${truth.size} true pairs")
  }

  test("clusters are disjoint and cover the corpus (IVF index invariant)") {
    val members = Similarity.kmeansCentroids(spark, dir)
    val c = graft.Tables.table(spark, dir, "embeddings")
    val n = c.count()
    val assigned = Similarity.ivfKmeansTopK(spark, dir) // forces plan sanity
    assert(assigned.count() > 0)
    assert(members.count() <= Similarity.KmeansK)
    assert(n > 0)
  }
}
