package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.Similarity

/** Pins the recall-curve geometry of the IVFPQ knobs (r12 ask #5) — the
  * two monotonicities that are THEOREMS of the plan shape, not tuning
  * accidents, so a regression in either is a logic bug:
  *
  *  - COVERAGE (exact top-k ∩ probed clusters) is monotone in `probes`:
  *    the probed-cluster sets are nested by construction (rank cutoff on
  *    one fixed centroid ranking).
  *  - RECALL is monotone in `shortlistPer` at fixed probes: the re-rank
  *    scores candidates by the SAME exact cosine that defines the truth
  *    ranking, so any true top-k neighbor that reaches the candidate set
  *    is always selected — recall equals |candidates ∩ truth|/k, and the
  *    candidate set only grows with the shortlist.
  *
  * Recall in `probes` at a FIXED shortlist is deliberately NOT pinned:
  * it genuinely dips when extra probed candidates crowd true neighbors
  * out of the fixed-size ADC shortlist (measured 0.667 → 0.600 at
  * p4 → p8, s=10k on this fixture) — that dip is the measured fact the
  * curve artifact exists to show.
  */
class RecallCurveSpec extends AnyFunSuite with SharedSpark {

  val dir = "/root/testdata/sf0.01"
  val k = Similarity.PqTopK

  test("coverage is monotone in probes; recall monotone in shortlist") {
    val truthByQ = Similarity.bruteForceTopK(spark, dir)
      .filter(col("rk") <= k)
      .select(col("q_id"), col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }
    val (cents, books, index) = Similarity.ivfPqIndex(spark, dir)
    val idx = index.cache(); idx.count()
    val memberOf = idx.select(col("vec_id"), col("cid")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap

    def coverage(p: Int): Double = {
      val routedByQ = Similarity.ivfRouting(spark, dir, cents, probes = p)
        .collect().map(r => (r.getLong(0), r.getInt(1)))
        .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }
      val cs = truthByQ.toSeq.map { case (q, ts) =>
        ts.count(t => memberOf.get(t)
          .exists(routedByQ.getOrElse(q, Set.empty[Int]).contains)).toDouble / ts.size
      }
      cs.sum / cs.size
    }
    def recall(p: Int, shortlist: Int): Double = {
      val byQ = Similarity.ivfPqProbe(spark, dir, cents, books, idx,
          probes = p, shortlistPer = shortlist)
        .select(col("q_id"), col("vec_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }
      val rs = truthByQ.toSeq.map { case (q, ts) =>
        byQ.getOrElse(q, Set.empty[Long]).intersect(ts).size.toDouble / ts.size
      }
      rs.sum / rs.size
    }

    val probeSteps = Seq(1, 4, 8)
    val covs = probeSteps.map(coverage)
    assert(covs === covs.sorted,
      s"coverage must be monotone in probes: $probeSteps -> $covs")
    // all 8 clusters probed ⇒ every truth neighbor's cluster is probed
    assert(covs.last === 1.0, s"probes=8 of k=8 clusters must cover: $covs")

    for (p <- Seq(2, 8)) {
      val r10 = recall(p, 10 * k)
      val r20 = recall(p, 20 * k)
      assert(r20 >= r10,
        s"recall must be monotone in shortlist at probes=$p: $r10 -> $r20")
    }
    // the pinned serving point keeps its floor
    assert(recall(Similarity.Probes, Similarity.PqRerankCandidates) >= 0.5,
      "recall at the default operating point collapsed")
    spark.catalog.clearCache()
  }

  test("annEval agrees with an independent set recompute of both metrics") {
    val truthByQ = Similarity.bruteForceTopK(spark, dir)
      .filter(col("rk") <= k)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .groupBy(_._1)
    val annByQ = Similarity.ivfPqSearch(spark, dir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .groupBy(_._1)
    val got = Similarity.annEval(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got.keySet == truthByQ.keySet, "one eval row per query")
    truthByQ.foreach { case (qid, truth) =>
      val truthSet = truth.map(_._3).toSet
      val annList = annByQ.getOrElse(qid, Array.empty)
      val hits = annList.count(a => truthSet.contains(a._3)).toLong
      val top1 = truth.find(_._2 == 1).map(_._3).get
      val mrr = annList.find(_._3 == top1)
        .map(a => 1000000L / a._2).getOrElse(0L)
      assert(got(qid) == ((hits, 1000000L * hits / k, mrr)),
        s"q$qid: eval row ${got(qid)} != recomputed ($hits, $mrr)")
    }
    spark.catalog.clearCache()
  }
}
