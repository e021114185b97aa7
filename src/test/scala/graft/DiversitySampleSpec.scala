package graft

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

import graft.llm.Similarity

/** Cluster-balanced diversity sampling invariants. The cluster membership
  * itself is pinned elsewhere (the pair-scanner oracles + IvfRecallSpec);
  * this spec takes prototypePrune's (vec_id, cid) — the SAME hierMembers
  * chain at the same default k — as the membership and independently
  * replays the sampling rule on top: own JDK md5, own hex, own rank.
  */
class DiversitySampleSpec extends AnyFunSuite with SharedSpark {

  private val dir = "/root/testdata/sf0.001"

  private def md5hex(s: String): String =
    MessageDigest.getInstance("MD5")
      .digest(s.getBytes(StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString

  private lazy val membership: Map[Long, Int] =
    Similarity.prototypePrune(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap

  private lazy val got: Seq[(Long, Int, Int)] =
    Similarity.diversitySample(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSeq

  test("the sample is exactly the per-cluster md5-rank quota prefix of " +
      "the shared membership") {
    val expected = membership.toSeq.groupBy(_._2).flatMap { case (cid, ms) =>
      ms.map(_._1).sortBy(id => (md5hex(id.toString), id))
        .take(Similarity.DiversityQuota)
        .zipWithIndex
        .map { case (id, i) => (id, cid, i + 1) }
    }.toSet
    assert(got.toSet == expected)
    assert(got.map(_._1).toSeq == got.map(_._1).toSeq.sorted, "ordered")
  }

  test("every cluster is represented, none above quota — coverage is flat " +
      "where the corpus is peaked") {
    val perCluster = got.groupBy(_._2).map { case (cid, rs) => cid -> rs.length }
    val clusterSizes = membership.groupBy(_._2).map { case (cid, ms) => cid -> ms.size }
    assert(perCluster.keySet == clusterSizes.keySet, "every cluster sampled")
    perCluster.foreach { case (cid, n) =>
      assert(n == math.min(Similarity.DiversityQuota, clusterSizes(cid)),
        s"cid=$cid")
    }
    // rk is 1-based and dense within each cluster
    got.groupBy(_._2).foreach { case (cid, rs) =>
      assert(rs.map(_._3).sorted == (1 to rs.length).toSeq, s"cid=$cid")
    }
  }

  test("sampling is deterministic across runs") {
    val again = Similarity.diversitySample(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSeq
    assert(again == got)
  }
}
