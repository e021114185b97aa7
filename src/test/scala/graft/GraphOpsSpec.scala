package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.GraphOps

/** Fixed-point PageRank invariants: the DuckDB oracle pins the exact
  * integer ranks; these pin the recurrence itself (against a plain-Scala
  * replay) and the properties that make the numbers meaningful.
  */
class GraphOpsSpec extends AnyFunSuite with SharedSpark {

  private val dir = "/root/testdata/sf0.001"

  test("pagerank replays exactly as a plain-Scala integer recurrence") {
    val got = GraphOps.pageRank(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    spark.catalog.clearCache()

    // independent graph build: same node naming, same symmetric edges
    val m = SyncPipeline.memberEdges(spark, dir).collect()
      .map(r => ("u:" + r.getString(0), "g:" + r.getString(1))).distinct
    val edges = m ++ m.map { case (u, g) => (g, u) }
    val deg = edges.groupBy(_._1).map { case (n, es) => n -> es.length.toLong }
    val n = deg.size.toLong
    var pr: Map[String, Long] = deg.keys.map(_ -> GraphOps.PrScale / n).toMap
    val base =
      (GraphOps.PrDampDen - GraphOps.PrDampNum) * (GraphOps.PrScale / n) /
        GraphOps.PrDampDen
    (1 to GraphOps.PrIters).foreach { _ =>
      val inflow = edges
        .groupBy(_._2)
        .map { case (dst, es) =>
          dst -> es.map { case (src, _) =>
            GraphOps.PrDampNum * (pr(src) / deg(src)) / GraphOps.PrDampDen
          }.sum
        }
      pr = pr.keys.map(node => node -> (base + inflow.getOrElse(node, 0L))).toMap
    }
    assert(got.size == pr.size && got.size == n)
    assert(got == pr, {
      val diff = pr.collect { case (k, v) if got.get(k) != Some(v) =>
        s"$k: got ${got.get(k)}, want $v" }
      s"rank mismatch on ${diff.size} nodes:\n${diff.take(5).mkString("\n")}"
    })
  }

  test("pagerank checkpointed high-iteration path matches the direct lineage") {
    // iters > 8 crosses the localCheckpoint boundary (lineage truncation
    // must never change values); compare against the same recurrence run
    // without ever hitting the checkpoint by splitting 10 = 5 + 5 is not
    // possible from outside, so replay plain-Scala at 10 iterations
    val iters = 10
    val got = GraphOps.pageRank(spark, dir, iters = iters).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    spark.catalog.clearCache()
    val m = SyncPipeline.memberEdges(spark, dir).collect()
      .map(r => ("u:" + r.getString(0), "g:" + r.getString(1))).distinct
    val edges = m ++ m.map { case (u, g) => (g, u) }
    val deg = edges.groupBy(_._1).map { case (n, es) => n -> es.length.toLong }
    val n = deg.size.toLong
    var pr: Map[String, Long] = deg.keys.map(_ -> GraphOps.PrScale / n).toMap
    val base =
      (GraphOps.PrDampDen - GraphOps.PrDampNum) * (GraphOps.PrScale / n) /
        GraphOps.PrDampDen
    (1 to iters).foreach { _ =>
      val inflow = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (src, _) =>
          GraphOps.PrDampNum * (pr(src) / deg(src)) / GraphOps.PrDampDen
        }.sum
      }
      pr = pr.keys.map(node => node -> (base + inflow.getOrElse(node, 0L))).toMap
    }
    assert(got == pr)
  }

  test("pagerank conserves probability mass up to integer truncation") {
    val out = GraphOps.pageRank(spark, dir).collect()
    spark.catalog.clearCache()
    val total = out.map(_.getLong(1)).sum
    // every div truncates at most 1 unit per (edge + node) per iteration;
    // with PrScale = 1e12 the loss stays far under 1%
    assert(total <= GraphOps.PrScale, s"mass grew: $total")
    assert(total >= GraphOps.PrScale * 99 / 100,
      s"mass lost beyond truncation: $total of ${GraphOps.PrScale}")
    // and every node keeps at least the restart mass
    assert(out.forall(_.getLong(1) > 0L))
  }

  test("kcore replays exactly as a plain-Scala peel and has converged") {
    val (core, executed) = GraphOps.kCoreCounted(spark, dir)
    val got = core.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    spark.catalog.clearCache()

    // independent graph build: same co-purchase support-pruned edges
    val li: Seq[(Long, Long)] = Tables.table(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val basePairs: Seq[(Long, Long)] = li.groupBy(_._1).values.toSeq
      .flatMap { rows =>
        val ps = rows.map(_._2)
        for (a <- ps; b <- ps if a < b) yield (a, b)
      }
      // filter+keys, NOT collect-to-pair: Map.collect with a pair-typed
      // body rebuilds a Map and silently dedups by first element
      .groupBy(identity)
      .filter(_._2.size >= GraphOps.TriMinSupport).keys.toSeq
    var edges = (basePairs ++ basePairs.map(_.swap)).toSet
    var converged = -1
    (1 to GraphOps.KCoreRounds).foreach { r =>
      val deg = edges.toSeq.groupBy(_._1).map { case (v, es) => v -> es.size }
      val alive = deg.collect {
        case (v, d) if d >= GraphOps.KCoreK => v
      }.toSet
      val next = edges.filter { case (a, b) => alive(a) && alive(b) }
      if (next == edges && converged < 0) converged = r
      edges = next
    }
    val want = edges.toSeq.groupBy(_._1)
      .map { case (v, es) => v -> es.size.toLong }
    assert(got == want, {
      val diff = want.collect { case (k, v) if got.get(k) != Some(v) =>
        s"$k: got ${got.get(k)}, want $v" }
      s"core mismatch on ${diff.size} nodes:\n${diff.take(5).mkString("\n")}"
    })
    // the fixed unroll must have REACHED the fixpoint on this fixture —
    // otherwise KCoreRounds is lying about being "until nothing changes"
    assert(converged > 0 && converged <= GraphOps.KCoreRounds,
      s"peel had not converged within ${GraphOps.KCoreRounds} rounds")
    // convergence-skip: the engine stops at the first no-op round (the
    // round the replay detected convergence on) instead of the full unroll
    assert(executed == converged,
      s"executed $executed rounds, fixpoint at $converged")
    assert(executed < GraphOps.KCoreRounds,
      "no measured round reduction on the fixture")
    // and a converged core is a real k-core: every node keeps >= k edges
    assert(want.values.forall(_ >= GraphOps.KCoreK))
    assert(got.nonEmpty, "empty core is a vacuous test")
  }

  test("bfs replays plain-Scala frontier expansion and has converged") {
    val (reached, executed) = GraphOps.bfsCounted(spark, dir)
    val got = reached.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    spark.catalog.clearCache()
    val li: Seq[(Long, Long)] = Tables.table(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val basePairs: Seq[(Long, Long)] = li.groupBy(_._1).values.toSeq
      .flatMap { rows =>
        val ps = rows.map(_._2)
        for (a <- ps; b <- ps if a < b) yield (a, b)
      }
      .groupBy(identity)
      .filter(_._2.size >= GraphOps.TriMinSupport).keys.toSeq
    val adj = (basePairs ++ basePairs.map(_.swap))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val source = adj.keys.min
    var dist = Map(source -> 0L)
    var prev = dist
    var fixpoint = -1
    (1 to GraphOps.BfsRounds).foreach { r =>
      prev = dist
      val expand = dist.toSeq.flatMap { case (n, d) =>
        adj.getOrElse(n, Set.empty).map(_ -> (d + 1)) }
      dist = (dist.toSeq ++ expand).groupBy(_._1).view
        .mapValues(_.map(_._2).min).toMap
      if (dist == prev && fixpoint < 0) fixpoint = r
    }
    assert(got == dist)
    // converged inside the unroll, and the whole component was reached
    assert(dist == prev, "BFS had not converged within BfsRounds")
    // convergence-skip: stop at the first no-op round, not the full unroll
    assert(executed == fixpoint,
      s"executed $executed rounds, fixpoint at $fixpoint")
    assert(executed < GraphOps.BfsRounds,
      "no measured round reduction on the fixture")
    assert(got.size > 1 && got(source) == 0L)
    // every edge respects the triangle inequality |d(u) - d(v)| <= 1
    for ((u, vs) <- adj; v <- vs)
      assert(math.abs(got(u) - got(v)) <= 1, s"edge ($u,$v) violates BFS")
  }

  test("pagerank gives hub organizations more mass than leaf users") {
    val out = GraphOps.pageRank(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    spark.catalog.clearCache()
    val orgs = out.filter(_._1.startsWith("g:")).map(_._2)
    val users = out.filter(_._1.startsWith("u:")).map(_._2)
    assert(orgs.nonEmpty && users.nonEmpty)
    // organizations aggregate many members' mass: the top org must beat
    // the top user on this bipartite graph (orgs are the high-degree side)
    assert(orgs.max > users.max,
      s"top org ${orgs.max} should out-rank top user ${users.max}")
  }

  test("node similarity replays the induced-subgraph Jaccard exactly") {
    val got = GraphOps.nodeSimilarity(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    spark.catalog.clearCache()
    // independent build: co-purchase edges, hub prune, common neighbors
    val li: Seq[(Long, Long)] = Tables.table(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val basePairs: Seq[(Long, Long)] = li.groupBy(_._1).values.toSeq
      .flatMap { rows =>
        val ps = rows.map(_._2)
        for (a <- ps; b <- ps if a < b) yield (a, b)
      }
      .groupBy(identity)
      .filter(_._2.size >= GraphOps.TriMinSupport).keys.toSeq
    val adj0 = (basePairs ++ basePairs.map(_.swap))
      .groupBy(_._1).map { case (n, es) => n -> es.map(_._2).toSet }
    val keep = adj0.collect {
      case (n, nb) if nb.size <= GraphOps.SimMaxDeg => n
    }.toSet
    val adj = adj0.collect { case (n, nb) if keep(n) =>
      n -> nb.filter(keep)
    }.filter(_._2.nonEmpty)
    val pairs = for {
      (a, na) <- adj.toSeq; (b, nb) <- adj.toSeq if a < b
      inter = (na & nb).size.toLong if inter > 0
    } yield (a, b, inter, na.size.toLong, nb.size.toLong,
      inter * 1000 / (na.size + nb.size - inter))
    val want = pairs.sortBy(p => (-p._6, p._1, p._2)).take(GraphOps.SimTopK)
    assert(got.toSeq == want)
    // the fixture exercises real overlap, not just single-wedge pairs
    assert(got.exists(_._3 > 1) && got.map(_._6).distinct.length > 1)
  }

  test("label propagation replays plain-Scala synchronous rounds exactly") {
    val (labels, executed) = GraphOps.labelPropagationCounted(spark, dir)
    val got = labels.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    spark.catalog.clearCache()
    // independent graph build (same support-pruned co-purchase edges)
    val li: Seq[(Long, Long)] = Tables.table(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val weighted: Seq[((Long, Long), Long)] = li.groupBy(_._1).values.toSeq
      .flatMap { rows =>
        val ps = rows.map(_._2)
        for (a <- ps; b <- ps if a < b) yield (a, b)
      }
      .groupBy(identity).toSeq
      .collect { case (p, os) if os.size >= GraphOps.TriMinSupport =>
        (p, os.size.toLong) }
    val nbrs = (weighted ++ weighted.map { case ((a, b), w) => ((b, a), w) })
      .groupBy(_._1._1)
      .map { case (v, es) => v -> es.map { case ((_, u), w) => (u, w) } }
    var lab: Map[Long, Long] = nbrs.keys.map(v => v -> v).toMap
    var fixpoint = -1
    (1 to GraphOps.LpaRounds).foreach { r =>
      val next = nbrs.map { case (v, ns) =>
        // synchronous: all votes read the PREVIOUS round's labels;
        // support-weighted, weight-1 self-vote; argmax by
        // (weight DESC, label ASC)
        val votes = (ns.map { case (u, w) => (lab(u), w) } :+ (lab(v), 1L))
          .groupBy(_._1).map { case (l, vs) => (l, vs.map(_._2).sum) }
        v -> votes.toSeq.minBy { case (l, c) => (-c, l) }._1
      }
      if (next == lab && fixpoint < 0) fixpoint = r
      lab = next
    }
    // convergence-skip: the engine executes exactly up to the first
    // no-change round (or the full unroll if labels were still moving)
    val expectRounds = if (fixpoint > 0) fixpoint else GraphOps.LpaRounds
    assert(executed == expectRounds,
      s"executed $executed rounds, expected $expectRounds")
    val sizes = lab.values.groupBy(identity).map { case (l, vs) => l -> vs.size.toLong }
    val want = lab.toSeq.map { case (v, l) => (v, l, sizes(l)) }
      .sortBy(_._1)
    assert(got.toSeq == want)
    // communities are non-trivial: labels genuinely merged and more than
    // one community survived
    assert(got.exists(_._3 > 1) && got.map(_._2).distinct.length > 1)
  }
}
