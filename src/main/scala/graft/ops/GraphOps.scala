package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Reuse, SyncPipeline}
import graft.Tables.{table => t}

/** Graph analytics over the membership graph ([[SyncPipeline.memberEdges]]:
  * the (owner, organization) editor grants the reference emits per imported
  * dataset, odgovlt.py:381). Connected components live in
  * [[graft.llm.Dedup.components]]; this adds the centrality side.
  */
object GraphOps {

  /** PageRank mass scale: ranks are integers in units of 1e-12 of the total
    * probability mass. Integer fixed-point is the determinism device: every
    * per-edge share is a BIGINT `div` (truncation — identical in any
    * engine, unlike a double division whose sum order would matter), so
    * per-node inflow sums are order-insensitive integer adds and the whole
    * fixpoint is hash-exact cross-engine.
    */
  val PrScale = 1000000000000L

  /** Fixed iteration count — rank-1 stochastic mixing on a graph this
    * connected is inside integer truncation noise well before 5 rounds.
    */
  val PrIters = 5

  /** Damping factor 0.85 as the integer pair (85, 100). */
  val PrDampNum = 85L
  val PrDampDen = 100L

  /** Fixed-point PageRank over the symmetric membership graph: nodes are
    * `u:<owner>` / `g:<organization>`, each distinct membership contributes
    * an edge in both directions (so every node has out-degree >= 1 — no
    * dangling-mass term). Per iteration each node ships
    * `(85 * (pr div deg)) div 100` along every out-edge and restarts with
    * `(15 * (Scale div n)) div 100`; all arithmetic is BIGINT `div`, so
    * the oracle (the same recurrence unrolled as chained CTEs) matches
    * hash-exact.
    *
    * Scale shape: the edge+degree table builds once and caches; each
    * iteration is one equi-join (ranks onto edges, shuffled on the node
    * key) plus one integer-sum aggregation — the same
    * O(iters) × (join + agg) loop shape as the connected-components
    * fixpoint, with map-side partial sums doing the heavy combining. The
    * rank frame stays O(nodes); at a depth where lineage growth bites,
    * a localCheckpoint per few rounds truncates it (5 unrolled rounds do
    * not need one).
    */
  /** Co-purchase support threshold: a part pair must co-occur in at least
    * this many orders to become an edge (the standard market-basket prune —
    * it is also the scale device, killing the long tail of one-off pairs
    * before the triangle join).
    */
  val TriMinSupport = 2

  /** Rank stride for the degree-ordered orientation: rank = deg·stride+id
    * is a total order on nodes (stride exceeds any part id, so degree
    * dominates and id tie-breaks). */
  val TriRankStride = 100000000L

  /** Triangle enumeration over the co-purchase graph: nodes are parts,
    * an undirected edge links parts co-ordered in ≥ [[TriMinSupport]]
    * orders, output is every triangle as its sorted (pa < pb < pc) key
    * triple.
    *
    * Scale shape, stage by stage:
    *  - pair generation is a self-equi-join on the order key — per-order
    *    fanout is bounded by the basket size (C(items,2)), co-partitioned
    *    on one key, never all-pairs across orders;
    *  - the support filter prunes the quadratic tail before anything
    *    expensive;
    *  - the triangle join uses DEGREE-ORDERED ORIENTATION (each edge
    *    directed from its lower (deg, id) endpoint): every wedge is
    *    enumerated exactly once from its lowest-rank apex, and per-node
    *    oriented out-degree is bounded by O(√|E|) on any graph — the
    *    classic device that keeps wedge counts near-linear where naive
    *    lexicographic orientation degenerates on hubs.
    * The oracle enumerates the same triangle set by plain canonical
    * (a<b<c) joins — orientation changes the discovery order, never the
    * set, and the sorted output triple is the proof.
    */
  /** The support-pruned co-purchase edge set (pa < pb, distinct) — the ONE
    * graph both [[triangles]] and [[kCore]] analyze, factored so the two
    * operators can never disagree on what an edge is.
    */
  private def coPurchasePairs(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    li.as("a")
      .join(li.as("b"), col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .groupBy(col("a.pk").as("pa"), col("b.pk").as("pb"))
      .agg(count(lit(1)).as("supp"))
      .filter(col("supp") >= TriMinSupport)
  }

  private def coPurchaseEdges(s: SparkSession, dir: String): DataFrame =
    coPurchasePairs(s, dir).select(col("pa"), col("pb"))

  /** Both directions of an (a, b [, carry...]) edge list in ONE pass: a
    * two-struct explode instead of the self-union every operator here used
    * to spell. The union form duplicates the entire upstream subtree —
    * column pruning pushes the two reversed projections into the branches,
    * so not even the exchange is reused, and the lineitem self-join behind
    * [[coPurchasePairs]] executed TWICE per graph query (measured at sf1:
    * both 6M-row shuffle + 12M-row pair-join stages appear twice in every
    * run). The explode is row-local on the aggregated pair list; consumers
    * are aggregations/joins, so the interleaved row order is immaterial.
    */
  private def bothDirections(df: DataFrame, a: String, b: String,
      carry: Seq[String] = Nil): DataFrame = {
    val fwd = struct(col(a).as("src") +: col(b).as("dst") +: carry.map(col): _*)
    val rev = struct(col(b).as("src") +: col(a).as("dst") +: carry.map(col): _*)
    df.select(explode(array(fwd, rev)).as("e")).select(col("e.*"))
  }

  /** Pinned keyed repartition for a frame an iterative loop will read
    * every round: the symmetric edge lists are BYTE-small after the
    * support prune, so AQE coalesces the aggregation feeding them to 1-2
    * partitions — and a checkpoint/cache taken there serializes every
    * later round's per-row work onto those few cores. The explicit
    * partition count pins the session's shuffle parallelism (the
    * deployment knob — scale-adaptive, not a local constant) against the
    * coalesce, and keying by the loop's join column lets rounds reuse the
    * partitioning instead of re-exchanging the edges every round.
    */
  private def loopPartitioned(df: DataFrame, key: String): DataFrame =
    df.repartition(
      df.sparkSession.sessionState.conf.numShufflePartitions, col(key))

  def triangles(s: SparkSession, dir: String): DataFrame = {
    val edges = coPurchaseEdges(s, dir)
    // endpoint explode, not a self-union of projections (the
    // bothDirections rationale: one evaluation of the pair subtree)
    val deg = edges.select(explode(array(col("pa"), col("pb"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
    val rk = deg.select(col("v"), (col("deg") * TriRankStride + col("v")).as("rk"))
    // three consumers (both wedge sides + the closing semi-join): cache the
    // O(edges) oriented list so the pair aggregation + degree join run once
    val oriented = Reuse(edges
      .join(rk.select(col("v").as("pa"), col("rk").as("rka")), "pa")
      .join(rk.select(col("v").as("pb"), col("rk").as("rkb")), "pb")
      .select(
        when(col("rka") < col("rkb"), col("pa")).otherwise(col("pb")).as("src"),
        when(col("rka") < col("rkb"), col("pb")).otherwise(col("pa")).as("dst"),
        greatest(col("rka"), col("rkb")).as("dstk")))
    val wedges = oriented.as("e1")
      .join(oriented.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.dstk") < col("e2.dstk"))
      .select(col("e1.src").as("u"), col("e1.dst").as("v"), col("e2.dst").as("w"))
    val tri = wedges.join(oriented.as("e3"),
      col("v") === col("e3.src") && col("w") === col("e3.dst"), "left_semi")
    tri.select(array_sort(array(col("u"), col("v"), col("w"))).as("k"))
      .select(element_at(col("k"), 1).as("pa"),
        element_at(col("k"), 2).as("pb"),
        element_at(col("k"), 3).as("pc"))
      .orderBy("pa", "pb", "pc")
  }

  /** Synchronous label-propagation rounds (fixed unroll — the
    * KCoreRounds/PrIters device; LPA can oscillate on bipartite-ish
    * structure, and a fixed synchronous round count keeps the answer
    * deterministic where "run until stable" would not terminate).
    */
  val LpaRounds = 4

  /** Community detection by WEIGHTED label propagation over the
    * co-purchase graph — the density-grouping complement of the
    * connectivity components ([[graft.llm.Dedup.components]] answers
    * "reachable?"; this answers "which basket cluster?"): every node
    * starts as its own label, and each synchronous round adopts the
    * label with the highest co-purchase-support-weighted vote among its
    * neighbors plus a weight-1 self-vote, ties to the SMALLEST label.
    * Support weighting is load-bearing for the semantics: with
    * unweighted votes, round 1 (all labels distinct) is pure min-label
    * propagation and a connected graph collapses to ONE community within
    * diameter rounds (measured on the sf0.001 fixture — 200 nodes, one
    * label); the edge weights differentiate the counts from the first
    * round, so dense baskets hold together and sparse bridges do not
    * merge. Every vote is an exact integer sum — the whole trajectory
    * is engine-exact.
    *
    * Scale shape: per round ONE equi-join (labels onto the cached
    * symmetric weighted edges, shuffled on the node key) + one
    * (node, label) weight-sum with map-side partials + one
    * arg-min-by-struct collapse (an aggregate, not a window — no
    * per-node sort). Per-round localCheckpoint truncates the lineage:
    * each round reads the label frame twice (neighbor join + self-vote
    * union), so the uncheckpointed chain would re-derive earlier rounds
    * ~2^r times (the MMR lesson).
    */
  def labelPropagation(s: SparkSession, dir: String): DataFrame =
    labelPropagationCounted(s, dir)._1

  /** [[labelPropagation]] with the vote rounds it executed
    * (convergence-skip observability).
    */
  private[graft] def labelPropagationCounted(s: SparkSession, dir: String)
      : (DataFrame, Int) = Reuse.released {
    val pairs = coPurchasePairs(s, dir)
      .select(col("pa"), col("pb"), col("supp").as("w"))
    val sym = Reuse(bothDirections(pairs, "pa", "pb", Seq("w")))
    var lab = sym.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
      .localCheckpoint(true)
    // convergence probe: synchronous LPA is a pure function of the label
    // frame, so a round that changes NO label makes every later round the
    // identity — skip the rest of the unroll with byte-identical output
    // (the oracle still spells all LpaRounds; they are no-ops past the
    // fixpoint). The probe is one equi-join of the two O(nodes)
    // checkpointed frames with a limit-1 cut — trivial beside the round's
    // own edge join.
    var done = false
    var executed = 0
    (1 to LpaRounds).foreach { _ =>
      if (!done) {
        val nb = sym.join(lab.withColumnRenamed("node", "dst"), "dst")
          .select(col("src").as("node"), col("label"), col("w"))
        val votes = nb.union(lab.select(col("node"), col("label"), lit(1L).as("w")))
        val counts = votes.groupBy(col("node"), col("label"))
          .agg(sum(col("w")).as("cnt"))
        val next = counts.groupBy(col("node"))
          .agg(min_by(col("label"),
            struct((-col("cnt")).as("nc"), col("label").as("lb"))).as("label"))
          .localCheckpoint(true)
        executed += 1
        val changed = next.join(
            lab.withColumnRenamed("label", "prev"), Seq("node"))
          .filter(col("label") =!= col("prev"))
        if (changed.isEmpty) done = true
        lab = next
      }
    }
    val size = lab.groupBy(col("label")).agg(count(lit(1)).as("csize"))
    (lab.join(size, "label")
      .select(col("node").as("part"), col("label").as("community"),
        col("csize"))
      .orderBy("part"), executed)
  }

  def pageRank(s: SparkSession, dir: String, iters: Int = PrIters): DataFrame = {
    val m = SyncPipeline.memberEdgesUnsorted(s, dir)
      .select(concat(lit("u:"), col("owner_name")).as("u"),
        concat(lit("g:"), col("org_name")).as("g"))
    // distinct (owner, org) pairs in disjoint name spaces: the two
    // directions can never collide, so the symmetric form stays dup-free
    val edges = bothDirections(m, "u", "g")
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    val edgesDeg = Reuse(edges.join(deg, "src"))
    val nTotal = broadcast(deg.agg(count(lit(1)).as("n")))
    val nodes = Reuse(deg.select(col("src").as("node")).crossJoin(nTotal))

    var pr = nodes.select(col("node"), expr(s"$PrScale div n").as("pr"))
    for (i <- 1 to iters) {
      val contrib = edgesDeg.join(pr, edgesDeg("src") === pr("node"))
        .select(col("dst"),
          expr(s"($PrDampNum * (pr div deg)) div $PrDampDen").as("c"))
        .groupBy(col("dst"))
        .agg(sum(col("c")).as("inflow"))
      pr = nodes.join(contrib, nodes("node") === contrib("dst"), "left_outer")
        .select(col("node"),
          (expr(s"($PrDampDen - $PrDampNum) * ($PrScale div n) div $PrDampDen")
            + coalesce(col("inflow"), lit(0L))).as("pr"))
      // at the default 5 rounds the lineage is fine; a high-iteration run
      // would grow an unbounded plan tree (and re-plan it every round), so
      // truncate it periodically — values are unchanged, only the lineage
      // resets (localCheckpoint materializes to executor storage; no HDFS
      // dependency, same guarantee an iterative cluster job would use)
      if (iters > 8 && i % 8 == 0 && i < iters)
        pr = pr.localCheckpoint(true)
    }
    pr.orderBy("node")
  }

  /** k-core threshold: the densest-subgraph slice where every surviving
    * part co-purchases with >= 3 other surviving parts.
    */
  val KCoreK = 3

  /** Fixed peel-round count. Peeling converges when a round removes no
    * node; a fixed unroll keeps the computation (and its oracle — one CTE
    * triple per round, the PrIters device) deterministic without a
    * data-dependent loop bound, and GraphOpsSpec asserts the fixture has
    * converged by this depth (round R+1 ≡ round R).
    */
  val KCoreRounds = 8

  /** k-core decomposition of the co-purchase graph by iterative peeling:
    * each round drops every node whose degree over the SURVIVING edge set
    * is < k, until (by [[KCoreRounds]]) nothing changes; output is each
    * surviving node with its in-core degree.
    *
    * Scale shape: each round is one O(edges) degree aggregation plus two
    * semi-joins of the edge set against the O(nodes) alive list — all
    * equi-joins on the node key, nothing quadratic, and the edge set only
    * shrinks. The edge frame is `localCheckpoint`ed per round: the alive
    * list derives from the edges themselves, so an uncheckpointed loop
    * would DOUBLE the logical plan every round (each round references the
    * previous twice) — the same lineage discipline as the >8-iteration
    * PageRank path, materializing a strictly shrinking frame.
    */
  def kCore(s: SparkSession, dir: String, k: Int = KCoreK,
      rounds: Int = KCoreRounds): DataFrame = kCoreCounted(s, dir, k, rounds)._1

  /** [[kCore]] with the peel rounds it executed — observability for the
    * convergence-skip (spec-pinned to beat the fixed [[KCoreRounds]]
    * unroll on the fixture).
    */
  private[graft] def kCoreCounted(s: SparkSession, dir: String,
      k: Int = KCoreK, rounds: Int = KCoreRounds): (DataFrame, Int) = {
    val base = coPurchaseEdges(s, dir)
    var e = loopPartitioned(bothDirections(base, "pa", "pb"), "src")
      .localCheckpoint(true)
    // convergence probe: peeling only ever SHRINKS the edge set, and a
    // round that drops no edge dropped no node — every later round is the
    // identity, so the remaining unroll can be skipped with byte-identical
    // output (the oracle still spells all KCoreRounds CTE triples; they
    // are no-ops past the fixpoint). The count is O(1) against the
    // already-materialized checkpoint, the components merge-probe device.
    var nEdges = e.count()
    var done = false
    var executed = 0
    for (_ <- 1 to rounds) if (!done) {
      val alive = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select(col("src").as("v"))
      e = e.join(alive.select(col("v").as("src")), Seq("src"), "left_semi")
        .join(alive.select(col("v").as("dst")), Seq("dst"), "left_semi")
        .select(col("src"), col("dst"))
        .localCheckpoint(true)
      executed += 1
      val n = e.count()
      if (n == nEdges) done = true
      nEdges = n
    }
    (e.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
      .orderBy("node"), executed)
  }

  /** Fixed BFS round count: the support-pruned co-purchase graph is dense
    * (average degree in the tens), so eccentricity from the source is far
    * below this; GraphOpsSpec asserts convergence inside the unroll (the
    * KCoreRounds discipline).
    */
  val BfsRounds = 6

  /** BFS distances over the co-purchase graph from a deterministic source
    * (the smallest node id — a scalar the plan derives, no magic literal):
    * per round the distance frame unions its one-hop expansion and
    * collapses by `min(dist)` — the standard iterative frontier relaxation
    * expressed as join + aggregate, reaching exact hop counts because a
    * node's first appearance is at its true distance and `min` keeps it.
    *
    * Scale shape: the static edge table caches once; each round is ONE
    * equi-join of the O(reached) distance frame onto it plus one min
    * aggregation (map-side combined). Per-round `localCheckpoint`
    * truncates the self-referencing lineage (the round plan reads the
    * previous frame twice — union + join — so an uncheckpointed loop
    * doubles per round, the kCore discipline). Unreached nodes are absent
    * rather than ∞ — the frame stays O(reached).
    */
  def bfs(s: SparkSession, dir: String, rounds: Int = BfsRounds): DataFrame =
    bfsCounted(s, dir, rounds)._1

  /** [[bfs]] with the frontier rounds it executed (convergence-skip
    * observability, as [[kCoreCounted]]).
    */
  private[graft] def bfsCounted(s: SparkSession, dir: String,
      rounds: Int = BfsRounds): (DataFrame, Int) = Reuse.released {
    val base = coPurchaseEdges(s, dir)
    val e = Reuse(loopPartitioned(bothDirections(base, "pa", "pb"), "src"))
    var dist = e.agg(min(col("src")).as("node"))
      .select(col("node"), lit(0L).as("dist"))
      .localCheckpoint(true)
    // convergence probe: with unit edges a node's FIRST appearance is at
    // its true distance and min() keeps it, so the frame only ever grows —
    // a round that adds no node changes nothing, and every later round is
    // the identity (skip with byte-identical output; the oracle still
    // spells all rounds). O(1) count against the materialized checkpoint.
    var nReached = dist.count()
    var done = false
    var executed = 0
    for (_ <- 1 to rounds) if (!done) {
      val expand = e.join(dist, e("src") === dist("node"))
        .select(col("dst").as("node"), (col("dist") + 1L).as("dist"))
      dist = dist.union(expand)
        .groupBy(col("node")).agg(min(col("dist")).as("dist"))
        .localCheckpoint(true)
      executed += 1
      val n = dist.count()
      if (n == nReached) done = true
      nReached = n
    }
    (dist.orderBy("node"), executed)
  }

  /** Hub ceiling for [[nodeSimilarity]]: nodes above this degree leave the
    * induced subgraph entirely. The wedge enumeration is quadratic in the
    * CENTER's degree, so one hub center contributes deg² candidate pairs —
    * the df-band argument from the TF-IDF neighbor join transplanted to
    * graphs: hub-mediated similarity ("both touch the bestseller") is
    * noise, and dropping it is what bounds the fanout at [[SimMaxDeg]]²
    * per center. The prune is part of the SEMANTICS (deterministic,
    * mirrored in the oracle), not a sampling shortcut.
    */
  val SimMaxDeg = 32
  /** Result size of the similarity ranking. */
  val SimTopK = 50

  /** Common-neighbor node similarity (link prediction) over the
    * co-purchase graph: for every part pair sharing ≥1 neighbor in the
    * hub-pruned induced subgraph, the intersection size and the Jaccard
    * of their neighbor sets — `|N(a)∩N(b)| / |N(a)∪N(b)|` with the union
    * cleared by inclusion-exclusion to `da + db − inter`, the ratio
    * scaled to an integer (`·1000 div`, the bigram-lm flooring
    * convention) so the ranking is hash-exact cross-engine.
    *
    * Scale shape: candidate pairs are generated ONLY through shared
    * neighbors (a posting-style self-equi-join on the center node —
    * never all-pairs); both endpoints and the center live in the induced
    * subgraph (two semi-joins against the O(nodes) keep-list), so
    * per-center fanout is bounded by [[SimMaxDeg]]²; degrees re-derive
    * on the SAME subgraph so the Jaccard is exact on what was actually
    * joined; the global top-K plans as TakeOrderedAndProject.
    */
  def nodeSimilarity(s: SparkSession, dir: String): DataFrame = {
    val base = coPurchaseEdges(s, dir)
    val sym = bothDirections(base, "pa", "pb").toDF("node", "nbr")
    val keep = sym.groupBy(col("node")).agg(count(lit(1)).as("deg"))
      .filter(col("deg") <= SimMaxDeg).select(col("node"))
    val se = Reuse(sym
      .join(keep, Seq("node"), "left_semi")
      .join(keep.withColumnRenamed("node", "nbr"), Seq("nbr"), "left_semi"))
    val sdeg = se.groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val inter = se.as("l")
      .join(se.as("r"),
        col("l.nbr") === col("r.nbr") && col("l.node") < col("r.node"))
      .groupBy(col("l.node").as("a"), col("r.node").as("b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sdeg.select(col("node").as("a"), col("deg").as("da")), Seq("a"))
      .join(sdeg.select(col("node").as("b"), col("deg").as("db")), Seq("b"))
      .select(col("a"), col("b"), col("inter"), col("da"), col("db"),
        call_function("div", col("inter") * 1000,
          col("da") + col("db") - col("inter")).as("jac_x1000"))
      .orderBy(col("jac_x1000").desc, col("a"), col("b"))
      .limit(SimTopK)
  }
}
