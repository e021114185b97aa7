package graft

import org.scalacheck.{Gen, Prop, Properties, Test}

import graft.llm.Dedup

/** Randomized pin of the iterative connected-components operator against a
  * reference union-find: min-label propagation + pointer jumping must
  * produce exactly the component-minimum labeling on arbitrary graphs —
  * chains, stars, cliques, singletons, whatever the generator emits.
  */
object ComponentsProps extends Properties("connectedComponents") {

  // each case runs an iterative Spark job sequence; 15 random graphs keeps
  // the suite fast while covering the shapes that matter
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(15)

  private lazy val spark = SharedSpark.session

  /** Reference: union by attaching the larger root under the smaller, so
    * every set's root is its minimum id.
    */
  private def unionFind(n: Int, edges: Seq[(Int, Int)]): Map[Long, Long] = {
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      r
    }
    for ((a, b) <- edges) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    (0 until n).groupBy(find).flatMap { case (_, members) =>
      val m = members.min.toLong
      members.map(_.toLong -> m)
    }
  }

  private val genGraph: Gen[(Int, List[(Int, Int)])] = for {
    n <- Gen.choose(1, 25)
    ne <- Gen.choose(0, 40)
    raw <- Gen.listOfN(ne, Gen.zip(Gen.choose(0, n - 1), Gen.choose(0, n - 1)))
  } yield (n, raw.collect { case (a, b) if a != b => (math.min(a, b), math.max(a, b)) })

  property("labels equal the union-find component minimum on random graphs") =
    Prop.forAll(genGraph) { case (n, edges) =>
      import spark.implicits._
      val nodes = (0 until n).map(_.toLong).toDF("doc_id")
      val pairs = edges.map { case (a, b) => (a.toLong, b.toLong) }
        .toDF("a_id", "b_id")
      val got = Dedup.connectedComponents(nodes, pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = unionFind(n, edges)
      val ok = got == want
      if (!ok) println(s"n=$n edges=$edges\n got=$got\nwant=$want")
      ok
    }
}
