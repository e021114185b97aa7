package graft

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import org.scalatest.funsuite.AnyFunSuite

import graft.llm.Similarity

/** Semantic-decontamination invariants: every verdict re-derived in pure
  * Scala from the raw parquet — own left-to-right dot fold, own norms,
  * own 9dp HALF_UP round, own (cos DESC, e_id ASC) argmax — no Spark
  * expression in the loop.
  */
class SemanticDeconSpec extends AnyFunSuite with SharedSpark {

  private val dir = "/root/testdata/sf0.001"

  private def round9(x: Double): Double =
    new JBigDecimal(java.lang.Double.toString(x))
      .setScale(9, RoundingMode.HALF_UP).doubleValue()

  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  private lazy val vecs: Map[Long, Array[Double]] =
    spark.read.parquet(s"$dir/embeddings.parquet")
      .selectExpr("vec_id", "cast(embedding as array<double>) as v")
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap

  private lazy val got: Seq[(Long, Double, Long, Boolean)] =
    Similarity.semanticDecontaminate(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(2), r.getLong(3),
        r.getBoolean(4))).toSeq

  test("every verdict matches the pure-Scala max-cosine re-derivation") {
    val evals = vecs.filter(_._1 < Similarity.NQueries).toSeq.sortBy(_._1)
    assert(evals.nonEmpty)
    val expected = vecs.filter(_._1 >= Similarity.NQueries)
      .map { case (id, v) =>
        val nv = math.sqrt(dot(v, v))
        val best = evals.map { case (eId, ev) =>
          (round9(dot(v, ev) / (nv * math.sqrt(dot(ev, ev)))), eId)
        }.maxBy { case (cos, eId) => (cos, -eId) }
        id -> (best._1, best._2, best._1 < Similarity.SemDedupThreshold)
      }
    assert(got.map(_._1).toSet == expected.keySet,
      "one verdict per non-eval vector")
    got.foreach { case (id, cos, eId, keep) =>
      assert((cos, eId, keep) == expected(id), s"vec $id")
    }
    assert(got.map(_._1).toSeq == got.map(_._1).toSeq.sorted, "ordered")
  }

  test("eval vectors are never scored, and the verdict is the threshold " +
      "predicate of the reported cosine exactly") {
    assert(got.forall(_._1 >= Similarity.NQueries))
    got.foreach { case (id, cos, _, keep) =>
      assert(keep == (cos < Similarity.SemDedupThreshold), s"vec $id")
    }
  }
}
