package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.llm.{TextAnalysis, Training}

/** Plain-Scala replays of the in-engine training tier: the distilled
  * label must equal the hand-written gate's verdict row-for-row, the
  * batch-perceptron weight trajectory must match an independent
  * implementation exactly (integer arithmetic — no tolerance), and the
  * PR sweep must reproduce a naive threshold loop. The DuckDB oracle
  * pins cross-engine parity; these pin the SEMANTICS.
  */
class TrainingSpec extends AnyFunSuite with SharedSpark {

  private val dir = "/root/testdata/sf0.001"

  // (doc_id, x0..x4, y) collected once
  private lazy val rows: Seq[(Long, Vector[Long], Long)] =
    Training.trainingRows(spark, dir).collect().toSeq.map { r =>
      (r.getLong(0), Vector(r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)), r.getLong(6))
    }

  test("distilled label equals the quality gate verdict row-for-row") {
    val verdicts = TextAnalysis.qualityFilter(spark, dir)
      .select("doc_id", "keep").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(rows.nonEmpty && verdicts.nonEmpty)
    rows.foreach { case (id, _, y) =>
      assert((y > 0) == verdicts(id),
        s"doc $id: distilled ${y > 0}, gate ${verdicts(id)}")
    }
    // both classes present, else the trainer and the sweep are vacuous
    assert(rows.exists(_._3 > 0) && rows.exists(_._3 < 0))
  }

  test("perceptron trajectory replays the batch update exactly") {
    val got = Training.perceptronTrain(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1),
        Vector(r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6))))
    assert(got.length == Training.Epochs)
    var w = Vector.fill(5)(0L)
    (1 to Training.Epochs).foreach { e =>
      val miss = rows.filter { case (_, x, y) =>
        y * x.zip(w).map { case (xi, wi) => xi * wi }.sum <= 0 }
      val next = w.indices.map(j =>
        w(j) + miss.map { case (_, x, y) => y * x(j) }.sum).toVector
      val (ge, gm, gw) = got(e - 1)
      assert(ge == e && gm == miss.length.toLong && gw == next,
        s"epoch $e: got ($gm, $gw), want (${miss.length}, $next)")
      w = next
    }
    // epoch 1 misclassifies everything (w=0 scores every doc at 0); the
    // first update must strictly improve on it
    assert(got(0)._2 == rows.length.toLong)
    assert(got(1)._2 < got(0)._2)
  }

  test("PR sweep equals the naive threshold loop, endpoints included") {
    val scored = TextAnalysis.modelQualityScore(spark, dir)
      .select("doc_id", "raw_score").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lbl = rows.map { case (id, _, y) => (scored(id), if (y > 0) 1L else 0L) }
    val p = lbl.map(_._2).sum
    val got = Training.prCurve(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    val thrs = lbl.map(_._1).distinct.sorted(Ordering[Long].reverse)
    assert(got.map(_._1).toSeq == thrs)
    got.foreach { case (thr, k, tp, fp, prec, rec, f1) =>
      val in = lbl.filter(_._1 >= thr)
      val wtp = in.map(_._2).sum
      assert(k == in.length.toLong && tp == wtp && fp == k - tp, s"thr $thr")
      assert(prec == tp * Training.Ppm / k, s"thr $thr precision")
      assert(rec == tp * Training.Ppm / p, s"thr $thr recall")
      assert(f1 == tp * 2 * Training.Ppm / (k + p), s"thr $thr f1")
    }
    // sweep endpoints: the loosest threshold admits the whole corpus
    val last = got.last
    assert(last._2 == lbl.length.toLong && last._6 == Training.Ppm)
  }

  test("perceptronTrain leaves a caller's pin of its feature rows cached") {
    val pinned = Training.trainingRows(spark, dir).cache()
    try {
      assert(pinned.count() > 0)
      Training.perceptronTrain(spark, dir).collect()
      assert(pinned.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
        "the training loop unpersisted the caller's pin")
    } finally pinned.unpersist()
  }
}
