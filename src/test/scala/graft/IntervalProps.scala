package graft

import org.scalacheck.{Gen, Prop, Properties, Test}

/** Randomized pin of the interval-join semantics against a naive reference:
  * strict lower bound, inclusive upper bound, same-user only, floor-second
  * delay — on adversarial micro-timestamp layouts (duplicates, exact
  * boundaries, sub-second gaps) the generator produces far denser than the
  * harness events table.
  */
object IntervalProps extends Properties("intervalJoin") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(15)

  private lazy val spark = SharedSpark.session

  private val WindowUs = 600L * 1000000L

  /** Naive reference: all (view, click) pairs, same user, strict-after,
    * inclusive window end.
    */
  private def naive(views: Seq[(Long, Long, Long)], clicks: Seq[(Long, Long, Long)])
      : Set[(Long, Long, Long)] =
    (for {
      (vid, vu, vts) <- views
      (cid, cu, cts) <- clicks
      if vu == cu && cts > vts && cts <= vts + WindowUs
    } yield (vid, cid, (cts - vts) / 1000000L)).toSet

  // ids unique per side; timestamps cluster densely around a small base so
  // boundary collisions actually happen (including exactly +600s)
  private val genEvents: Gen[(List[(Long, Long, Long)], List[(Long, Long, Long)])] =
    for {
      nv <- Gen.choose(0, 12)
      nc <- Gen.choose(0, 12)
      vs <- Gen.listOfN(nv, Gen.zip(Gen.choose(0L, 3L),
        Gen.oneOf(0L, 1L, 999999L, 1000000L, WindowUs, WindowUs + 1L,
          2L * WindowUs, 500000L, 599000000L)))
      cs <- Gen.listOfN(nc, Gen.zip(Gen.choose(0L, 3L),
        Gen.oneOf(0L, 1L, 999999L, 1000000L, WindowUs, WindowUs + 1L,
          2L * WindowUs, 500000L, 599000000L)))
    } yield (
      vs.zipWithIndex.map { case ((u, ts), i) => (100L + i, u, ts) },
      cs.zipWithIndex.map { case ((u, ts), i) => (500L + i, u, ts) })

  property("matches the naive all-pairs reference on boundary-dense inputs") =
    Prop.forAll(genEvents) { case (views, clicks) =>
      import spark.implicits._
      val v = views.toDF("view_id", "user_id", "v_us")
      val c = clicks.toDF("click_id", "c_user", "c_us")
      // sorted Seq, not Set: a Set compare would mask duplicate emission
      // of a matching pair (multiplicity is part of the join contract)
      val got = graft.ops.IntervalOps.intervalJoinMicros(v, c, WindowUs)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
        .toSeq.sorted
      got == naive(views, clicks).toSeq.sorted
    }
}
