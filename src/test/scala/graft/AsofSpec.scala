package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.AsofOps
import java.sql.Timestamp

/** As-of join edge semantics: inclusive equal-timestamp match, miss before
  * first right row, latest-wins across multiple right rows, key isolation.
  */
class AsofSpec extends AnyFunSuite with SharedSpark {

  private def ts(s: String) = Timestamp.valueOf(s)

  test("asofJoin matches a naive reference implementation on random data") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rights = (1 to 300).map { i =>
      (rnd.nextInt(10).toLong, ts("2024-01-01 00:00:00").getTime + rnd.nextInt(86400) * 1000L, i.toLong)
    }.groupBy(r => (r._1, r._2)).map(_._2.maxBy(_._3)).toSeq // unique (key, ts)
    val lefts = (1 to 200).map { i =>
      (1000L + i, rnd.nextInt(10).toLong,
        ts("2024-01-01 00:00:00").getTime + rnd.nextInt(86400) * 1000L)
    }
    val leftDf = lefts.map { case (id, k, t) => (id, k, new Timestamp(t)) }
      .toDF("event_id", "user_id", "ts")
    val rightDf = rights.map { case (k, t, p) => (k, new Timestamp(t), p) }
      .toDF("user_id", "ts", "payload")
    val got = AsofOps.asofJoin(leftDf, rightDf, "user_id", "ts", Seq("payload"))
      .collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    // naive: per left row, scan all right rows
    lefts.foreach { case (id, k, t) =>
      val expected = rights.filter(r => r._1 == k && r._2 <= t)
        .sortBy(r => (r._2, r._3)).lastOption.map(_._3)
      assert(got(id) == expected, s"left $id key $k")
    }
  }

  test("asofJoin: a matching right row with NULL payload yields NULL, not a stale value") {
    import spark.implicits._
    val left = Seq((1L, 1L, ts("2024-01-01 12:00:00"))).toDF("event_id", "user_id", "ts")
    val right = Seq(
      (1L, ts("2024-01-01 10:00:00"), Some(7L)),
      (1L, ts("2024-01-01 11:00:00"), None) // latest match, genuinely null
    ).toDF("user_id", "ts", "payload")
    val got = AsofOps.asofJoin(left, right, "user_id", "ts", Seq("payload")).collect()
    assert(got.length == 1)
    assert(got(0).isNullAt(3), "the ts=11:00 NULL payload must win, not the older 7")
  }

  test("asofJoin: inclusive ties, misses, latest-wins, per-key isolation") {
    import spark.implicits._
    val left = Seq(
      (100L, 1L, ts("2024-01-01 09:00:00")), // before any right row → miss
      (101L, 1L, ts("2024-01-01 10:00:00")), // equal ts → inclusive match
      (102L, 1L, ts("2024-01-01 12:00:00")), // after two → latest wins
      (103L, 2L, ts("2024-01-01 12:00:00"))  // other key → isolated miss
    ).toDF("event_id", "user_id", "ts")
    val right = Seq(
      (1L, ts("2024-01-01 10:00:00"), 7L),
      (1L, ts("2024-01-01 11:00:00"), 8L)
    ).toDF("user_id", "ts", "payload")
    val got = AsofOps.asofJoin(left, right, "user_id", "ts", Seq("payload"))
      .orderBy("event_id")
      .collect()
      .map(r => (r.getLong(0), if (r.isNullAt(3)) -1L else r.getLong(3)))
    assert(got.toList == List(
      (100L, -1L), (101L, 7L), (102L, 8L), (103L, -1L)))
  }

  test("gapFill carries the last non-null reading forward per user stream") {
    val dir = "/root/testdata/sf0.001"
    val got = AsofOps.gapFill(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        if (r.isNullAt(4)) None else Some(r.getLong(4))))
    assert(got.nonEmpty)
    // replay: per user in (ts, event_id) order, carry the last reading
    val want = got.groupBy(_._2).toSeq.flatMap { case (_, es) =>
      var carry: Option[Long] = None
      es.sortBy(e => (e._3.getTime, e._1)).toSeq.map { e =>
        carry = e._4.orElse(carry)
        e._1 -> carry
      }
    }.toMap
    got.foreach { e =>
      assert(e._5 == want(e._1), s"event ${e._1}: filled ${e._5}, want ${want(e._1)}")
      // a present reading always equals its fill (the carry restarts here)
      e._4.foreach(v => assert(e._5.contains(v)))
    }
    // sparsity is real in both directions: some filled, some leading nulls
    assert(got.exists(e => e._4.isEmpty && e._5.nonEmpty))
    assert(got.exists(e => e._5.isEmpty))
  }

  test("interpFill reconstructs the line between surrounding observations") {
    val dir = "/root/testdata/sf0.001"
    val got = AsofOps.interpFill(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        if (r.isNullAt(4)) None else Some(r.getLong(4)),
        r.getBoolean(5)))
    assert(got.nonEmpty)
    // replay: per user in (ts, event_id) order, track the surrounding
    // observations and interpolate with Math.floorDiv (floor semantics,
    // the same contract the distributed form spells out)
    val want = got.groupBy(_._2).toSeq.flatMap { case (_, es) =>
      val sorted = es.sortBy(e => (e._3, e._1)).toSeq
      def sweep(rows: Seq[(Long, Long, Long, Option[Long], Option[Long], Boolean)]) = {
        var cur: Option[(Long, Long)] = None
        rows.map { e => if (e._4.nonEmpty) cur = Some((e._4.get, e._3)); cur }
      }
      val prev = sweep(sorted)
      val next = sweep(sorted.reverse).reverse
      sorted.zipWithIndex.map { case (e, i) =>
        val v = (e._4, prev(i), next(i)) match {
          case (Some(r), _, _) => Some(r)
          case (_, None, nx) => nx.map(_._1)
          case (_, pv, None) => pv.map(_._1)
          case (_, Some((pc, pt)), Some((nc, nt))) =>
            if (nt == pt) Some(pc)
            else Some(pc + Math.floorDiv((nc - pc) * (e._3 - pt), nt - pt))
        }
        e._1 -> v
      }
    }.toMap
    got.foreach { e =>
      assert(e._5 == want(e._1), s"event ${e._1}: got ${e._5}, want ${want(e._1)}")
      assert(e._6 == e._4.isEmpty)
    }
    // every edge mode occurred: true two-sided interpolation strictly
    // between its bounds, a leading backfill, and a trailing carry
    val byUser = got.groupBy(_._2)
    val ord = Ordering.Tuple2[Long, Long]
    def obsBefore(e: (Long, Long, Long, Option[Long], Option[Long], Boolean)) =
      byUser(e._2).exists(o => o._4.nonEmpty && ord.lt((o._3, o._1), (e._3, e._1)))
    def obsAfter(e: (Long, Long, Long, Option[Long], Option[Long], Boolean)) =
      byUser(e._2).exists(o => o._4.nonEmpty && ord.gt((o._3, o._1), (e._3, e._1)))
    assert(got.exists(e => e._4.isEmpty && obsBefore(e) && obsAfter(e)))
    assert(got.exists(e => e._4.isEmpty && !obsBefore(e) && obsAfter(e)))
    assert(got.exists(e => e._4.isEmpty && obsBefore(e) && !obsAfter(e)))
  }

  test("moving average replays as a plain-Scala sliding frame") {
    val dir = "/root/testdata/sf0.001"
    val got = graft.ops.CoreOps.w7MovingAvg(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6)))
    assert(got.nonEmpty)
    val byEvent = got.groupBy(_._2).toSeq.flatMap { case (_, es) =>
      val sorted = es.sortBy(e => (e._3.getTime, e._1)).toSeq
      sorted.zipWithIndex.map { case (e, i) =>
        val frame = sorted.slice(math.max(0, i - 4), i + 1)
        e._1 -> (frame.length.toLong, frame.map(_._4).sum)
      }
    }.toMap
    got.foreach { e =>
      val (n, s) = byEvent(e._1)
      assert(e._5 == n && e._6 == s, s"event ${e._1}: frame (${e._5},${e._6}) want ($n,$s)")
      assert(e._7 == BigDecimal(s.toDouble / n)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    // frames genuinely slide: early rows have short frames, later full ones
    assert(got.exists(_._5 < 5L) && got.exists(_._5 == 5L))
  }

  test("asof tolerance: plain asof filtered by freshness, both verdicts occur") {
    val dir = "/root/testdata/sf0.001"
    val plain = AsofOps.asofClick(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getTimestamp(2), r.getLong(3),
        r.getTimestamp(4))).toMap
    val got = AsofOps.asofClickTol(spark, dir).collect()
      .map(r => (r.getLong(0), r.getTimestamp(2), r.getLong(3),
        r.getTimestamp(4), r.getBoolean(5)))
    assert(got.nonEmpty && got.length == plain.size)
    val epoch = ts("1970-01-01 00:00:00")
    def us(t: Timestamp): Long = t.getTime / 1000 * 1000000L + t.getNanos / 1000
    got.foreach { case (id, t, clickId, clickTs, matched) =>
      val (pt, pId, pTs) = plain(id)
      assert(t == pt)
      val freshEnough = pId != -1L && us(t) - us(pTs) <= AsofOps.AsofTolMicros
      assert(matched == freshEnough, s"event $id verdict")
      if (matched) assert(clickId == pId && clickTs == pTs,
        s"event $id must keep the plain asof match")
      else assert(clickId == -1L && clickTs == epoch,
        s"event $id must degrade to the no-match defaults")
    }
    // the tolerance genuinely bites on the fixture: some plain matches
    // survive it and some are rejected as stale
    assert(got.exists(_._5) &&
      got.exists(g => !g._5 && plain(g._1)._2 != -1L))
  }

  test("range frame replays the trailing-hour two-pointer walk exactly") {
    val dir = "/root/testdata/sf0.001"
    val got = graft.ops.CoreOps.w15RangeFrame(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(got.nonEmpty)
    val byType = got.groupBy(_._2)
    byType.foreach { case (_, es) =>
      es.foreach { case (id, _, us, _, n, sum) =>
        val frame = es.filter(e => e._3 >= us - graft.ops.CoreOps.RangeFrameMicros
          && e._3 <= us)
        assert(n == frame.length.toLong && sum == frame.map(_._4).sum,
          s"event $id frame")
      }
    }
    // the frame genuinely varies with event density
    assert(got.map(_._5).distinct.length > 1)
  }
}
