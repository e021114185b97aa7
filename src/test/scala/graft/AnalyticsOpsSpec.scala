package graft

import java.time.{Instant, LocalDate, ZoneOffset}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.ops.{AnalyticsOps, GraphOps, IncrementalOps, MatchOps}

/** Brute-force replays of the analytics batch (funnel, cohort, outliers,
  * weighted sample, triangles, fuzzy match, join IVM): each operator's
  * distributed plan re-derived as plain Scala over the collected fixture,
  * compared exactly. The DuckDB oracle pins cross-engine parity; these pin
  * the SEMANTICS against an independent implementation.
  */
class AnalyticsOpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val dir = "/root/testdata/sf0.001"
  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("analytics-ops-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def micros(t: java.sql.Timestamp): Long =
    t.getTime / 1000 * 1000000L + t.getNanos / 1000

  private lazy val events: Seq[(Long, String, Long)] =
    Tables.table(spark, dir, "events")
      .select("user_id", "event_type", "ts").collect().toSeq
      .map(r => (r.getLong(0), r.getString(1), micros(r.getTimestamp(2))))

  test("funnel replays the chained-min staging exactly") {
    val got = AnalyticsOps.funnelStages(spark, dir).collect()
      .map(r => (r.getLong(0),
        (Option(r.get(1)), Option(r.get(2)), Option(r.get(3)), r.getInt(4))))
      .toMap
    val want = events.groupBy(_._1).map { case (u, es) =>
      def minAfter(tpe: String, after: Option[Long]): Option[Long] = {
        val c = es.collect { case (_, t, us)
          if t == tpe && after.forall(us > _) => us }
        after.flatMap(_ => if (c.isEmpty) None else Some(c.min))
      }
      val t1 = {
        val c = es.collect { case (_, "signup", us) => us }
        if (c.isEmpty) None else Some(c.min)
      }
      val t2 = minAfter("view", t1)
      val t3 = minAfter("purchase", t2)
      val stage = Seq(t1, t2, t3).takeWhile(_.isDefined).length
      u -> (t1, t2, t3, stage)
    }
    assert(got.keySet == want.keySet)
    for ((u, w) <- want) assert(got(u) == w, s"user $u: got ${got(u)}, want $w")
  }

  test("cohort retention replays the integer week bucketing exactly") {
    val got = AnalyticsOps.cohortRetention(spark, dir).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    val origin = LocalDate.parse(AnalyticsOps.CohortOrigin)
    def wk(us: Long): Int =
      (java.time.temporal.ChronoUnit.DAYS.between(origin,
        Instant.ofEpochSecond(us / 1000000L).atZone(ZoneOffset.UTC)
          .toLocalDate) / 7).toInt
    val weeks = events.map { case (u, _, us) => (u, wk(us)) }
    val cohort = weeks.groupBy(_._1).map { case (u, ws) => u -> ws.map(_._2).min }
    val want = weeks.distinct
      .groupBy { case (u, w) => (cohort(u), w - cohort(u)) }
      .map { case (k, us) => k -> us.map(_._1).distinct.length.toLong }
    assert(got == want)
  }

  test("length outliers replay the integer 1.5-sigma inequality exactly") {
    val docs = Tables.table(spark, dir, "documents")
      .select("doc_id", "lang", "n_chars").collect().toSeq
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val got = AnalyticsOps.lengthOutliers(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    val stats = docs.groupBy(_._2).map { case (l, ds) =>
      val xs = ds.map(_._3).map(BigInt(_))
      l -> (BigInt(xs.length), xs.sum, xs.map(x => x * x).sum)
    }
    for ((id, lang, x) <- docs) {
      val (n, sx, sq) = stats(lang)
      val dev = n * x - sx
      val want = 4 * dev * dev > 9 * (n * sq - sx * sx)
      assert(got(id) == want, s"doc $id ($lang, $x chars)")
    }
  }

  test("weighted sample is exactly the K smallest hash/weight priorities") {
    val docs = Tables.table(spark, dir, "documents")
      .select("doc_id", "n_chars").collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1)))
    def md5Long(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(4).map(b => f"$b%02x").mkString, 16)
    }
    val want = docs
      .map { case (id, nc) => (id, nc, md5Long(s"wrs:$id").toDouble / nc) }
      .sortBy { case (id, _, p) => (p, id) }
      .take(AnalyticsOps.SampleK)
    val got = AnalyticsOps.weightedSample(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == want)
  }

  test("degree-ordered triangle enumeration equals the naive canonical join") {
    val li = Tables.table(spark, dir, "lineitem")
      .select("l_orderkey", "l_partkey").collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1)))
    val pairs = li.groupBy(_._1).toSeq.flatMap { case (_, items) =>
      val ps = items.map(_._2)
      for (a <- ps; b <- ps if a < b) yield (a, b)
    }
    // NB: .collect { case (e, _) => e } on a Map would rebuild a MAP from
    // the yielded tuples (later pb overwrites per pa) — filter + keySet
    // keeps the full edge set
    val edges = pairs.groupBy(identity)
      .filter(_._2.length >= GraphOps.TriMinSupport).keySet
    val adj = edges.groupBy(_._1).map { case (a, es) => a -> es.map(_._2) }
    val want = (for {
      (a, b) <- edges
      c <- adj.getOrElse(b, Set.empty)
      if edges.contains((a, c))
    } yield (a, b, c)).toSeq.sorted
    val got = GraphOps.triangles(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == want, s"got ${got.length} triangles, want ${want.length}")
  }

  test("fuzzy match replays blocking + Levenshtein exactly") {
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val names = Tables.table(spark, dir, "part")
      .select("p_name").distinct().collect().map(_.getString(0)).toSeq
    val want = (for {
      a <- names; b <- names
      if a < b && a.split(" ").head == b.split(" ").head
      d = lev(a, b) if d <= MatchOps.MaxEditDistance
    } yield (a.split(" ").head, a, b, d)).sorted
    val got = MatchOps.fuzzyNameMatch(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getInt(3)))
      .toSeq.sorted
    assert(got == want)
  }

  test("entity resolution: BFS closure over fuzzy pairs replays exactly") {
    val names = Tables.table(spark, dir, "part")
      .groupBy(col("p_name")).agg(min(col("p_partkey")).as("nid"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val pairs = MatchOps.fuzzyNameMatch(spark, dir).collect()
      .map(r => (r.getString(1), r.getString(2)))
    // independent closure: adjacency + BFS, entity label = min member id
    val adj = scala.collection.mutable.Map.empty[Long, List[Long]]
      .withDefaultValue(Nil)
    pairs.foreach { case (a, b) =>
      val (x, y) = (names(a), names(b))
      adj(x) = y :: adj(x); adj(y) = x :: adj(y)
    }
    val label = scala.collection.mutable.Map.empty[Long, Long]
    for (start <- names.values.toSeq.sorted if !label.contains(start)) {
      val comp = scala.collection.mutable.Set(start)
      var frontier = List(start)
      while (frontier.nonEmpty) {
        frontier = frontier.flatMap(adj).filterNot(comp)
        comp ++= frontier
      }
      comp.foreach(c => label(c) = comp.min)
    }
    val byId = names.map(_.swap)
    val got = MatchOps.entityResolve(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3),
        r.getBoolean(4)))
    assert(got.length == names.size, "every distinct name gets a row")
    got.foreach { case (n, nid, eid, cn, isc) =>
      assert(names(n) == nid, s"$n: surrogate id")
      assert(label(nid) == eid, s"$n: entity label")
      assert(cn == byId(eid), s"$n: canonical spelling")
      assert(isc == (nid == eid), s"$n: canonical flag")
    }
    // non-vacuous: a multi-name entity exists, so resolution merged
    // genuinely distinct spellings
    assert(got.groupBy(_._3).exists(_._2.length > 1))
    spark.catalog.clearCache()
  }

  test("salted block key bounds a hot block's candidates, losslessly") {
    import spark.implicits._
    // a worst-case hot block: every name shares the first token, lengths
    // spread across ~15 buckets. Unsalted, this block pairs C(60,2)=1770;
    // the staircase keeps only equal-or-adjacent length buckets — and
    // loses nothing, because dist<=MaxEditDistance bounds the length gap
    // inside one bucket step.
    val all = (1 to 60).map(i => "the " + "x" * i)
    val got = MatchOps.candidatePairs(all.toDF("p_name")).collect()
      .map(r => (r.getString(1), r.getString(2)))
    val gotSet = got.toSet
    assert(got.length == gotSet.size, "staircase must emit each pair once")
    def bkt(s: String) = s.length / MatchOps.LenBucket
    val want = (for { a <- all; b <- all if a < b
      if math.abs(bkt(a) - bkt(b)) <= 1 } yield (a, b)).toSet
    assert(gotSet == want)
    // the scale property: far below the unsalted |block|² pair count
    val unsalted = all.size * (all.size - 1) / 2
    assert(gotSet.size * 4 < unsalted,
      s"${gotSet.size} candidates vs $unsalted unsalted")
  }

  test("join IVM delta expansion equals the flat full recompute") {
    val full = Tables.table(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      .join(Tables.table(spark, dir, "customer")
        .select(col("c_custkey"), col("c_name")),
        col("o_custkey") === col("c_custkey"))
      .select("o_orderkey", "o_custkey", "c_name", "cents")
      .collect().map(_.toSeq).toSet
    val inc = IncrementalOps.ivmJoin(spark, dir).collect().map(_.toSeq).toSet
    assert(inc == full)
  }

  test("pareto frontier equals the brute-force dominance scan") {
    val got = AnalyticsOps.paretoFront(spark, dir).collect()
      .map(r => r.getLong(0)).toSet
    val docs: Seq[(Long, Long, Int)] = Tables.table(spark, dir, "documents")
      .select(col("doc_id"), col("n_chars"),
        size(array_distinct(split(col("text"), "\\s+"))).as("n_types"))
      .collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // O(n²) reference: the definition itself, no window trick
    def dominated(a: (Long, Long, Int)) = docs.exists { b =>
      b._3 >= a._3 && b._2 <= a._2 && (b._3 > a._3 || b._2 < a._2)
    }
    val want = docs.filterNot(dominated).map(_._1).toSet
    assert(got == want,
      s"extra=${(got -- want).take(5)} missing=${(want -- got).take(5)}")
    // non-vacuous: the frontier is a strict subset (some doc is dominated)
    assert(got.nonEmpty && got.size < docs.size)
  }

  test("OHLC bars replay the total-order first/last and bound the range") {
    val got = AnalyticsOps.ohlcResample(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6), r.getLong(7))).toMap
    val ev: Seq[(String, Long, Long, Long)] = Tables.table(spark, dir, "events")
      .select(col("event_type"), col("ts"), col("event_id"),
        round(col("value") * 100).cast("long").as("cents"))
      .collect().toSeq
      .map(r => (r.getString(0), micros(r.getTimestamp(1)), r.getLong(2),
        r.getLong(3)))
    val want = ev.groupBy(e => (e._1, e._2 / AnalyticsOps.OhlcBucketUs))
      .map { case (k, es) =>
        val sorted = es.sortBy(e => (e._2, e._3))
        k -> (sorted.head._4, es.map(_._4).max, es.map(_._4).min,
          sorted.last._4, es.size.toLong, es.map(_._4).sum)
      }
    assert(got == want)
    // every bar is internally consistent: low <= open/close <= high
    got.values.foreach { case (o, h, l, c, n, _) =>
      assert(l <= o && o <= h && l <= c && c <= h && n > 0)
    }
  }

  test("winsorize clips at the exact per-group rank bounds") {
    val got = AnalyticsOps.winsorize(spark, dir).collect()
      .map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getBoolean(6))).toMap
    val orders: Seq[(Long, String, Long)] = Tables.table(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"),
        round(col("o_totalprice") * 100).cast("long")).collect().toSeq
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val byPrio = orders.groupBy(_._2)
    for ((prio, os) <- byPrio) {
      val sorted = os.sortBy(o => (o._3, o._1)).map(_._3)
      val n = sorted.size
      def bound(p: Int) = sorted((p * n + 99) / 100 - 1) // value at ceil rank
      val (lo, hi) = (bound(AnalyticsOps.WinsorLoPct),
        bound(AnalyticsOps.WinsorHiPct))
      for ((k, _, c) <- os) {
        val want = (prio, c, lo, hi, math.min(math.max(c, lo), hi),
          c < lo || c > hi)
        assert(got(k) == want, s"order $k: got ${got(k)}, want $want")
      }
    }
    // non-vacuous: clipping happened on both sides somewhere
    assert(got.values.exists(v => v._6 && v._2 < v._3))
    assert(got.values.exists(v => v._6 && v._2 > v._4))
    // and clipped values always land inside the band
    got.values.foreach { case (_, _, lo, hi, cl, _) =>
      assert(cl >= lo && cl <= hi)
    }
  }

  test("rank suite: ranks agree with sort positions under the unique key") {
    val rows = AnalyticsOps.w8RankSuite(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getInt(3),
        r.getInt(4), r.getDouble(5), r.getDouble(6), r.getInt(7)))
    for ((_, grp) <- rows.groupBy(_._2)) {
      val sorted = grp.sortBy { case (k, _, c, _, _, _, _, _) => (-c, k) }
      val n = sorted.length
      sorted.zipWithIndex.foreach { case ((k, _, _, rk, drk, pct, cume, tile), i) =>
        assert(rk == i + 1 && drk == i + 1, s"key $k")
        assert(pct == (if (n == 1) 0.0 else i.toDouble / (n - 1)))
        assert(cume == (i + 1).toDouble / n)
        // SQL ntile: first (n mod 4) tiles get ceil(n/4) rows
        val big = n % 4; val base = n / 4
        val wantTile =
          if (i < big * (base + 1)) i / (base + 1) + 1
          else (i - big * (base + 1)) / base + big + 1
        assert(tile == wantTile, s"key $k: tile $tile, want $wantTile")
      }
    }
  }

  test("cube gid bits mark aggregated columns; totals are consistent") {
    val rows = AnalyticsOps.a12Cube(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getLong(3),
        r.getLong(4)))
    val grand = rows.filter(_._3 == 3)
    assert(grand.length == 1 && grand.head._1 == "(all)" && grand.head._2 == "(all)")
    val detail = rows.filter(_._3 == 0)
    assert(detail.map(_._4).sum == grand.head._4)
    assert(detail.map(_._5).sum == grand.head._5)
    for ((s, p, gid, _, _) <- rows) {
      assert(((gid & 2) != 0) == (s == "(all)"), s"gid $gid vs status $s")
      assert(((gid & 1) != 0) == (p == "(all)"), s"gid $gid vs priority $p")
    }
  }

  test("unpivot inverts the pivot back to grouped counts, zeros kept") {
    val got = graft.ops.CoreOps.a14Unpivot(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val direct = Tables.table(spark, dir, "orders")
      .groupBy(col("o_orderstatus"), col("o_orderpriority")).count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    val statuses = direct.keySet.map(_._1)
    // full matrix: every (status, priority) cell present, absent = 0
    assert(got.size == statuses.size * graft.ops.CoreOps.Priorities.size)
    got.foreach { case (k, n) => assert(n == direct.getOrElse(k, 0L), s"$k") }
    assert(direct.values.sum == got.values.sum, "totals preserved")
  }

  test("full-outer reconciliation classifies both one-sided directions") {
    val orders = Tables.table(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice") * 100).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    def half(m: Int) = orders.filter(_._1 % 2 == m).groupBy(_._2)
      .map { case (c, os) => c -> (os.map(_._3).sum, os.size.toLong) }
    val (a, b) = (half(0), half(1))
    val got = graft.ops.CoreOps.j12FullOuter(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getString(5), r.getLong(6)))
    assert(got.map(_._1).toSet == a.keySet ++ b.keySet)
    got.foreach { case (c, ca, na, cb, nb, pres, delta) =>
      val (wa, wb) = (a.get(c), b.get(c))
      assert((ca, na) == wa.getOrElse((0L, 0L)), s"cust $c left")
      assert((cb, nb) == wb.getOrElse((0L, 0L)), s"cust $c right")
      assert(pres == ((wa, wb) match {
        case (None, _) => "right_only"
        case (_, None) => "left_only"
        case _ => "both"
      }), s"cust $c presence")
      assert(delta == cb - ca)
    }
    // the fixture exercises all three classes
    assert(got.exists(_._6 == "left_only") && got.exists(_._6 == "right_only")
      && got.exists(_._6 == "both"))
  }

  test("anomaly MAD: exact rank medians replay; verdicts are |x-med| > k*mad") {
    val got = AnalyticsOps.anomalyMad(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5)))
    assert(got.nonEmpty)
    for ((_, es) <- got.groupBy(_._2)) {
      val n = es.length
      // lower median: the value at rank ceil(n/2) of the unique
      // (value, key) total order — an actual data value, no interpolation
      def rankMedian(xs: Seq[(Long, Long)]): Long =
        xs.sortBy(identity).map(_._1)((n + 1) / 2 - 1)
      val med = rankMedian(es.map(e => (e._3, e._1)).toSeq)
      val mad = rankMedian(es.map(e => (math.abs(e._3 - med), e._1)).toSeq)
      es.foreach { case (k, _, c, m, d, a) =>
        assert(m == med && d == mad, s"event $k: stats ($m,$d) want ($med,$mad)")
        assert(a == (math.abs(c - med) > AnalyticsOps.MadK * mad), s"event $k")
      }
    }
    // the skewed value distribution makes the rule non-vacuous: flagged
    // rows exist, and only in the far tail
    assert(got.exists(_._6) && got.exists(!_._6))
    // the frozen serving stats are exactly the per-type pairs
    val stats = AnalyticsOps.madStats(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(stats == got.map(e => (e._2, e._4, e._5)).toSet)
  }

  test("funnel latency: exact rank medians over the transition latencies") {
    val f = AnalyticsOps.funnelStages(spark, dir).collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))
    def stats(lats: Seq[(Long, Long)]): (Long, Long, Long) = {
      val sorted = lats.sortBy(identity)
      val n = sorted.length
      def rankVal(mulNum: Int, mulDen: Int) =
        sorted.map(_._1).apply(
          sorted.indices.find(i => (i + 1) * mulDen >= n * mulNum).get)
      (n.toLong, rankVal(1, 2), rankVal(9, 10))
    }
    val s2v = f.collect { case (u, Some(t1), Some(t2), _) => (t2 - t1, u) }
    val v2p = f.collect { case (u, _, Some(t2), Some(t3)) => (t3 - t2, u) }
    val got = AnalyticsOps.funnelLatency(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got == Map("signup_to_view" -> stats(s2v),
      "view_to_purchase" -> stats(v2p)))
    assert(s2v.nonEmpty && v2p.nonEmpty, "both transitions must convert")
  }

  test("first touch: argmin view per click replays; multi-candidate clicks occur") {
    val micros2 = (t: java.sql.Timestamp) =>
      t.getTime / 1000 * 1000000L + t.getNanos / 1000
    val ev = Tables.table(spark, dir, "events")
      .select("event_id", "user_id", "event_type", "ts").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        micros2(r.getTimestamp(3))))
    val views = ev.filter(_._3 == "view")
    val clicks = ev.filter(_._3 == "click")
    val W = 86400L * 1000000L
    val want = clicks.flatMap { case (cid, cu, _, cus) =>
      val cands = views.filter { case (_, vu, _, vus) =>
        vu == cu && cus > vus && cus <= vus + W }
      if (cands.isEmpty) None
      else {
        val first = cands.minBy(v => (v._4, v._1))
        Some((cid, cu, first._1, cus - first._4, cands.length.toLong))
      }
    }.sortBy(_._1).toSeq
    val got = graft.ops.IntervalOps
      .firstTouchAttribution(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got == want && got.nonEmpty)
    // the day window genuinely produces contested clicks — the argmin is
    // exercised, not vacuous
    assert(got.exists(_._5 > 1))
  }

  test("flagship revenue: replay with exact integer discount arithmetic") {
    val cust = Tables.table(spark, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey", "c_name").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val ord = Tables.table(spark, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select("o_orderkey", "o_custkey").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter(o => cust.contains(o._2)).toMap
    val rev = Tables.table(spark, dir, "lineitem")
      .select("l_orderkey", "l_extendedprice", "l_discount").collect()
      .map(r => (r.getLong(0),
        math.round(r.getDouble(1) * 100) *
          (100L - math.round(r.getDouble(2) * 100))))
      .filter(l => ord.contains(l._1))
      .groupBy(_._1).map { case (ok, ls) =>
        (ok, cust(ord(ok)), ls.map(_._2).sum / 100L) }
    val want = rev.toSeq.sortBy { case (ok, _, c) => (-c, ok) }
      .take(AnalyticsOps.FlagshipTopK)
    val got = AnalyticsOps.flagshipRevenue(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == want && got.nonEmpty)
  }

  test("calendar spine: gap-free, java.time-verified flags, epoch-day dow") {
    val got = graft.ops.CoreOps.calSpine(spark, dir).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getBoolean(3),
        r.getInt(4), r.getInt(5), r.getInt(6), r.getBoolean(7)))
    assert(got.nonEmpty)
    // contiguous: every consecutive pair differs by exactly one day
    got.sliding(2).foreach { case Array(a, b) =>
      assert(b._2 - a._2 == 1, s"gap between ${a._1} and ${b._1}")
    }
    got.foreach { case (day, ed, dow, wknd, yr, qtr, mon, mEnd) =>
      val d = LocalDate.parse(day)
      assert(ed == d.toEpochDay.toInt, s"$day epoch")
      // java.time DayOfWeek: MONDAY=1..SUNDAY=7; ours: SUNDAY=0..SATURDAY=6
      assert(dow == d.getDayOfWeek.getValue % 7, s"$day dow")
      assert(wknd == (dow == 0 || dow == 6))
      assert(yr == d.getYear && qtr == (d.getMonthValue + 2) / 3
        && mon == d.getMonthValue, s"$day parts")
      assert(mEnd == (d.getDayOfMonth == d.lengthOfMonth), s"$day month end")
    }
    // the spine brackets the fact table exactly
    val bounds = Tables.table(spark, dir, "orders")
      .agg(min(col("o_orderdate").cast("date")), max(col("o_orderdate").cast("date")))
      .head()
    assert(got.head._1 == bounds.getDate(0).toString
      && got.last._1 == bounds.getDate(1).toString)
  }

  test("seasonality: per-dow rates replay against java.time weekdays") {
    val got = graft.ops.CoreOps.seasonality(spark, dir).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toMap
    val ords = Tables.table(spark, dir, "orders")
      .select(col("o_orderdate").cast("date"), col("o_totalprice")).collect()
      .map(r => (r.getDate(0).toLocalDate, math.round(r.getDouble(1) * 100)))
    val (lo, hi) = (ords.map(_._1).min, ords.map(_._1).max)
    def dowOf(d: java.time.LocalDate): Int = d.getDayOfWeek.getValue % 7
    val dayCnt = Iterator.iterate(lo)(_.plusDays(1)).takeWhile(!_.isAfter(hi))
      .toSeq.groupBy(dowOf).map { case (d, xs) => d -> xs.length.toLong }
    val byDow = ords.groupBy(o => dowOf(o._1))
    assert(got.keySet == byDow.keySet)
    got.foreach { case (dow, (nDays, nOrd, rate, cents)) =>
      assert(nDays == dayCnt(dow), s"dow $dow days")
      assert(nOrd == byDow(dow).length.toLong, s"dow $dow orders")
      assert(rate == nOrd * 1000L / nDays, s"dow $dow rate")
      assert(cents == byDow(dow).map(_._2).sum, s"dow $dow cents")
    }
    // normalization matters: the span has unequal weekday counts or
    // unequal rates (the statistic is not a disguised raw count)
    assert(got.values.map(_._3).toSet.size > 1 ||
      got.values.map(_._1).toSet.size > 1)
  }

  test("k-anonymity classes replay; the fixture carries real risk") {
    import graft.ops.PrivacyOps
    val got = graft.ops.PrivacyOps.kAnonymity(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getBoolean(4), r.getBoolean(5))).toMap
    val rows = Tables.table(spark, dir, "customer")
      .select("c_mktsegment", "c_nationkey", "c_acctbal").collect()
      .map(r => (r.getString(0), r.getInt(1).toLong,
        (math.round(r.getDouble(2) * 100) + 100000000L) / PrivacyOps.SensitiveBucket))
    val want = rows.groupBy(r => (r._1, r._2)).map { case (k, rs) =>
      k -> (rs.length.toLong, rs.map(_._3).distinct.length.toLong,
        rs.length < PrivacyOps.KAnonK, rs.map(_._3).distinct.length == 1)
    }
    assert(got == want)
    // the assessment is non-vacuous: at-risk classes exist AND safe ones do
    assert(got.values.exists(_._3) && got.values.exists(!_._3))
  }

  test("basket rules replay distinct-basket counting; lift arithmetic exact") {
    val li = Tables.table(spark, dir, "lineitem")
      .select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).distinct
    val n = li.map(_._1).distinct.length.toLong
    val cnt = li.groupBy(_._2).map { case (p, rs) => p -> rs.length.toLong }
    val pairs = li.groupBy(_._1).values.toSeq.flatMap { rows =>
      val ps = rows.map(_._2).toSeq
      for (a <- ps; b <- ps if a != b) yield (a, b)
    }.groupBy(identity).toSeq.collect {
      case ((a, b), os) if os.size >= AnalyticsOps.RuleMinSupport =>
        (a, b, os.size.toLong)
    }
    val want = pairs.map { case (a, b, supp) =>
      (a, b, supp, cnt(a), cnt(b), supp * 1000000L / cnt(a),
        supp * n * 1000L / (cnt(a) * cnt(b)))
    }.toSeq.sortBy { case (a, b, _, _, _, _, lift) => (-lift, a, b) }
      .take(AnalyticsOps.RuleTopK)
    val got = AnalyticsOps.basketRules(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    assert(got == want)
    // the fixture carries genuinely positive associations (lift > 1)
    assert(got.exists(_._7 > 1000L))
  }

  test("rfm: quintiles replay the cross-multiply; segments honor their rules") {
    val got = AnalyticsOps.rfmSegments(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getInt(4), r.getInt(5), r.getInt(6), r.getString(7)))
    assert(got.nonEmpty)
    val n = got.length.toLong
    def quint(rn: Long): Int = ((rn * 5 + n - 1) / n).toInt
    def ranks[T](key: ((Long, Long, Long, Long, Int, Int, Int, String)) => Long) =
      got.sortBy(r => (-key(r), r._1)).zipWithIndex
        .map { case (r, i) => r._1 -> quint(i + 1L) }.toMap
    val (rr, ff, mm) = (ranks(_._2), ranks(_._3), ranks(_._4))
    got.foreach { case (k, _, _, _, r, f, m, seg) =>
      assert(r == rr(k) && f == ff(k) && m == mm(k), s"cust $k scores")
      val want =
        if (r == 1 && f == 1 && m == 1) "champion"
        else if (r >= 4 && f <= 2) "at_risk"
        else if (f == 1) "loyal"
        else if (r == 1) "recent"
        else "regular"
      assert(seg == want, s"cust $k segment")
    }
    // quintiles are balanced: bucket sizes differ by at most one
    val sizes = got.groupBy(_._5).values.map(_.length)
    assert(sizes.max - sizes.min <= 1)
  }

  test("grouping sets: exactly the three requested rollups, no grand total") {
    val got = AnalyticsOps.a15GroupingSets(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2),
        r.getLong(3), r.getLong(4)))
    val orders = Tables.table(spark, dir, "orders")
      .select("o_orderstatus", "o_orderpriority", "o_totalprice").collect()
      .map(r => (r.getString(0), r.getString(1),
        math.round(r.getDouble(2) * 100)))
    def agg(key: ((String, String, Long)) => (String, String), gid: Int) =
      orders.groupBy(key).map { case ((s, p), rows) =>
        (s, p, gid, rows.length.toLong, rows.map(_._3).sum)
      }.toSet
    val want =
      agg(r => (r._1, r._2), 0) ++
        agg(r => (r._1, "(all)"), 1) ++
        agg(r => ("(all)", r._2), 2)
    assert(got.toSet == want)
    // no grand-total row — the point of explicit sets over CUBE
    assert(!got.exists(_._3 == 3))
  }

  test("weighted median: first value reaching half the total weight") {
    val rows = Tables.table(spark, dir, "events")
      .select("event_id", "event_type", "value").collect()
      .map(r => (r.getLong(0), r.getString(1),
        math.round(r.getDouble(2) * 100)))
    val got = AnalyticsOps.weightedMedian(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toMap
    val want = rows.groupBy(_._2).map { case (tpe, es) =>
      val sorted = es.map(e => (e._3, e._1)).sortBy(identity)
      val n = sorted.length.toLong
      val med = sorted.map(_._1).apply(((n + 1) / 2 - 1).toInt)
      def w(id: Long): Long = id % 7 + 1
      val totw = es.map(e => w(e._1)).sum
      // walk the unique (value, key) order until 2*cumw >= totw
      val cum = sorted.scanLeft(0L) { case (acc, (_, id)) => acc + w(id) }.tail
      val wmed = sorted.zip(cum)
        .find { case (_, cw) => cw * 2 >= totw }.get._1._1
      tpe -> (n, totw, med, wmed)
    }
    assert(got == want)
    // the synthetic weights genuinely MOVE the statistic somewhere
    assert(want.exists { case (_, (_, _, m, wm)) => m != wm },
      "fixture must exercise a weighted median differing from unweighted")
  }
}
