package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.ProfileOps

/** One-pass profile invariants: the DuckDB oracle pins exact values; these
  * pin each stat against an independent recompute and the estimate class.
  */
class ProfileOpsSpec extends AnyFunSuite with SharedSpark {

  private val dir = "/root/testdata/sf0.001"

  private def joined = {
    val users = Tables.table(spark, dir, "customer")
      .filter(col("c_custkey") % 2 === 0)
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
    Tables.table(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"))
      .join(users, col("o_custkey") === col("c_custkey"), "left_outer")
  }

  test("profile stats match independent per-column recomputes") {
    val out = ProfileOps.profileTable(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out.keySet == ProfileOps.ProfileCols.toSet)
    val df = joined.cache()
    val nRows = df.count()
    ProfileOps.ProfileCols.foreach { c =>
      val r = out(c)
      assert(r.getLong(1) == nRows, s"$c n_rows")
      val nulls = df.filter(col(c).isNull).count()
      assert(r.getLong(2) == nulls, s"$c n_nulls: got ${r.getLong(2)}, want $nulls")
      val exact = df.filter(col(c).isNotNull).select(c).distinct().count()
      assert(r.getLong(4) == exact, s"$c exact_distinct")
      val minMax = df.filter(col(c).isNotNull)
        .agg(min(col(c)).cast("string"), max(col(c)).cast("string")).head()
      assert(r.getString(5) == minMax.getString(0), s"$c min_val")
      assert(r.getString(6) == minMax.getString(1), s"$c max_val")
      // the sketch estimate stays in the KMV error class (exact below k)
      val est = r.getDouble(3)
      assert(math.abs(est - exact) <=
        math.max(4 * exact / math.sqrt(graft.llm.Sketches.KmvK - 2), 2.0),
        s"$c estimate $est too far from exact $exact")
    }
    // the joined fixture must actually exercise the null path
    assert(out("c_name").getLong(2) > 0L,
      "profile fixture lost its null column — the null count is vacuous")
    df.unpersist(); ()
  }

  test("dq checks replay against plain-Scala counts and catch injected dirt") {
    val got = ProfileOps.dqChecks(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toMap
    val orders: Seq[(Long, Long, String, Long)] =
      Tables.table(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          round(col("o_totalprice") * 100).cast("long")).collect().toSeq
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val custEven = Tables.table(spark, dir, "customer")
      .select(col("c_custkey")).collect().map(_.getLong(0))
      .filter(_ % 2 == 0).toSet
    val base = orders.map { case (k, fk, st, c) =>
      (k, if (k % 37 == 0) None else Some(fk),
        if (k % 53 == 0) "X" else st, c)
    }
    val dirty = base ++ base.filter(_._1 % 101 == 0)
    val want = Map(
      "orders_fk_complete" ->
        (dirty.size.toLong, dirty.count(_._2.isEmpty).toLong),
      "orders_status_domain" ->
        (dirty.size.toLong,
          dirty.count(r => !Set("O", "F", "P")(r._3)).toLong),
      "orders_cents_nonneg" ->
        (dirty.size.toLong, dirty.count(_._4 < 0).toLong),
      "orders_pk_unique" ->
        (dirty.size.toLong,
          (dirty.size - dirty.map(_._1).distinct.size).toLong),
      "orders_fk_customer" -> {
        val nn = dirty.filter(_._2.isDefined)
        (nn.size.toLong, nn.count(r => !custEven(r._2.get)).toLong)
      })
    assert(got.keySet == want.keySet)
    for ((name, (nc, nv)) <- want)
      assert(got(name) == ((nc, nv, nv == 0L)),
        s"$name: got ${got(name)}, want ($nc, $nv, ${nv == 0L})")
    // non-vacuous: every injected dirt family was actually caught, and
    // the clean constraint actually passes
    assert(got("orders_fk_complete")._2 > 0)
    assert(got("orders_status_domain")._2 > 0)
    assert(got("orders_pk_unique")._2 > 0)
    assert(got("orders_fk_customer")._2 > 0)
    assert(got("orders_cents_nonneg")._3, "range check should pass clean")
  }

  test("drift monitor replays the half-split bucket shares exactly") {
    import graft.ops.ProfileOps
    val evs = Tables.table(spark, dir, "events")
      .select(col("event_type"), unix_micros(col("ts")),
        round(col("value") * 100).cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val lo = evs.map(_._2).min
    val hi = evs.map(_._2).max
    val mc = evs.map(_._3).max
    def half(us: Long) = if (us * 2 < lo + hi) 0 else 1
    def bin(c: Long) =
      math.min(ProfileOps.DriftBins - 1L, c * ProfileOps.DriftBins / (mc + 1))
    val counts = evs.groupBy(e => (e._1, bin(e._3))).map { case (k, es) =>
      k -> (es.count(e => half(e._2) == 0).toLong,
        es.count(e => half(e._2) == 1).toLong)
    }
    val tot = evs.groupBy(_._1).map { case (t, es) =>
      t -> (es.count(e => half(e._2) == 0).toLong,
        es.count(e => half(e._2) == 1).toLong)
    }
    val got = ProfileOps.dqDrift(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getBoolean(6)))
    assert(got.length == counts.size, "one row per observed (type, bin)")
    got.foreach { case (t, b, c1, c2, n1, n2, dr) =>
      assert((c1, c2) == counts((t, b)), s"($t,$b) counts")
      assert((n1, n2) == tot(t), s"($t,$b) totals")
      assert(dr ==
        (math.abs(c1 * n2 - c2 * n1) * ProfileOps.DriftDenom > n1 * n2))
    }
    // the alert is live in both directions on the fixture: some buckets
    // moved more than the threshold, most did not
    assert(got.exists(_._7) && got.count(!_._7) > got.count(_._7))
  }
}
