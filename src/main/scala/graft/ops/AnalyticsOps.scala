package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Reuse
import graft.llm.TextHash

/** Warehouse-analytics operators beyond the reference's own surface
  * (SURVEY.md §2's "beyond" tier, same spirit as A9-A11): the remaining
  * window-function family, cube grouping, event-funnel / cohort-retention
  * analysis, deterministic weighted sampling, and integer-exact outlier
  * flagging. Each keeps the house determinism contract — integer cents,
  * IEEE-exact single divisions, explicit unique ORDER BY — so every query
  * is hash-oracled against DuckDB.
  */
object AnalyticsOps {
  import graft.Tables.{table => t}

  private def cents(c: org.apache.spark.sql.Column) =
    round(c * 100).cast("bigint")

  /** W8: the rank-function suite — rank / dense_rank / percent_rank /
    * cume_dist / ntile over one window (priority partitions ordered by
    * price). The ordering key is unique per partition (cents desc, key
    * asc), so every rank flavor is deterministic; percent_rank and
    * cume_dist are each ONE division of two exact small integers —
    * IEEE-correctly-rounded, so bit-identical in any engine.
    *
    * Scale: one shuffle on the partition key; all five ranks evaluate in
    * a single Window operator pass over each sorted partition (one sort,
    * shared by all five frames).
    */
  def w8RankSuite(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("cents").desc, col("o_orderkey").asc)
    t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"),
        cents(col("o_totalprice")).as("cents"))
      .withColumn("rk", rank().over(w))
      .withColumn("drk", dense_rank().over(w))
      .withColumn("pct_rank", percent_rank().over(w))
      .withColumn("cume", cume_dist().over(w))
      .withColumn("tile4", ntile(4).over(w))
      .orderBy("o_orderkey")
  }

  /** A12: CUBE over (status, priority) — all four grouping sets in one
    * pass (Catalyst expands to a single Expand + hash aggregate; no
    * re-scan per set). `grouping_id` disambiguates the coalesced total
    * rows; money rides as integer cents.
    */
  def a12Cube(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(grouping_id().cast("int").as("gid"),
        count(lit(1)).as("n_orders"),
        sum(cents(col("o_totalprice"))).as("total_cents"))
      .select(
        coalesce(col("o_orderstatus"), lit("(all)")).as("status"),
        coalesce(col("o_orderpriority"), lit("(all)")).as("priority"),
        col("gid"), col("n_orders"), col("total_cents"))
      .orderBy("status", "priority", "gid")

  /** A15: explicit GROUPING SETS — the reporting case CUBE over-delivers
    * on: exactly the (status, priority), (status), (priority) rollups,
    * WITHOUT the grand total a dashboard does not want to pay for or
    * filter out. Same single-pass Expand + hash-aggregate physical shape
    * as [[a12Cube]] (one scan, one shuffle, one Expand row per requested
    * set instead of 2^k); `grouping_id` disambiguates coalesced rows.
    */
  def a15GroupingSets(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupingSets(
        Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
          Seq(col("o_orderstatus")), Seq(col("o_orderpriority"))),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(grouping_id().cast("int").as("gid"),
        count(lit(1)).as("n_orders"),
        sum(cents(col("o_totalprice"))).as("total_cents"))
      .select(
        coalesce(col("o_orderstatus"), lit("(all)")).as("status"),
        coalesce(col("o_orderpriority"), lit("(all)")).as("priority"),
        col("gid"), col("n_orders"), col("total_cents"))
      .orderBy("status", "priority", "gid")

  /** Funnel stage analysis (signup → view → purchase per user): t1 is the
    * user's first signup, t2 the first view strictly after t1, t3 the
    * first purchase strictly after t2 — the chained-min definition, so a
    * view before the signup does not count.
    *
    * Shape: all three stage minima are conditional `min` windows over the
    * SAME user partition (no ORDER BY — whole-partition frames need no
    * sort), and the final per-user collapse reuses that hash partitioning:
    * ONE shuffle total, no self-joins. Timestamps compare as epoch
    * MICROS on both engines (the j9 precedent: Spark truncates the
    * parquet nanos, DuckDB keeps them — comparing in shared-precision
    * micros makes the strictly-after semantics engine-exact).
    */
  def funnelStages(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    t(s, dir, "events")
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("t1_us",
        min(when(col("event_type") === "signup", col("us"))).over(w))
      .withColumn("t2_us",
        min(when(col("event_type") === "view" && col("us") > col("t1_us"),
          col("us"))).over(w))
      .withColumn("t3_us",
        min(when(col("event_type") === "purchase" && col("us") > col("t2_us"),
          col("us"))).over(w))
      .groupBy(col("user_id"))
      .agg(min(col("t1_us")).as("t1_us"), min(col("t2_us")).as("t2_us"),
        min(col("t3_us")).as("t3_us"))
      .select(col("user_id"), col("t1_us"), col("t2_us"), col("t3_us"),
        when(col("t1_us").isNull, 0)
          .when(col("t2_us").isNull, 1)
          .when(col("t3_us").isNull, 2)
          .otherwise(3).cast("int").as("stage"))
      .orderBy("user_id")
  }

  /** Cohort epoch origin (the fixture stream starts 2024-01-01) — weeks
    * index as `days_since_origin div 7`, a pure-integer bucketing that is
    * identical in any engine (vs `date_trunc('week', …)` whose week-start
    * convention is a per-engine setting).
    */
  val CohortOrigin = "2024-01-01"

  /** Cohort retention: users grouped by first-activity week, counted
    * distinct per (cohort week, week offset) — the standard retention
    * triangle. Two aggregations and one join, ALL keyed on user_id /
    * the tiny (cohort, offset) pair — the first-event aggregate and the
    * join reuse one user_id partitioning; the fact table is scanned once.
    *
    * The week bucket FLOORS (`floor(days/7)`, matching DuckDB `//`), not
    * Spark `div` which truncates toward zero: an event dated before
    * [[CohortOrigin]] has a negative day diff, and truncation would put
    * days −6..−1 in week 0 while the oracle puts them in week −1.
    */
  def cohortRetention(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("user_id"),
        floor(expr(s"datediff(CAST(ts AS DATE), DATE '$CohortOrigin')") / 7)
          .cast("int").as("wk"))
    val firstWk = ev.groupBy(col("user_id"))
      .agg(min(col("wk")).as("cohort_wk"))
    ev.join(firstWk, "user_id")
      .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("offset_wk"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy("cohort_wk", "offset_wk")
  }

  /** Weighted-sample size. */
  val SampleK = 100

  /** Deterministic weighted sampling: rank every document by
    * `priority = h / weight` (h = the doc's 32-bit md5 hash as an exact
    * double, weight = n_chars) and keep the K smallest — heavier documents
    * draw proportionally smaller priorities, so selection probability
    * grows with weight. This is the hash-seeded deterministic variant of
    * priority (Efraimidis-Spirakis) sampling: same one-pass top-K-by-key
    * mechanics, with the uniform draw replaced by the doc's own hash so
    * any engine replays the identical sample (the u^(1/w) key of true A-ES
    * needs `pow`, which IEEE does not require correctly rounded — h/w is
    * ONE exact division, bit-identical everywhere).
    *
    * Scale: priority is a scan-side projection; the top-K is a
    * TakeOrderedAndProject (per-partition heaps + one K-row merge), never
    * a full sort.
    */
  def weightedSample(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), col("n_chars"),
        (TextHash.md5Long(concat(lit("wrs:"), col("doc_id").cast("string")))
          .cast("double") / col("n_chars").cast("double")).as("priority"))
      .orderBy(col("priority").asc, col("doc_id").asc)
      .limit(SampleK)

  /** Pareto frontier (skyline) of the corpus on the curation trade-off
    * (maximize vocabulary richness `n_types`, minimize cost `n_chars`):
    * the documents no other document beats on both axes — the "best
    * quality at every length budget" set a data-mixing run selects from.
    * Dominance is the standard weak form: B dominates A iff
    * `types_B >= types_A && chars_B <= chars_A` with at least one strict.
    *
    * Shape — the two-phase distributed skyline: the frontier is computed
    * on DISTINCT objective PAIRS (never doc rows), first per language
    * partition in parallel (a `partitionBy(lang)` window), then once
    * globally over the per-language survivors (a tiny set — the global
    * window's single-partition sort touches O(frontier candidates) rows,
    * not the corpus). Soundness of the phases: dominance ignores lang, so
    * a globally non-dominated pair is non-dominated inside every language
    * it appears in and always survives phase 1. Docs then attach by one
    * semi-join on the winning pairs. The oracle computes the skyline the
    * direct single-pass way — matching it proves the phased plan exact.
    *
    * The window trick: on distinct pairs ordered by (chars asc, types
    * desc), a pair is dominated iff any STRICTLY PRECEDING row has
    * types >= its own (preceding means cheaper, or same cost with more
    * types), so one running `max(types)` over `rows(-inf, -1)` decides
    * every pair — no pair self-join.
    */
  def paretoFront(s: SparkSession, dir: String): DataFrame = {
    import graft.llm.TextHash.tokens
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"),
        size(array_distinct(tokens(col("text")))).cast("int").as("n_types"))
    def survivors(pairs: DataFrame, w: org.apache.spark.sql.expressions.WindowSpec) =
      pairs
        .withColumn("best_prev",
          max(col("n_types")).over(w.orderBy(col("n_chars").asc, col("n_types").desc)
            .rowsBetween(Window.unboundedPreceding, -1)))
        .filter(col("best_prev").isNull || col("best_prev") < col("n_types"))
        .select(col("n_chars"), col("n_types"))
    val localFront = survivors(
      docs.select(col("lang"), col("n_chars"), col("n_types")).distinct(),
      Window.partitionBy(col("lang")))
    val globalFront = survivors(localFront.distinct(), Window.partitionBy())
    docs.join(globalFront, Seq("n_chars", "n_types"), "left_semi")
      .select(col("doc_id"), col("lang"), col("n_chars"), col("n_types"))
      .orderBy("doc_id")
  }

  /** OHLC resampling bucket: epoch-micros per hour. */
  val OhlcBucketUs = 3600000000L

  /** Time-series downsampling to OHLC bars: per (event_type, hour) the
    * first/highest/lowest/last value (integer cents) plus count and sum —
    * the resample-then-aggregate shape every metrics store runs. First
    * and last are defined by the TOTAL order (ts micros, event_id), so
    * ties on the timestamp cannot flip the bar cross-engine.
    *
    * The body is the stream twin [[graft.streaming.StreamOps.ohlcStream]]
    * over the table: ONE shuffle on the (window, type) bar key, open/close
    * as `min_by`/`max_by` aggregates on the total order (no window pass,
    * no self-join back onto the bar); the hour index is the window start
    * in [[OhlcBucketUs]] units.
    */
  def ohlcResample(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamOps.ohlcStream(t(s, dir, "events"))
      .select(col("event_type"),
        expr(s"unix_micros(window_start) div $OhlcBucketUs").as("hr"),
        col("open_cents"), col("high_cents"), col("low_cents"),
        col("close_cents"), col("n_events"), col("vol_cents"))
      .orderBy("event_type", "hr")

  /** Winsorization band, in percent: clip below the p05 and above the p95
    * rank values.
    */
  val WinsorLoPct = 5
  val WinsorHiPct = 95

  /** Per-group winsorization — clip each order's amount to its priority
    * group's [p05, p95] EXACT rank values (the robust-stats pre-pass that
    * tames outliers before any mean/σ computation): rank under the unique
    * (cents, key) total order, bound = first value whose rank reaches
    * ⌈p·n/100⌉ (integer cross-multiply, the histQuantiles convention), so
    * both bounds are actual data values and engine-exact.
    *
    * Shape: ONE shuffle on the group key and ZERO joins — the ordered
    * rank pass and the two whole-partition conditional-min bounds all
    * evaluate inside the same window partitioning, and the verdict is a
    * row-local projection. (The broadcast-bounds-join formulation costs
    * a second pass; the window form reads the partition once sorted.)
    */
  def winsorize(s: SparkSession, dir: String): DataFrame = {
    val wp = Window.partitionBy(col("o_orderpriority"))
    val lo = col("rn") * 100 >= col("cnt") * WinsorLoPct
    val hi = col("rn") * 100 >= col("cnt") * WinsorHiPct
    t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"),
        cents(col("o_totalprice")).as("cents"))
      .withColumn("rn", row_number().over(
        wp.orderBy(col("cents").asc, col("o_orderkey").asc)))
      .withColumn("cnt", count(lit(1)).over(wp))
      .withColumn("lo_cents", min(when(lo, col("cents"))).over(wp))
      .withColumn("hi_cents", min(when(hi, col("cents"))).over(wp))
      .select(col("o_orderkey"), col("o_orderpriority"), col("cents"),
        col("lo_cents"), col("hi_cents"),
        least(greatest(col("cents"), col("lo_cents")), col("hi_cents"))
          .as("clipped_cents"),
        (col("cents") < col("lo_cents") || col("cents") > col("hi_cents"))
          .as("was_clipped"))
      .orderBy("o_orderkey")
  }

  /** Anomaly threshold: a value is anomalous when its absolute deviation
    * from the group median exceeds `MadK` times the group MAD.
    */
  val MadK = 3

  /** Per-type robust anomaly detection by median absolute deviation — the
    * outlier rule that survives the skew a mean/σ z-score drowns in (one
    * fat tail drags μ and inflates σ until nothing flags; the median and
    * MAD are 50%-breakdown estimators). Both statistics are EXACT rank
    * values under the unique (value, key) total order — the lower median
    * at rank ⌈n/2⌉ (`rn*2 >= cnt`, the winsorize cross-multiply device) —
    * so every number is an actual data value in integer cents and the
    * verdict `|x − med| > MadK·mad` is engine-exact with no floating
    * point anywhere.
    *
    * Shape: ONE shuffle on the group key, ZERO joins — the median rank
    * pass, the deviation rank pass, and both whole-partition conditional
    * mins evaluate inside the same window partitioning (two sorts over
    * one exchange; Spark chains the Window operators without
    * re-shuffling because the partitioning expression is identical).
    * The verdict is a row-local projection. [[madStats]] freezes the
    * per-type (median, MAD) pair as the serving artifact the streaming
    * twin ([[graft.streaming.StreamOps.anomalyStream]]) probes.
    */
  def anomalyMad(s: SparkSession, dir: String): DataFrame =
    anomalyCore(s, dir)
      .select(col("event_id"), col("event_type"), col("cents"),
        col("med_cents"), col("mad_cents"),
        (col("abs_dev") > lit(MadK) * col("mad_cents")).as("is_anomaly"))
      .orderBy("event_id")

  private def anomalyCore(s: SparkSession, dir: String): DataFrame = {
    val wp = Window.partitionBy(col("event_type"))
    t(s, dir, "events")
      .select(col("event_id"), col("event_type"),
        cents(col("value")).as("cents"))
      .withColumn("rn", row_number().over(
        wp.orderBy(col("cents").asc, col("event_id").asc)))
      .withColumn("cnt", count(lit(1)).over(wp))
      .withColumn("med_cents",
        min(when(col("rn") * 2 >= col("cnt"), col("cents"))).over(wp))
      .withColumn("abs_dev", abs(col("cents") - col("med_cents")))
      .withColumn("dn", row_number().over(
        wp.orderBy(col("abs_dev").asc, col("event_id").asc)))
      .withColumn("mad_cents",
        min(when(col("dn") * 2 >= col("cnt"), col("abs_dev"))).over(wp))
  }

  /** The frozen per-type (median, MAD) table — O(types) rows, the
    * trained-statistics artifact a deployment persists and the live
    * anomaly monitor broadcasts against incoming events.
    */
  def madStats(s: SparkSession, dir: String): DataFrame =
    anomalyCore(s, dir)
      .select(col("event_type"), col("med_cents"), col("mad_cents"))
      .distinct()

  /** Integer-exact per-language length outliers: flags documents more than
    * 1.5 population standard deviations from their language's mean length
    * WITHOUT any floating point — `(x-μ)² > (3/2)²σ²` cross-multiplies to
    * `4·(n·x − S)² > 9·(n·Q − S²)` over the group's (n, ΣX, ΣX²), all
    * BIGINT (exact while n·x stays under ~3e9, i.e. millions of docs per
    * language at these lengths; beyond that the same inequality lifts to
    * DECIMAL(38,0)/HUGEINT unchanged).
    *
    * Shape: one O(langs) aggregate, broadcast back onto the scan — the
    * verdict is a scan-speed projection; the corpus shuffles nothing.
    */
  def lengthOutliers(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val st = docs.groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sx"),
        sum(col("n_chars") * col("n_chars")).as("sq"))
    val dev = col("n") * col("n_chars") - col("sx")
    docs.join(broadcast(st), "lang")
      .select(col("doc_id"), col("lang"), col("n_chars"),
        (lit(4) * dev * dev >
          lit(9) * (col("n") * col("sq") - col("sx") * col("sx")))
          .as("is_outlier"))
      .orderBy("doc_id")
  }

  /** Rows kept by [[flagshipRevenue]]. */
  val FlagshipTopK = 10

  /** The classic star-schema analytical query (the TPC-H Q3 shape):
    * revenue of building-segment customers' urgent orders, top
    * [[FlagshipTopK]] by revenue — three tables, two joins, one
    * aggregation, one top-k, exercising the whole declarative pipeline
    * in a single statement the way a BI tool would.
    *
    * Scale shape: the customer dim filters FIRST and BROADCASTS (the
    * selective side never shuffles the fact); orders prune on the
    * priority predicate at the scan (PushedFilters); the lineitem join
    * runs on the orderkey with revenue aggregated in integer cents
    * (map-side partials); the final top-k is TakeOrderedAndProject.
    * Revenue = Σ price·(100−disc%)/100 in cents — the money convention
    * with the discount applied in EXACT integer arithmetic
    * (`cents·(100−d) div 100` would truncate per row; instead the sum
    * carries `cents·(100−d)` and divides ONCE at the end, keeping every
    * intermediate an exact integer).
    */
  def flagshipRevenue(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"), col("c_name"))
    val ord = t(s, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"), col("o_custkey"))
    val li = t(s, dir, "lineitem")
      .select(col("l_orderkey"),
        (cents(col("l_extendedprice")) *
          (lit(100) - round(col("l_discount") * 100).cast("long")))
          .as("rev_scaled"))
    ord.join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(li, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderkey"), col("c_name"))
      .agg(sum(col("rev_scaled")).as("rev_scaled"))
      .select(col("o_orderkey"), col("c_name"),
        expr("rev_scaled div 100").as("revenue_cents"))
      .orderBy(col("revenue_cents").desc, col("o_orderkey"))
      .limit(FlagshipTopK)
  }

  /** Pair-support floor for [[basketRules]] (the co-purchase prune) and
    * rules kept.
    */
  val RuleMinSupport = 2
  val RuleTopK = 100

  /** Market-basket association rules over distinct order baskets: for
    * each directed pair a→b co-purchased in ≥ [[RuleMinSupport]] distinct
    * orders, `confidence = P(b|a)` and `lift = P(b|a)/P(b)` in integer
    * ppm/ppk (`supp·10^6 div cnt_a`, `supp·N·10^3 div (cnt_a·cnt_b)`) —
    * engine-exact, no doubles. Counting is over DISTINCT (order, part)
    * pairs — a part twice in one order is one basket membership — which
    * is why the rule counts do not reuse the graph tier's edge aggregate
    * (its per-row support serves connectivity, not probability).
    *
    * Scale shape: one distinct projection of the fact table, a self
    * equi-join on the order key (per-order fanout bounded by basket
    * size), the support prune killing the quadratic tail, item counts
    * broadcast back over the surviving pairs, and the final top-K by
    * (lift DESC) planning as TakeOrderedAndProject.
    */
  def basketRules(s: SparkSession, dir: String): DataFrame = {
    // pinned: the distinct basket table feeds the order count, the item
    // counts, AND the pair join
    val li = Reuse(t(s, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct())
    val n = broadcast(li.select(col("ok")).distinct()
      .agg(count(lit(1)).as("n_orders")))
    val itemCnt = li.groupBy(col("pk")).agg(count(lit(1)).as("cnt"))
    val pairs = li.as("a")
      .join(li.as("b"), col("a.ok") === col("b.ok") && col("a.pk") =!= col("b.pk"))
      .groupBy(col("a.pk").as("antecedent"), col("b.pk").as("consequent"))
      .agg(count(lit(1)).as("supp"))
      .filter(col("supp") >= RuleMinSupport)
    val out = pairs
      .join(broadcast(itemCnt.select(col("pk").as("antecedent"),
        col("cnt").as("cnt_a"))), "antecedent")
      .join(broadcast(itemCnt.select(col("pk").as("consequent"),
        col("cnt").as("cnt_b"))), "consequent")
      .crossJoin(n)
      .select(col("antecedent"), col("consequent"), col("supp"),
        col("cnt_a"), col("cnt_b"),
        expr("(supp * 1000000) div cnt_a").as("conf_ppm"),
        expr("(supp * n_orders * 1000) div (cnt_a * cnt_b)").as("lift_ppk"))
    // no unpersist here: the returned plan is lazy, so the cache must
    // outlive this call — callers clear it when done (the Dedup module's
    // cache-lifecycle contract)
    out.orderBy(col("lift_ppk").desc, col("antecedent"), col("consequent"))
      .limit(RuleTopK)
  }

  /** RFM customer segmentation — recency (last order), frequency (order
    * count), monetary (lifetime cents) collapsed to quintile scores
    * (1 = best) and a coarse segment label. The fact table collapses
    * FIRST (one groupBy to O(customers) rows); the three global-order
    * rank passes then run over the customer DIMENSION — the deliberate
    * small-frame plan of the histQuantiles/prCurve family (a dimension
    * is orders of magnitude smaller than its fact table; at the scale
    * where even the dim is huge, the thresholds move to broadcast
    * percentile scalars, the calibratedCut economics).
    *
    * All three scores are `ceil(5·rank/cnt)` integer cross-multiplies
    * under unique (metric DESC, key) orders — engine-exact, no ntile
    * convention dependence, no doubles. Recency ranks on epoch-micros
    * (the j9 shared-precision rule).
    */
  def rfmSegments(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "orders")
      .groupBy(col("o_custkey"))
      // o_orderdate is TIMESTAMP_NTZ; the session is pinned UTC, so the
      // cast is identity and epoch micros match DuckDB's epoch_us
      .agg(max(unix_micros(col("o_orderdate").cast("timestamp"))).as("last_us"),
        count(lit(1)).as("n_orders"),
        sum(cents(col("o_totalprice"))).as("life_cents"))
    // quintile = ceil(5·rank/cnt) by integer cross-multiply (BIGINT
    // `div`) — deliberately NOT ntile, whose remainder-distribution
    // convention would have to be trusted to match across engines; 1 = best
    def rank(metric: String) = row_number().over(
      Window.orderBy(col(metric).desc, col("o_custkey").asc)).cast("bigint")
    base
      .withColumn("cnt", count(lit(1)).over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("rn_r", rank("last_us"))
      .withColumn("rn_f", rank("n_orders"))
      .withColumn("rn_m", rank("life_cents"))
      .withColumn("r", expr("cast((rn_r * 5 + cnt - 1) div cnt as int)"))
      .withColumn("f", expr("cast((rn_f * 5 + cnt - 1) div cnt as int)"))
      .withColumn("m", expr("cast((rn_m * 5 + cnt - 1) div cnt as int)"))
      .select(col("o_custkey"), col("last_us"), col("n_orders"),
        col("life_cents"), col("r"), col("f"), col("m"),
        when(col("r") === 1 && col("f") === 1 && col("m") === 1, "champion")
          .when(col("r") >= 4 && col("f") <= 2, "at_risk")
          .when(col("f") === 1, "loyal")
          .when(col("r") === 1, "recent")
          .otherwise("regular").as("segment"))
      .orderBy("o_custkey")
  }

  /** Deterministic surrogate importance weight for [[weightedMedian]]:
    * 1..7 from the key — the fixture carries no weight column, and the
    * synthesis convention (document it, mirror it in the oracle) is the
    * same one `q_j11_null_skew` uses for its null FKs.
    */
  def rowWeight(key: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (key % 7 + 1).cast("bigint")

  /** Funnel-transition latency — the time-to-convert statistics on top of
    * [[funnelStages]]'s chained-min timestamps: per transition
    * (signup→view, view→purchase), the converting-user count and the
    * EXACT rank-value median and p90 latency in micros (the winsorize
    * cross-multiply under the unique (latency, user) order — every
    * reported number is an actual observed latency). The answer to "the
    * funnel converts X% — but how long does it take?".
    *
    * Shape: reuses the funnel frame (one user shuffle), unpivots the two
    * latencies row-locally, and runs one rank pass per transition
    * partition — O(transitions) output.
    */
  def funnelLatency(s: SparkSession, dir: String): DataFrame = {
    val f = funnelStages(s, dir)
    val lat = f.select(col("user_id"),
      explode(array(
        struct(lit("signup_to_view").as("transition"),
          (col("t2_us") - col("t1_us")).as("lat_us")),
        struct(lit("view_to_purchase").as("transition"),
          (col("t3_us") - col("t2_us")).as("lat_us")))).as("x"))
      .select(col("user_id"), col("x.transition"), col("x.lat_us"))
      .filter(col("lat_us").isNotNull)
    val wp = Window.partitionBy(col("transition"))
    lat
      .withColumn("rn", row_number().over(
        wp.orderBy(col("lat_us").asc, col("user_id").asc)))
      .withColumn("cnt", count(lit(1)).over(wp))
      .groupBy(col("transition"))
      .agg(max(col("cnt")).as("n_users"),
        min(when(col("rn") * 2 >= col("cnt"), col("lat_us"))).as("med_us"),
        min(when(col("rn") * 10 >= col("cnt") * 9, col("lat_us"))).as("p90_us"))
      .orderBy("transition")
  }

  /** W11: exact weighted median per group — the importance-weighted
    * percentile an up/down-sampled corpus needs where the unweighted
    * median misreports the resampled distribution (each row counts
    * [[rowWeight]] times, as if physically replicated). The statistic is
    * the smallest value whose cumulative weight reaches half the total
    * (`2·cumw >= totw` — the winsorize/MAD cross-multiply device lifted
    * from counts to weights; weights are integers, so the comparison is
    * engine-exact, and the result is always an actual data value). The
    * unweighted median rides along so the fixture proves the weighting
    * MOVES the statistic (spec-pinned), not just reproduces it.
    *
    * Shape: ONE shuffle on the group key, ZERO joins — the running
    * weight sum (ordered frame), both whole-partition totals, and both
    * conditional mins evaluate inside the same window partitioning, the
    * [[anomalyMad]] discipline. The output is O(groups) rows.
    */
  def weightedMedian(s: SparkSession, dir: String): DataFrame = {
    val wp = Window.partitionBy(col("event_type"))
    val wo = wp.orderBy(col("cents").asc, col("event_id").asc)
    t(s, dir, "events")
      .select(col("event_id"), col("event_type"),
        cents(col("value")).as("cents"), rowWeight(col("event_id")).as("w"))
      .withColumn("cumw", sum(col("w")).over(
        wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("totw", sum(col("w")).over(wp))
      .withColumn("rn", row_number().over(wo))
      .withColumn("cnt", count(lit(1)).over(wp))
      .groupBy(col("event_type"))
      .agg(
        max(col("cnt")).as("n"),
        max(col("totw")).as("tot_w"),
        min(when(col("rn") * 2 >= col("cnt"), col("cents"))).as("med_cents"),
        min(when(col("cumw") * 2 >= col("totw"), col("cents")))
          .as("wmed_cents"))
      .orderBy("event_type")
  }
}
