package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Reuse
import graft.Tables.{table => t}
import graft.functions.{CmsSketch, HllRegisters, KMinValues}
import org.apache.spark.sql.catalyst.expressions.ShiftLeft
import org.apache.spark.sql.graftbridge.GraftBridge
import TextHash._

/** Bounded-state sketch operators — the aggregations a 100 TB profile run
  * uses where the exact form would shuffle every distinct value.
  */
object Sketches {

  /** Sketch size: 64 hashes ≈ 12% standard error (1/√(k-2)) — a profiling
    * sketch, not a billing counter.
    */
  val KmvK = 64

  /** Hash-space size for [[TextHash.md5Long]] (first 8 md5 hex digits):
    * 2^32, as a double (exact).
    */
  val KmvHashSpace = 4294967296.0

  /** Engine-portable KMV input hash of a (NOT NULL) key — the ONE
    * definition the oracles mirror via `hexIntSql("'kmv:' || key")`.
    */
  def kmvHash(key: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    md5Long(concat(lit("kmv:"), key.cast("string")))

  /** The distinct-count estimate a KMV sketch array implies: exact below
    * capacity (the sketch IS the distinct hash set), `(k-1)·M/h_(k)` at
    * capacity — identical doubles in any engine (same integer divisions).
    * ONE definition for every consumer; a rounding or k change has a
    * single update site per engine.
    */
  def kmvEstimate(kmv: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(size(kmv) < KmvK, size(kmv).cast("double"))
      .otherwise(round(lit((KmvK - 1).toDouble) * lit(KmvHashSpace) /
        element_at(kmv, KmvK).cast("double"), 4))

  /** HLL register-count exponent: 2^6 = 64 registers, ~13% standard error
    * (1.04/√m) — the same profiling error class as [[KmvK]], so the two
    * sketches on the same query are directly comparable.
    */
  val HllP = 6
  val HllM: Int = 1 << HllP
  /** Hash-suffix width (32 - [[HllP]]) and the max register rank (w+1). */
  val HllW: Int = 32 - HllP
  val HllMaxRank: Int = HllW + 1
  /** HLL bias constant α for m = 64 (Flajolet et al., table 1). */
  val HllAlpha = 0.709

  /** Engine-portable HLL input hash of a (NOT NULL) key — mirrored by the
    * oracles via `hexIntSql("'hll:' || key")`.
    */
  def hllHash(key: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    md5Long(concat(lit("hll:"), key.cast("string")))

  /** Shift-left with a COLUMN shift amount (the `functions.shiftleft`
    * overload only takes a literal).
    */
  private def shl(base: org.apache.spark.sql.Column,
      bits: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    GraftBridge.column(ShiftLeft(
      GraftBridge.expression(base), GraftBridge.expression(bits)))

  /** The harmonic-sum numerator of the HLL estimate, kept INTEGER so both
    * engines derive the estimate from the same exact value:
    * `Σ_j 2^(maxRank - M_j)` (a BIGINT; the true harmonic sum is this over
    * 2^maxRank). Fixed register order, integer adds — order-insensitive.
    */
  def hllSNum(regs: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    aggregate(regs, lit(0L), (acc, r) => acc + shl(lit(1L), lit(HllMaxRank) - r))

  /** Raw HLL estimate `α·m² / Σ 2^-M_j = α·m²·2^maxRank / sNum`: one double
    * multiply chain over exact integers, then one division — identical in
    * any IEEE engine. The small-range linear-counting correction
    * (`m·ln(m/V)`) is deliberately NOT applied: it needs libm `ln`, whose
    * last-ulp behavior is engine-private; the zero-register count rides
    * along so a consumer can apply it, and the REGISTERS themselves are the
    * oracle contract, not the correction.
    */
  def hllEstimate(regs: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    round(lit(HllAlpha) * lit(HllM.toDouble * HllM) *
      lit((1L << HllMaxRank).toDouble) / hllSNum(regs).cast("double"), 4)

  /** Distinct order count per return flag through the HLL register table —
    * the [[kmvDistinct]] query with the other classic sketch, so the two
    * bounded-state answers to COUNT(DISTINCT) sit side by side: m bytes of
    * HLL state vs 8k bytes of KMV state through the shuffle. Same separated
    * sketch/exact aggregation (the fused form would trigger the
    * distinct-rewrite Expand), same broadcast join back over the handful of
    * group rows. Registers, zero-register count, and the integer harmonic
    * numerator are all exact cross-engine; the estimate is one double chain
    * over them.
    */
  def hllDistinct(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val sketch = li
      .select(col("l_returnflag"), hllHash(col("l_orderkey")).as("h"))
      .groupBy(col("l_returnflag"))
      .agg(HllRegisters(col("h"), HllP).as("registers"))
    val exact = li
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_orderkey")).as("exact_distinct"))
    sketch.join(broadcast(exact), Seq("l_returnflag"))
      .select(
        col("l_returnflag"),
        // the registers stay the value-for-value contract, but surface as
        // a canonical comma-joined string: a raw array<int> column is not
        // sortable by pandas-style result checkers (a frame with ndarray
        // cells cannot hash), and every declared query's top-level schema
        // is atomic-only by repo rule (DeclaredSchemaSpec)
        array_join(col("registers"), ",").as("registers_csv"),
        size(filter(col("registers"), _ === 0)).as("n_zero"),
        hllSNum(col("registers")).as("s_num"),
        hllEstimate(col("registers")).as("est_distinct"),
        col("exact_distinct"))
      .orderBy("l_returnflag")
  }

  /** Distinct order count per return flag, three ways on one pass:
    * the KMV sketch array (engine-portable, value-for-value), the estimate
    * it implies, and the exact distinct count it approximates. At 100 TB
    * the exact column is the one you delete: the KMV partial state is ≤ k
    * longs per (partition, group) through the shuffle, while exact
    * count(DISTINCT) reshuffles every distinct key. The estimate is pure
    * post-aggregation arithmetic: exact below k (the sketch holds the whole
    * distinct hash set), `(k-1)·M/h_(k)` at capacity — identical doubles in
    * any engine since both sides divide the same integers.
    */
  def kmvDistinct(s: SparkSession, dir: String): DataFrame = {
    val h = kmvHash(col("l_orderkey"))
    val li = t(s, dir, "lineitem")
    // the sketch and the exact count aggregate SEPARATELY: fused into one
    // agg, Spark's distinct-rewrite expands the grouping to
    // (flag, orderkey) and the KMV state gets built per distinct KEY —
    // thousands of buffers serialized through two extra phases (measured
    // ~2x on this query). Apart, the sketch keeps the clean two-phase
    // plan (one bounded buffer per partition per group), and the exact
    // side — the query you delete at 100 TB — joins back over the handful
    // of group rows.
    val sketch = li
      .select(col("l_returnflag"), h.as("h"))
      .groupBy(col("l_returnflag"))
      .agg(KMinValues(col("h"), KmvK).as("kmv"))
    val exact = li
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_orderkey")).as("exact_distinct"))
    sketch.join(broadcast(exact), Seq("l_returnflag"))
      .select(
        col("l_returnflag"),
        size(col("kmv")).as("n_hashes"),
        element_at(col("kmv"), size(col("kmv"))).as("max_hash"),
        kmvEstimate(col("kmv")).as("est_distinct"),
        col("exact_distinct"))
      .orderBy("l_returnflag")
  }

  /** Sketch ALGEBRA: the k smallest of two KMV sketches' union is exactly
    * the KMV sketch of the underlying set union — so set-cardinality
    * questions (union, intersection, join selectivity) answer from the
    * sketches alone, no rescan, no join. This is the 100 TB planning
    * trick: estimate |A ⋈ B| before paying for the shuffle.
    */
  def kmvUnion(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column,
      k: Int = KmvK): org.apache.spark.sql.Column =
    slice(sort_array(array_union(a, b)), 1, k)

  /** Key-overlap estimation from per-side KMV sketches: the union sketch
    * is [[kmvUnion]] (an EXACT identity, not an approximation — the same
    * k-smallest set either way), the union estimate is the standard
    * [[kmvEstimate]], and the intersection estimate is
    * inclusion-exclusion over the three estimates. Exact counterparts
    * (one COUNT DISTINCT per side + one semi-join — the costs this
    * operator exists to avoid at scale) ride along for the oracle to pin
    * the error. All arithmetic downstream of the integer hash arrays is
    * the same double chain in both engines.
    *
    * The declared pair is orders.o_custkey vs customer.c_custkey — the
    * join-selectivity question ("how many customers actually have
    * orders?") answered from two 512-byte sketches.
    */
  def kmvOverlap(s: SparkSession, dir: String): DataFrame = {
    val a = t(s, dir, "orders").select(col("o_custkey").as("key"))
    val b = t(s, dir, "customer").select(col("c_custkey").as("key"))
    def sketch(df: DataFrame, name: String) = broadcast(
      df.select(kmvHash(col("key")).as("h"))
        .agg(KMinValues(col("h"), KmvK).as(name)))
    def exact(df: DataFrame, name: String) = broadcast(
      df.agg(countDistinct(col("key")).as(name)))
    val exInter = broadcast(
      a.join(b, Seq("key"), "left_semi")
        .agg(countDistinct(col("key")).as("exact_inter")))
    val est = sketch(a, "kmv_a").crossJoin(sketch(b, "kmv_b"))
      .select(col("kmv_a"), col("kmv_b"),
        kmvUnion(col("kmv_a"), col("kmv_b")).as("kmv_u"))
    est.crossJoin(exact(a, "exact_a")).crossJoin(exact(b, "exact_b"))
      .crossJoin(exInter)
      .select(
        kmvEstimate(col("kmv_a")).as("est_a"),
        kmvEstimate(col("kmv_b")).as("est_b"),
        kmvEstimate(col("kmv_u")).as("est_union"),
        round(kmvEstimate(col("kmv_a")) + kmvEstimate(col("kmv_b"))
          - kmvEstimate(col("kmv_u")), 4).as("est_inter"),
        col("exact_a"), col("exact_b"),
        (col("exact_a") + col("exact_b") - col("exact_inter")).as("exact_union"),
        col("exact_inter"))
  }

  /** Histogram-quantile geometry: fixed bins of width [[HistW]], the last
    * bin open-ended — [[HistB]]·W = 640 comfortably covers the corpus
    * length range with headroom. Fixed GLOBAL bounds are what make the
    * per-bin counts a mergeable monoid (partial histograms add bin-wise
    * across partitions/days/shards with zero coordination) — the property
    * an adaptive binning (t-digest/KLL) pays coordination or determinism
    * for.
    */
  val HistW = 32
  val HistB = 20
  /** The estimated quantiles, in percent. */
  val HistQs: Seq[Int] = Seq(50, 90, 99)

  /** Quantile estimation from a fixed-bin histogram — the bounded-state
    * answer to "p50/p90/p99 of a 100 TB column": the whole reduction is
    * O(langs·B) counter state (vs the full sort the exact form needs),
    * and the estimate is the UPPER EDGE of the first bin whose cumulative
    * count reaches ⌈q·n/100⌉ — a one-sided bound (est_hi >= exact, the
    * CMS overcount convention) off by at most one bin width. All
    * arithmetic is integer cross-multiplication (`cum·100 >= n·q`), so
    * both engines pick the identical bin; the exact quantile (the
    * rank-⌈qn/100⌉ value under the (n_chars, doc_id) total order) rides
    * along to pin the error, and is the column you delete at scale.
    */
  def histQuantiles(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = t(s, dir, "documents")
      .select(col("lang"), col("n_chars"), col("doc_id"))
    val hist = docs
      .select(col("lang"),
        least(expr(s"n_chars div $HistW"), lit(HistB - 1)).cast("int")
          .as("bin"))
      .groupBy(col("lang"), col("bin")).agg(count(lit(1)).as("cnt"))
    val wl = Window.partitionBy(col("lang")).orderBy(col("bin"))
    val wp = Window.partitionBy(col("lang"))
    val cum = hist.withColumn("cum", sum(col("cnt")).over(wl))
      .withColumn("n", sum(col("cnt")).over(wp))
    val est = cum.groupBy(col("lang")).agg(
      max(col("n")).as("n"),
      HistQs.map(q => min(when(col("cum") * 100 >= col("n") * q, col("bin")))
        .as(s"bin_$q")): _*)
    // exact side: rank under the unique total order, value at ⌈qn/100⌉
    val ranked = docs
      .withColumn("rn",
        row_number().over(wp.orderBy(col("n_chars").asc, col("doc_id").asc)))
      .withColumn("nn", count(lit(1)).over(wp))
    val exactAggs = HistQs.map(q =>
      min(when(col("rn") * 100 >= col("nn") * q, col("n_chars"))).as(s"ex_$q"))
    val exact = ranked.groupBy(col("lang"))
      .agg(exactAggs.head, exactAggs.tail: _*)
    est.join(broadcast(exact), Seq("lang"))
      .select(col("lang"), col("n"), inline(array(HistQs.map(q =>
        struct(lit(q).as("q"), col(s"bin_$q").as("bin_est"),
          ((col(s"bin_$q") + 1) * HistW).as("est_hi"),
          col(s"ex_$q").as("exact_val"))): _*)))
      .select(col("lang"), col("q"), col("n"), col("bin_est"), col("est_hi"),
        (col("est_hi").cast("long") - col("exact_val")).as("slack"),
        col("exact_val"))
      .orderBy("lang", "q")
  }

  /** Count-min geometry: 4 rows × 256 buckets = 8 KB of counter state.
    * Point-query overestimate ≤ e·N/w per row with prob 1−e^−d — a term-
    * frequency profiler, not a billing counter (same class as [[KmvK]]).
    */
  val CmsD = 4
  val CmsW = 256
  /** Probe set size for [[cmsTermFreq]]: the top terms by exact count. */
  val CmsProbeK = 5

  /** The d salted row-hash buckets of a key — row-local, codegen'd, and
    * mirrored by the oracles via `hexIntSql("'cms' || i || ':' || key")`.
    */
  def cmsBuckets(key: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    array((0 until CmsD).map(i =>
      (md5Long(concat(lit(s"cms$i:"), key.cast("string"))) % CmsW)
        .cast("int")): _*)

  /** Term frequency through a count-min sketch — the frequency-family
    * member of the sketch trio (KMV and HLL answer distinct-count): the
    * corpus aggregates ONCE into a d·w counter matrix (8 KB mergeable
    * state per partition through the shuffle — never a vocabulary-sized
    * map), and each probe term reads the min of its d counters from the
    * broadcast matrix. The probe set is the top-[[CmsProbeK]] terms by
    * exact count; the exact column is the one you delete at 100 TB — it
    * exists so the oracle pins the one-sided error (`overcount >= 0`)
    * value-for-value, since every counter is exact integer counting in
    * both engines.
    */
  def cmsTermFreq(s: SparkSession, dir: String): DataFrame = {
    val toks = t(s, dir, "documents")
      .select(explode(tokens(col("text"))).as("term"))
    val sk = broadcast(
      toks.agg(CmsSketch(cmsBuckets(col("term")), CmsD, CmsW).as("cms")))
    val probes = toks
      .groupBy(col("term"))
      .agg(count(lit(1)).as("exact_freq"))
      .orderBy(col("exact_freq").desc, col("term"))
      .limit(CmsProbeK)
    probes.crossJoin(sk)
      .select(col("term"), cmsProbe.as("est_freq"), col("exact_freq"),
        (cmsProbe - col("exact_freq")).as("overcount"))
      .orderBy("term")
  }

  /** The min-of-d-counters point estimate read from a broadcast `cms`
    * column for the current row's `term` — shared by [[cmsTermFreq]] and
    * [[cmsTopK]] so the probe arithmetic has one definition.
    */
  private def cmsProbe: org.apache.spark.sql.Column =
    least((0 until CmsD).map(i =>
      element_at(col("cms"),
        (md5Long(concat(lit(s"cms$i:"), col("term"))) % CmsW).cast("int")
          + lit(i * CmsW) + lit(1))): _*)

  /** Heavy hitters kept by [[cmsTopK]]. */
  val CmsTopN = 10

  /** Heavy hitters FROM the sketch: rank the entire vocabulary by its
    * count-min estimate and keep the top [[CmsTopN]] — the
    * decision-from-the-sketch complement of [[cmsTermFreq]] (which probes
    * terms already chosen by exact count). Deterministic because CMS
    * counters are order-insensitive integer sums: the (est DESC, term)
    * ranking is identical in any engine, no matter how partitions merged.
    *
    * Scale shape: the corpus reduces ONCE into the 8 KB counter matrix
    * (mergeable across shards/days — the property that lets yesterday's
    * sketch absorb today's without rescanning either corpus); the ranking
    * explodes over the DISTINCT VOCABULARY (the BPE economics — bounded,
    * corpus-growth-independent), probes the broadcast matrix row-locally,
    * and plans as TakeOrderedAndProject (per-partition heaps, never a
    * full sort). The exact count rides along so the oracle pins the
    * one-sided error (`overcount >= 0`) — it is the column you delete at
    * 100 TB, and with it the second token aggregation.
    */
  def cmsTopK(s: SparkSession, dir: String): DataFrame = {
    // two consumers of the exploded token frame (the CMS sketch aggregate
    // + the exact vocab counts) — pinned per the module's single-scan
    // discipline
    val toks = Reuse(t(s, dir, "documents")
      .select(explode(tokens(col("text"))).as("term")))
    val sk = broadcast(
      toks.agg(CmsSketch(cmsBuckets(col("term")), CmsD, CmsW).as("cms")))
    val vocab = toks
      .groupBy(col("term"))
      .agg(count(lit(1)).as("exact_freq"))
    vocab.crossJoin(sk)
      .select(col("term"), cmsProbe.as("est_freq"), col("exact_freq"),
        (cmsProbe - col("exact_freq")).as("overcount"))
      .orderBy(col("est_freq").desc, col("term"))
      .limit(CmsTopN)
  }
}
