package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Reuse
import graft.Tables.{table => t}
import TextHash.tokens

/** In-engine model TRAINING and EVALUATION over the corpus — the tier that
  * closes the quality-model loop the library already scores with
  * ([[TextAnalysis.modelQualityScore]]) and gates with
  * ([[TextAnalysis.calibratedQualityCut]]): train the linear gate from the
  * corpus itself, then measure any scorer against the labels with a full
  * precision/recall sweep. The reference has no model tier (it is an ETL
  * sync — `odgovlt.py:355-407`); this is the north-star brief's
  * "quality scoring" ask taken to its natural end: the label source, the
  * trainer, and the evaluator all run as Spark plans on the same scan.
  *
  * Determinism contract (house rules): features, labels, weights, and
  * update arithmetic are ALL integers — a batch (not online) perceptron is
  * chosen precisely because its epoch update `w += Σ_miss y·x` is an
  * order-insensitive integer sum, so the weight trajectory is
  * engine-exact; an online perceptron's per-row updates would depend on
  * row visit order, which no distributed engine can pin. Ratios in the PR
  * sweep are parts-per-million integer divisions.
  */
object Training {

  /** Epochs for [[perceptronTrain]] — enough for the n_tokens margin to
    * dominate the trajectory on the fixture while keeping the unrolled
    * oracle CTE chain readable.
    */
  val Epochs = 4

  /** Feature names, in weight-vector order: bias, token count, distinct
    * token count, stopword count, summed token length. Integer raw counts
    * (NOT the heuristic's ratios): every threshold rule of the
    * [[TextAnalysis.qualityFilter]] label is a half-plane in these
    * coordinates (`ttr >= 0.1` ⟺ `10·n_types >= n_tokens`), so the label
    * is a finite intersection of half-planes — learnable by a linear
    * model up to the conjunction (a single plane cannot express an AND of
    * several active constraints exactly; on the fixture the `n_tokens`
    * floor dominates, and the spec pins the achieved training error
    * rather than pretending separability).
    */
  val FeatureNames: Seq[String] = Seq("x0", "x1", "x2", "x3", "x4")

  private val stopwordsAny: Seq[Any] = TextAnalysis.stopwordList.map(x => x: Any)

  /** One scan's worth of training rows: integer features + the ±1 label
    * distilled from the hand-written quality gate (the
    * [[TextAnalysis.qualityFilter]] verdict re-derived on the same token
    * projection — one tokenize, both signal families). Row-local, zero
    * shuffle.
    */
  private[graft] def trainingRows(s: SparkSession, dir: String): DataFrame =
    featureFrame(s, dir).drop("toks")

  /** (doc_id, toks, x0..x4, y) — the token projection is retained so
    * [[prCurve]] can hang the hashed score off the SAME scan (Catalyst
    * prunes whatever a consumer leaves unused).
    */
  private def featureFrame(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "documents")
      .withColumn("toks", tokens(col("text")))
      .select(
        col("doc_id"),
        col("toks"),
        lit(1L).as("x0"),
        size(col("toks")).cast("bigint").as("x1"),
        size(array_distinct(col("toks"))).cast("bigint").as("x2"),
        size(filter(col("toks"), w => w.isin(stopwordsAny: _*)))
          .cast("bigint").as("x3"),
        aggregate(col("toks"), lit(0L), (acc, w) => acc + length(w))
          .as("x4"))
    // the qualityFilter thresholds, cross-multiplied onto the integer
    // features so the label derivation itself is engine-exact (no ratio
    // roundings): too_short x1<10; repetitive 10·x2<x1; no_stopwords
    // 100·x3<x1; filler 10·x3>6·x1; fragmented x4<2·x1; unnatural x4>12·x1.
    // Equivalent to the gate's round(ratio, 6) comparisons for any corpus
    // with n_tokens < 2·10^4: a count ratio sits at least 1/(100·n_tokens)
    // > 5·10^-7 from the tightest band edge (the 1/100 stopword floor)
    // unless exactly ON it, so the 6-dp rounding shift cannot carry a
    // value across a threshold (TrainingSpec pins label ≡ verdict
    // row-for-row on the fixture)
    val kept = col("x1") >= 10 && col("x1") <= 100000 &&
      col("x2") * 10 >= col("x1") &&
      col("x3") * 100 >= col("x1") &&
      col("x3") * 10 <= col("x1") * 6 &&
      col("x4") >= col("x1") * 2 &&
      col("x4") <= col("x1") * 12
    base.select(col("doc_id") +: col("toks") +: FeatureNames.map(col) :+
      when(kept, 1L).otherwise(-1L).as("y"): _*)
  }

  /** Batch-perceptron training loop — `Epochs` rounds of
    * `w ← w + Σ_{y·(w·x) ≤ 0} y·x` from w = 0, emitting one row per epoch:
    * the misclassified count UNDER the pre-update weights (the count that
    * drove that epoch's update) and the weights AFTER it. Every epoch is
    * ONE aggregation over the cached feature frame (sums and count in the
    * same pass, map-side partial combine); the learned weight vector is a
    * 1-row scalar artifact collected per round — the frozen-centroid
    * convention ([[Similarity]]'s k-row collect), NOT a driver-side loop
    * over data rows. At 100 TB the feature frame is a narrow cached
    * projection and each epoch is one scan of it; weights stay KBs.
    *
    * Overflow headroom: |w_j| grows ≤ epochs·Σ|x_j| ≤ 4·(docs·max_x);
    * with max_x ~ 5·10² this stays under 2⁶³ through ~10⁹ documents, and
    * the (w·x) probe adds one more 10³ factor — still clear. Beyond that
    * the same plan lifts to DECIMAL(38,0) unchanged.
    */
  def perceptronTrain(s: SparkSession, dir: String): DataFrame = Reuse.released {
    val rows = Reuse(trainingRows(s, dir))
    var w = Vector.fill(FeatureNames.size)(0L)
    val hist = (1 to Epochs).map { epoch =>
      val wx = FeatureNames.zip(w)
        .map { case (f, wj) => col(f) * lit(wj) }
        .reduce(_ + _)
      val miss = col("y") * wx <= 0
      val aggs = count(when(miss, lit(1))).as("n_miss") +:
        FeatureNames.map(f => coalesce(sum(when(miss, col("y") * col(f))),
          lit(0L)).as(s"d_$f"))
      // 1-row scalar collect per epoch: the weight vector is a model
      // artifact (same class as the frozen centroid table), not data
      val r = rows.agg(aggs.head, aggs.tail: _*).collect()(0)
      val nMiss = r.getLong(0)
      w = w.zipWithIndex.map { case (wj, j) => wj + r.getLong(j + 1) }
      (epoch, nMiss, w)
    }
    val out = hist.map { case (e, nm, wv) => (e, nm, wv(0), wv(1), wv(2), wv(3), wv(4)) }
    import s.implicits._
    out.toDF("epoch", "n_miss", "w0", "w1", "w2", "w3", "w4")
      .orderBy("epoch")
  }

  /** Parts-per-million scale for the PR sweep's integer ratios. */
  val Ppm = 1000000L

  /** Precision/recall/F1 sweep of the hashed quality model
    * ([[TextAnalysis.modelQualityScore]]'s raw integer score) against the
    * heuristic-gate labels — one PR-curve point per DISTINCT score,
    * thresholding at `raw_score >= thr` (descending sweep: row k of the
    * curve classifies the top-k scored documents positive). All three
    * ratios are integer parts-per-million divisions
    * (`F1 = 2·tp/(k+P)` — denominators never zero: k ≥ 1 and the fixture
    * has positives; a labelless corpus has no curve to draw).
    *
    * Scale shape: the corpus contributes ONE row-local scoring/labeling
    * scan and ONE groupBy(raw_score) aggregation (map-side combine; one
    * row per distinct score through the shuffle). The cumulative sweep
    * then runs on the O(distinct scores) aggregate — that frame is
    * bounded by score cardinality, not corpus size, so its
    * single-partition global-order window is a deliberate small-frame
    * plan (the [[Sketches.histQuantiles]] economics), not a corpus sort.
    */
  def prCurve(s: SparkSession, dir: String): DataFrame = {
    val weightsLit = array(TextAnalysis.modelWeights.map(w => lit(w)): _*)
    // score and label ride ONE scan (a doc_id self-join of two corpus
    // scans would shuffle the corpus twice for row-local signals)
    val byScore = featureFrame(s, dir)
      .select(
        graft.functions.HashedScore(col("toks"), weightsLit,
          TextAnalysis.ModelSalt).as("raw_score"),
        when(col("y") > 0, 1L).otherwise(0L).as("pos"))
      .groupBy(col("raw_score")).agg(
        count(lit(1)).as("n"), sum(col("pos")).as("np"))
    val wo = Window.orderBy(col("raw_score").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byScore
      .withColumn("k", sum(col("n")).over(wo))
      .withColumn("tp", sum(col("np")).over(wo))
      .withColumn("p", sum(col("np")).over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .select(
        col("raw_score").as("thr"), col("k"), col("tp"),
        (col("k") - col("tp")).as("fp"),
        // BIGINT `div` (not `/`, which widens to double and rounds a
        // >2^53 numerator before dividing — the interpFill lesson)
        expr(s"(tp * $Ppm) div k").as("precision_ppm"),
        expr(s"(tp * $Ppm) div p").as("recall_ppm"),
        expr(s"(tp * 2 * $Ppm) div (k + p)").as("f1_ppm"))
      .orderBy(col("thr").desc)
  }
}
