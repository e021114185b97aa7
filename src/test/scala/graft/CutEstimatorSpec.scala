package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.TextAnalysis

/** The exact-vs-sketch contract of the calibrated quality cut: the
  * approx_percentile path must reach the same keep verdicts as the exact
  * percentile path on the fixture corpus, behind the same two-pass plan
  * shape (scalar reduce → broadcast back → scan-speed verdict). The DuckDB
  * oracle pins the approx path's VALUES (quantile_disc picks the same rank
  * element); this spec pins its equivalence to the exact semantics.
  */
class CutEstimatorSpec extends AnyFunSuite with SharedSpark {

  private val dir = "/root/testdata/sf0.001"

  test("approx verdicts equal exact verdicts except exactly on the discrete boundary") {
    // the continuous quantile interpolates PAST the discrete P25 element
    // whenever rank q*(n-1)+1 is fractional, so the only legal divergence
    // is docs sitting exactly ON the discrete cutoff element: approx keeps
    // them, exact drops them. Anything else is sketch error — forbidden.
    val exact = TextAnalysis.calibratedQualityCut(spark, dir)
      .select(col("doc_id"), col("keep").as("keep_exact"))
    val approx = TextAnalysis.approxQualityCut(spark, dir)
      .select(col("doc_id"), col("raw_score"),
        col("cutoff").as("cut_approx"), col("keep").as("keep_approx"))
    val joined = exact.join(approx, "doc_id").cache()
    // approx is never more aggressive: exact-kept implies approx-kept
    assert(joined.filter(col("keep_exact") && !col("keep_approx")).count() == 0,
      "the sketch cut dropped a document the exact cut keeps")
    // every divergence sits exactly on the discrete cutoff element
    val badDivergence = joined
      .filter(col("keep_approx") =!= col("keep_exact"))
      .filter(col("raw_score") =!= col("cut_approx"))
    assert(badDivergence.count() == 0,
      "a verdict diverged away from the discrete-quantile boundary — sketch error")
    joined.unpersist()
  }

  test("approx cutoff is the discrete P25 element of the score distribution") {
    // derived from the SAME constant the production cut uses — changing
    // TextAnalysis.CutPercentile re-derives this expectation, and the
    // q_quality_cut_approx DuckDB oracle (quantile_disc at the same q) must
    // be re-checked against the ceil(q*n) rank alignment asserted here
    val q = TextAnalysis.CutPercentile
    val scores = TextAnalysis.modelQualityScore(spark, dir)
      .select(col("raw_score")).collect().map(_.getLong(0)).sorted
    val expected = scores(math.ceil(q * scores.length).toInt - 1)
    val got = TextAnalysis.approxQualityCut(spark, dir)
      .select(col("cutoff")).head().getLong(0)
    assert(got == expected,
      s"approx cutoff $got is not the rank-ceil(q*n) element $expected")
  }

  test("approx path keeps the exact path's plan shape: scalar broadcast, no sort-merge") {
    val p = TextAnalysis.approxQualityCut(spark, dir)
      .queryExecution.executedPlan.toString
    assert(p.contains("approx_percentile"),
      s"the sketch aggregate must be in the plan:\n${p.take(1200)}")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"the cutoff must come back as a broadcast scalar:\n${p.take(1200)}")
    assert(!p.contains("SortMergeJoin"))
  }
}
