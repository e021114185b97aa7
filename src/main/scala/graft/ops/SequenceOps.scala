package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.streaming.StreamOps

/** Event-sequence analytics (SURVEY.md "beyond" tier, the behavioral
  * complement to [[AnalyticsOps.funnelStages]]): Markov transition
  * structure and per-session path mining over the per-user event streams.
  */
object SequenceOps {
  import graft.Tables.{table => t}

  /** First-order Markov transition counts and probabilities between
    * consecutive event types per user stream. The lag window and the pair
    * aggregation shuffle once each on bounded keys (user, then the tiny
    * type-pair space); the per-source totals broadcast back, and each
    * probability is ONE division of two exact counts — IEEE-identical in
    * any engine.
    */
  def seqTransitions(s: SparkSession, dir: String): DataFrame = {
    // order by shared-precision epoch micros (the j8/j9 convention), not
    // the raw timestamp — engines that keep different sub-micro precision
    // would otherwise disagree on the sequence order
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val pairs = t(s, dir, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("event_type"))
      .withColumn("src", lag(col("event_type"), 1).over(w))
      .filter(col("src").isNotNull)
      .select(col("src"), col("event_type").as("dst"))
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("n"))
    val totals = pairs.groupBy(col("src")).agg(sum(col("n")).as("tot"))
    pairs.join(broadcast(totals), "src")
      .select(col("src"), col("dst"), col("n"),
        (col("n").cast("double") / col("tot").cast("double")).as("prob"))
      .orderBy("src", "dst")
  }

  /** Top paths to keep. */
  val PathTopK = 20

  /** Session path mining: sessionize each user stream by
    * [[StreamOps.sessionId]] (the `q_w3_sessionize` gap rule), join each
    * session's event types in (ts, event_id) order into a path string, and
    * count the most frequent paths.
    *
    * Shape: the session window and the per-session collapse share one
    * user shuffle; paths aggregate map-side-combined on the path string;
    * the final top-K is a TakeOrdered merge, not a full sort. The
    * in-session ordering rides an `array_sort` over (us, event_id, type)
    * structs — deterministic because the sort key is unique per row, and
    * in shared-precision epoch micros (the j8/j9 convention) so both
    * engines sequence sub-millisecond data identically.
    */
  def sessionPaths(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("session_id", StreamOps.sessionId)
      .groupBy(col("user_id"), col("session_id"))
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col("us"), col("event_id"),
            col("event_type")))),
          x => x.getField("event_type")), ">").as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path").asc)
      .limit(PathTopK)
}
