package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Catalyst-Expression bridge. `ExpressionUtils` is private[sql],
  * so the graft library reaches it through this one-file subpackage of
  * `org.apache.spark.sql` — the established pattern for libraries that ship
  * native expressions (the alternative, a SQL-string round-trip per call,
  * would defeat the point of a codegen'd expression). The listener bus's
  * drain and the CacheManager's entry count are reached the same way.
  */
object GraftBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Re-bind a DataFrame's plan to another session of the SAME
    * SparkContext — the supported way to run a plan under a private SQLConf
    * (`spark.newSession()`) without mutating the caller's session. Uses the
    * ANALYZED plan: temp views and other catalog references are already
    * resolved in it, so re-binding cannot re-resolve them against the
    * target session's (empty) temp-view catalog; execution picks up the
    * target session's conf.
    */
  def rebind(spark: org.apache.spark.sql.SparkSession,
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      df.queryExecution.analyzed)

  /** Block until every event already posted to `sc`'s listener bus has
    * been delivered (`listenerBus` is private[spark]).
    */
  def drain(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** How many frames are cached in `spark`'s CacheManager (private[sql]). */
  def cachedEntries(spark: org.apache.spark.sql.SparkSession): Int =
    spark.sharedState.cacheManager.numCachedEntries
}
