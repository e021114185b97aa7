package org.apache.spark.graftperf

import org.apache.spark.SparkContext

/** Reaches the listener bus's drain, which Spark keeps package-private:
  * listener events are delivered asynchronously, so counters read right
  * after an action can miss its last tasks.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
