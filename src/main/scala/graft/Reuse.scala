package graft

import org.apache.spark.sql.Dataset
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable.ArrayBuffer
import scala.util.DynamicVariable

/** The one cache policy of the operator library: a frame that an
  * operator's returned plan reads more than once is pinned with [[apply]].
  * Outside a scope a pin is `df.cache()`, left for the caller (Bench,
  * Verify) to clear. Inside [[released]] every pin is unpersisted when the
  * body returns — what [[GraftCatalog.register]] needs, since its views
  * outlive any caller that could clear them. `cache()` never changes a
  * logical plan, so a view plans the same after the release, uncached.
  *
  * Eager loops that cache and unpersist inside one function (the graph
  * and component fixpoints, MMR, BPE and perceptron training,
  * `SyncJob.applyActions`, `HttpSource.load`) release their own frames.
  */
object Reuse {

  private val scope = new DynamicVariable[Option[ArrayBuffer[Dataset[_]]]](None)

  /** Pin `df` and return it. Inside [[released]], a frame that was
    * already cached stays its owner's and is not released.
    */
  def apply[T](df: Dataset[T]): Dataset[T] = {
    scope.value.foreach { pinned =>
      if (df.storageLevel == StorageLevel.NONE) pinned += df
    }
    df.cache()
  }

  /** Run `body`, then unpersist, newest first, what it pinned. */
  def released[A](body: => A): A = {
    val pinned = ArrayBuffer.empty[Dataset[_]]
    try scope.withValue(Some(pinned))(body)
    finally pinned.reverseIterator.foreach(_.unpersist())
  }
}
