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
  * An eager loop that pins frames for the length of one call (the graph
  * and component fixpoints, MMR and perceptron training) runs inside
  * [[released]], so a frame its caller already pinned stays pinned and a
  * throw mid-loop still releases; BPE training's rolling vocabulary
  * releases each generation as the next one materializes.
  */
object Reuse {

  private val scope = new DynamicVariable[Option[ArrayBuffer[Dataset[_]]]](None)

  /** Pin `df` and return it. A frame that is already cached is returned
    * as it is: it stays its owner's, and [[released]] does not release it.
    */
  def apply[T](df: Dataset[T]): Dataset[T] =
    if (df.storageLevel != StorageLevel.NONE) df
    else {
      scope.value.foreach(_ += df)
      df.cache()
    }

  /** Run `body`, then unpersist, newest first, what it pinned. */
  def released[A](body: => A): A = {
    val pinned = ArrayBuffer.empty[Dataset[_]]
    try scope.withValue(Some(pinned))(body)
    finally pinned.reverseIterator.foreach(_.unpersist())
  }
}
