package graft

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel.NONE
import org.scalatest.funsuite.AnyFunSuite

class ReuseSpec extends AnyFunSuite with SharedSpark {

  private def frame(n: Long) =
    spark.range(n).select((col("id") % 7).as("k"), col("id"))

  test("a frame cached before the scope stays cached after it") {
    val owned = frame(100).cache()
    Reuse.released(assert(Reuse(owned).count() == 100))
    assert(owned.storageLevel != NONE)
    owned.unpersist()
  }

  test("a frame pinned inside the scope is released; frames built on it still answer") {
    spark.catalog.clearCache()
    val grouped = Reuse.released {
      val pinned = Reuse(frame(200))
      assert(pinned.storageLevel != NONE)
      pinned.groupBy("k").count()
    }
    assert(spark.sharedState.cacheManager.isEmpty)
    val expected = frame(200).groupBy("k").count()
    assert(grouped.orderBy("k").collect().toSeq == expected.orderBy("k").collect().toSeq)
  }

  test("outside a scope a pin sets the level cache() sets") {
    val viaCache = frame(50).filter(col("k") === 1).cache()
    val level = viaCache.storageLevel
    viaCache.unpersist(blocking = true)
    val pinned = Reuse(frame(50).filter(col("k") === 1))
    assert(pinned.storageLevel == level && level != NONE)
    pinned.unpersist()
  }
}
