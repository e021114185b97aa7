package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** [[Metrics]] charges each job group exactly its own tasks, and a read
  * right after an action already holds every task of it.
  */
class MetricsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  private var metrics: Metrics = _

  override def beforeAll(): Unit = metrics = Metrics.attach(spark.sparkContext)
  override def afterAll(): Unit = spark.stop()

  /** `spark.range(n).repartition(parts)` to the noop sink under group `g`. */
  private def shuffle(g: String, n: Long, parts: Int): Unit = {
    spark.sparkContext.setJobGroup(g, g)
    try spark.range(n).repartition(parts).write.format("noop").mode("overwrite").save()
    finally spark.sparkContext.clearJobGroup()
  }

  test("a repartition in a job group reports its shuffle rows and tasks") {
    shuffle("one", 1000, 4)
    val g = metrics.take("one")
    assert(g.counters.shuffleWriteRows == 1000)
    assert(g.counters.shuffleReadRows == 1000)
    assert(g.counters.tasks > 0)
    assert(g.jobs > 0 && g.stages.nonEmpty)
    assert(g.stages.map(_.counters.tasks).sum == g.counters.tasks)
    assert(g.stages.forall(_.spanMs >= 0), g.stages)
  }

  test("a second group's tasks are not charged to the first") {
    shuffle("first", 1000, 4)
    shuffle("second", 300, 2)
    spark.range(50).repartition(3).write.format("noop").mode("overwrite").save()
    val first = metrics.take("first")
    val second = metrics.take("second")
    assert(first.counters.shuffleWriteRows == 1000)
    assert(second.counters.shuffleWriteRows == 300)
    assert(first.stages.map(_.id).intersect(second.stages.map(_.id)).isEmpty)
    // a group is forgotten once read
    assert(metrics.take("first") == Metrics.Group(0, 0L, Nil))
  }

  test("a read right after the action holds every task: the bus is drained") {
    // a slow listener on the same queue holds the collector's task events
    // back well past the action's return
    val slow = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Thread.sleep(25)
    }
    spark.sparkContext.addSparkListener(slow)
    try (1 to 5).foreach { i =>
      shuffle(s"drain$i", 1000, 4)
      val c = metrics.take(s"drain$i").counters
      assert(c.shuffleWriteRows == 1000 && c.shuffleReadRows == 1000, s"run $i: $c")
    }
    finally spark.sparkContext.removeSparkListener(slow)
  }
}
