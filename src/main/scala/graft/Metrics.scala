package graft

import org.apache.spark.SparkContext
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.graftbridge.GraftBridge
import scala.collection.mutable

/** Engine counters per job group, the library's one `SparkListener`. A
  * caller runs its actions under `setJobGroup(g, ...)` and then [[take]]s
  * `g`: the jobs, the stages they submitted and the task metrics of those
  * stages, summed and per stage. A stage is charged to the group it was
  * submitted under, so a later group that reuses its shuffle output (a
  * skipped stage) is not charged for it again. Actions outside any group
  * are not recorded.
  */
final class Metrics private (sc: SparkContext) extends SparkListener {
  import Metrics._

  private final class Rec(val group: String, val id: Int, val name: String) {
    var spanMs = -1L
    var counters = Counters()
  }

  private val stages = mutable.Map.empty[(Int, Int), Rec]
  // job id -> (group, start, end), event times in ms
  private val jobs = mutable.Map.empty[Int, (String, Long, Long)]

  private def groupOf(p: java.util.Properties): Option[String] =
    Option(p).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    groupOf(e.properties).foreach(g => jobs(e.jobId) = (g, e.time, e.time))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { case (g, start, _) => jobs(e.jobId) = (g, start, e.time) }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val si = e.stageInfo
    groupOf(e.properties).foreach { g =>
      stages((si.stageId, si.attemptNumber())) = new Rec(g, si.stageId, si.name)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    stages.get((si.stageId, si.attemptNumber())).foreach { r =>
      r.spanMs = (for (s <- si.submissionTime; c <- si.completionTime) yield c - s)
        .getOrElse(-1L)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.taskMetrics != null) stages.get((e.stageId, e.stageAttemptId))
      .foreach(r => r.counters += Counters.of(e.taskMetrics))
  }

  /** `group`'s metrics, forgotten once read. Events are delivered to a
    * listener asynchronously, so the bus is drained first: every task of
    * an action that has returned is counted.
    */
  def take(group: String): Group = {
    GraftBridge.drain(sc)
    synchronized {
      val mine = stages.filter(_._2.group == group)
      val myJobs = jobs.filter(_._2._1 == group)
      stages --= mine.keys
      jobs --= myJobs.keys
      val spans = myJobs.values
      val wall = if (spans.isEmpty) 0L else spans.map(_._3).max - spans.map(_._2).min
      Group(myJobs.size, wall, mine.values.toSeq.sortBy(_.id)
        .map(r => Stage(r.id, r.name, r.spanMs, r.counters)))
    }
  }
}

object Metrics {

  /** Summed task metrics. Times are executor-side; `spillBytes` is what
    * spilled to disk.
    */
  final case class Counters(tasks: Long = 0, runMs: Long = 0, cpuNs: Long = 0,
      gcMs: Long = 0, inputBytes: Long = 0, shuffleReadBytes: Long = 0,
      shuffleReadRows: Long = 0, shuffleWriteBytes: Long = 0,
      shuffleWriteRows: Long = 0, spillBytes: Long = 0) {
    def +(o: Counters): Counters = Counters(tasks + o.tasks, runMs + o.runMs,
      cpuNs + o.cpuNs, gcMs + o.gcMs, inputBytes + o.inputBytes,
      shuffleReadBytes + o.shuffleReadBytes, shuffleReadRows + o.shuffleReadRows,
      shuffleWriteBytes + o.shuffleWriteBytes,
      shuffleWriteRows + o.shuffleWriteRows, spillBytes + o.spillBytes)

    def fields: Seq[(String, Any)] = Seq("tasks" -> tasks, "run_ms" -> runMs,
      "cpu_ms" -> cpuNs / 1000000L, "gc_ms" -> gcMs, "input_bytes" -> inputBytes,
      "shuffle_read_bytes" -> shuffleReadBytes,
      "shuffle_read_rows" -> shuffleReadRows,
      "shuffle_write_bytes" -> shuffleWriteBytes,
      "shuffle_write_rows" -> shuffleWriteRows, "spill_bytes" -> spillBytes)
  }

  object Counters {
    def of(m: TaskMetrics): Counters = Counters(1, m.executorRunTime,
      m.executorCpuTime, m.jvmGCTime, m.inputMetrics.bytesRead,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.recordsRead,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten,
      m.diskBytesSpilled)
  }

  /** One stage: its wall span from submission to completion (-1 if it
    * never completed), its name and its counters.
    */
  final case class Stage(id: Int, name: String, spanMs: Long, counters: Counters) {
    def json: Map[String, Any] = Json.obj(
      Seq("stage" -> id, "span_ms" -> spanMs) ++ counters.fields :+
        ("name" -> name.take(60)): _*)
  }

  /** One group: its job count, the span from its first job's start to its
    * last job's end, and its stages.
    */
  final case class Group(jobs: Int, wallMs: Long, stages: Seq[Stage]) {
    def counters: Counters = stages.map(_.counters).foldLeft(Counters())(_ + _)
    def fields: Seq[(String, Any)] =
      Seq("jobs" -> jobs, "stages" -> stages.size, "wall_ms" -> wallMs) ++
        counters.fields
  }

  /** A collector registered on `sc`'s listener bus. */
  def attach(sc: SparkContext): Metrics = {
    val m = new Metrics(sc)
    sc.addSparkListener(m)
    m
  }
}
