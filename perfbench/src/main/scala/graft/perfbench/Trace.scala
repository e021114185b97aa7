package graft.perfbench

import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Driver-side spans around the layer calls the benchmark makes. A span
  * is recorded only while [[on]] is set (a traced layer call); otherwise
  * `span` costs one branch. Spans live in memory and are written once, at
  * exit.
  */
final class Spans(runId: String) {
  import Spans.Span

  var on = false
  private val done = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var nextId = 0

  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack.push(id)
      val t0 = System.nanoTime()
      try body
      finally {
        stack.pop()
        done += Span(id, parent, name, t0, System.nanoTime())
      }
    }

  /** Per span name: total time minus the time of its direct children. */
  def selfSeconds: Map[String, Double] = {
    val childNs = done.groupBy(_.parent).view
      .mapValues(_.map(s => s.endNs - s.startNs).sum).toMap
    done.groupBy(_.name).view.mapValues(_.map { s =>
      (s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)) / 1e9
    }.sum).toMap
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = done.sortBy(_.startNs).map(s => Json.write(ListMap("run" -> runId, "id" -> s.id,
      "parent" -> s.parent, "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}

object Spans {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)
}

/** Engine counters per job group — the benchmark sets one job group per
  * harvest phase, catalog query or twin replay, so every task is charged to the layer
  * call that launched it. Registered only in the traced run, where a job
  * group is set only around a traced layer call.
  */
final class GroupMetrics extends SparkListener {
  final class Acc {
    var tasks = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleWriteBytes = 0L
    var inputBytes = 0L
  }

  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val accs = mutable.Map.empty[String, Acc]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach(group => e.stageIds.foreach(id => stageGroup.put(id, group)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val group = stageGroup.get(e.stageId)
    val m = e.taskMetrics
    if (group != null && m != null) synchronized {
      val a = accs.getOrElseUpdate(group, new Acc)
      a.tasks += 1
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.inputBytes += m.inputMetrics.bytesRead
    }
  }

  /** Totals for `group` once every posted event has been delivered. */
  def totals(sc: SparkContext, group: String): Acc = {
    org.apache.spark.graftperf.Bus.drain(sc)
    synchronized(accs.getOrElse(group, new Acc))
  }
}

/** The benchmark's JSON reading and writing, with Scala collections. */
object Json {
  val mapper: com.fasterxml.jackson.databind.json.JsonMapper =
    com.fasterxml.jackson.databind.json.JsonMapper.builder()
      .addModule(com.fasterxml.jackson.module.scala.DefaultScalaModule).build()

  def write(v: Any): String = mapper.writeValueAsString(v)
}
