package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.ActionSink

/** The benchmark's JVM side: one workload in one `local[N]` session.
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --data <table dir> --work <scratch dir> --cpus <N>
  *        --pins <file> --expected-keys <file> --deadline <s>
  *
  * Set-up (session, stub, seeding, warm-up cycles) is timed apart from
  * the measured cycles, which repeat until `--seconds` have passed and
  * the workload's fewest cycles ran. On a machine slow enough that the
  * next cycle would end after `--deadline` seconds of JVM uptime, the
  * cycles stop early instead (never below one, or two in a traced run),
  * so a run ends with its result rather than being killed. Every
  * harvest cycle and stream replay is checked, and each query once, in the
  * warm-up pass; the last stdout line is one JSON object with the metrics,
  * the check verdicts and the session conf. See [[Bench]] for the traced
  * run.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, data: String, work: String, cpus: Int,
      pins: Option[String], expectedKeys: Option[String], deadlineS: Double)

  def parseArgs(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("data"), need("work"), need("cpus").toInt,
      Some(need("pins")), Some(need("expected-keys")), need("deadline").toDouble)
  }

  def main(argv: Array[String]): Unit = {
    val a = parseArgs(argv)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    CkanStub.enableNoDelay()
    Files.createDirectories(Paths.get(a.work))
    val spark = session(a)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val result = try new Bench(spark, a).run(sessionS) finally spark.stop()
    println(result)
  }

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  val Workloads: Seq[String] = Seq("harvest_resync", "catalog_stream")

  /** Eight light, harvester-shaped declared queries. */
  val LightQueries: Seq[String] = Seq("q_p4_package_doc", "q_p4_package_flat",
    "q_sync_errors", "q_j5_tree", "q_j3_bridge_groups", "q_sf3_slug_truncate",
    "q_a7c_nested_diff", "q_s4_point_lookup")

  /** The seeded pass order over a query mix. */
  def queryOrder(seed: Long, names: Seq[String]): Seq[String] =
    new scala.util.Random(seed).shuffle(names)

  val HarvestPhases: Seq[String] =
    Seq("gather", "import", "assemble", "readback", "classify", "push")
  val Twins: Seq[String] = Seq("import_errors", "tumbling_counts", "interval_join")
}

/** Cycle times, step times and per-cycle values of one run. */
final class Recorder {
  val cycles = mutable.ArrayBuffer.empty[Double]
  val steps = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val values = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  def step(name: String, sec: Double): Unit =
    steps.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += sec
  def put(name: String, v: Double): Unit =
    values.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  def med(name: String): Double =
    values.get(name).map(v => Stats.median(v.toSeq)).getOrElse(0.0)
  def stepMed(name: String): Double =
    steps.get(name).map(v => Stats.median(v.toSeq)).getOrElse(0.0)
  def clear(): Unit = { cycles.clear(); steps.clear(); values.clear() }
}

/** Operations attempted and failed, and the verdict of every check. An
  * operation — a harvest cycle, a query execution, a twin replay — fails
  * when it throws or when a check made inside it fails.
  */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  val checks = mutable.LinkedHashMap.empty[String, Boolean]
  val errors = mutable.ArrayBuffer.empty[String]
  private var opFailed = false

  def check(name: String, ok: Boolean, detail: => String): Boolean = {
    if (!ok) {
      opFailed = true
      errors += s"$name: $detail".take(500)
    }
    checks(name) = checks.getOrElse(name, true) && ok
    ok
  }

  /** Run `body` as one operation; None if it threw or a check failed. */
  def attempt[A](name: String)(body: => A): Option[A] = {
    attempted += 1
    opFailed = false
    val r = try Some(body) catch {
      case e: Throwable =>
        checks(name) = false
        errors += s"$name: ${e.getClass.getName}: ${e.getMessage}".take(500)
        opFailed = true
        None
    }
    if (opFailed) failed += 1
    r.filter(_ => !opFailed)
  }
}

/** [[ActionSink]] decorator that times each verb on the driver, as a
  * child span of the `push` layer call when that call is traced.
  */
final class TimedSink(inner: ActionSink, @transient private val b: Bench,
    @transient private val record: (String, Double) => Unit) extends ActionSink {
  private def timed(verb: String)(body: => Unit): Unit = {
    val t0 = b.now()
    b.span(s"push.$verb")(body)
    record(verb, b.since(t0))
  }
  override def create(df: DataFrame): Unit = timed("create")(inner.create(df))
  override def update(df: DataFrame): Unit = timed("update")(inner.update(df))
  override def delete(df: DataFrame): Unit = timed("delete")(inner.delete(df))
}

/** One workload as the runner drives it. */
trait Workload {
  /** The repeatable part of set-up (stub start, seeding, footer reads). */
  def prepare(): Unit
  /** The one-off part of set-up, ending with warm-up cycles. */
  def warmUp(): Unit
  /** One measured cycle: its wall time, or None if it failed. */
  def cycle(i: Int): Option[Double]
  /** Fewest measured cycles. */
  def minCycles: Int
  /** The layer calls of a cycle, in order; their medians make `step_geomean_s`. */
  def steps: Seq[String]
  /** Per-layer metrics over the traced steps. */
  def layers: Map[String, Double]
  /** Drop the warm-up's samples kept outside the recorders. */
  def clearSamples(): Unit = ()
  def close(): Unit = ()
}

/** Runs one workload of a [[Bench]]'s session and reports it.
  *
  * With `--trace 1` the job-group listener is registered before the
  * measured cycles and tracing alternates step by step: step j of cycle i
  * is traced (a job group and a span) when i + j is odd. Every step then
  * runs both ways, and half of the steps run traced first, so the JIT's
  * warm-up trend falls on both sides; `trace.overhead_frac` is the traced
  * over the untraced geometric mean of the step medians, minus 1. The
  * per-layer figures come from the traced steps. Before those cycles, the
  * layers this workload does not exercise are measured too: the other
  * workload is set up (with its checked warm-up) and runs one cycle, every
  * step traced.
  */
final class Bench(val spark: SparkSession, val a: Main.Args) {
  import Main._

  val sc = spark.sparkContext
  private val runId = f"${a.workload}-${a.seed}-${System.currentTimeMillis()}%x"
  private val spans = new Spans(runId)
  private var listener: GroupMetrics = _
  val out = new Outcome
  /** Cycle times, untraced step times and per-cycle values. */
  val rec = new Recorder
  /** Step times of the traced steps. */
  val traced = new Recorder
  private var tracedStep: String => Boolean = _ => false
  /** The workload's own cycle times and step medians, for the run record. */
  private var ownCycles: Map[String, Any] = Map.empty

  private def keepOwnCycles(): Unit = ownCycles = Map(
    "cycle_s" -> rec.cycles.toList,
    "step_median_s" -> Map(
      "untraced" -> rec.steps.keys.map(n => n -> rec.stepMed(n)).toMap,
      "traced" -> traced.steps.keys.map(n => n -> traced.stepMed(n)).toMap))

  /** `--deadline` on the `nanoTime` clock: that many seconds of JVM uptime. */
  private val deadlineNs = System.nanoTime() + ((a.deadlineS * 1000 -
    java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime) * 1e6).toLong

  def now(): Long = System.nanoTime()
  def since(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** A span, when the enclosing layer call is traced. */
  def span[A](name: String)(body: => A): A = spans.span(name)(body)

  /** One layer call: timed always; a span and a job group when traced. */
  def layer[A](name: String)(body: => A): A = {
    val on = tracedStep(name)
    val t0 = now()
    if (on) sc.setJobGroup(name, name, interruptOnCancel = false)
    spans.on = on
    try spans.span(name)(body)
    finally {
      spans.on = false
      if (on) sc.clearJobGroup()
      (if (on) traced else rec).step(name, since(t0))
    }
  }

  /** Engine counters of one job group over its traced steps: means per
    * step, and CPU use as a share of the steps' wall time × N cores.
    */
  def sparkLayer(prefix: String, group: String): Map[String, Double] = {
    val t = listener.totals(sc, group)
    val walls = traced.steps.get(group).map(_.toSeq).getOrElse(Seq.empty)
    val n = walls.size.max(1).toDouble
    val wallS = walls.sum
    Map(s"$prefix.tasks" -> t.tasks / n,
      s"$prefix.cpu_s" -> t.cpuNs / 1e9 / n,
      s"$prefix.gc_s" -> t.gcMs / 1e3 / n,
      s"$prefix.shuffle_write_bytes" -> t.shuffleWriteBytes / n,
      s"$prefix.input_bytes" -> t.inputBytes / n,
      s"$prefix.cpu_util" -> (if (wallS > 0) t.cpuNs / 1e9 / (wallS * a.cpus) else 0.0))
  }

  private def workload(name: String): Workload = name match {
    case "harvest_resync" => new Harvest(this)
    case "catalog_stream" =>
      new Both(new Catalog(this, queryOrder(a.seed, LightQueries)), new Stream(this))
    case other => sys.error(s"unknown workload $other")
  }

  /** Cycles until `budgetS` has passed and at least `minCycles` ran, but
    * past `hardMin` cycles none that would end after the deadline (judged
    * by the last cycle's length); `tracedIn(i)` picks the traced steps of
    * cycle i.
    */
  private def loop(w: Workload, budgetS: Double, minCycles: Int, hardMin: Int)(
      tracedIn: Int => String => Boolean): Unit = {
    val t0 = now()
    var i = 0
    var lastNs = 0L
    while ((i < minCycles || since(t0) < budgetS) && (i < hardMin || now() + lastNs < deadlineNs)) {
      tracedStep = tracedIn(i)
      val c0 = now()
      w.cycle(i).foreach(rec.cycles += _)
      lastNs = now() - c0
      i += 1
    }
    tracedStep = _ => false
  }

  /** The per-layer metrics of a traced run, or None if a part of it had
    * no good cycle. The other workload goes first, so that the deadline
    * bounds only this workload's cycles.
    */
  private def tracedLayers(w: Workload): Option[Map[String, Double]] = {
    listener = new GroupMetrics
    sc.addSparkListener(listener)
    val otherLayers = {
      val other = workload(Workloads.filterNot(_ == a.workload).head)
      try {
        other.prepare()
        other.warmUp()
        rec.clear()
        other.clearSamples()
        loop(other, 0, 1, 1)(_ => _ => true)
        if (rec.cycles.isEmpty) None else Some(other.layers)
      } finally {
        other.close()
        rec.clear()
      }
    }

    val index = w.steps.zipWithIndex.toMap
    otherLayers.flatMap { theirs =>
      loop(w, a.seconds, w.minCycles.max(2), 2)(i => step => (i + index(step)) % 2 == 1)
      keepOwnCycles()
      val bothWays = w.steps.forall(s => rec.steps.contains(s) && traced.steps.contains(s))
      if (rec.cycles.isEmpty || !bothWays) None
      else Some(theirs ++ w.layers + ("trace.overhead_frac" ->
        (Stats.geomean(w.steps.map(traced.stepMed)) / Stats.geomean(w.steps.map(rec.stepMed)) - 1)))
    }
  }

  def run(sessionS: Double): String = {
    val loadBefore = Bench.loadavg()
    val w = workload(a.workload)
    // set-up: the repeatable part three times (median), then the warm-up
    val prep = (1 to 3).map { _ => val t0 = now(); w.prepare(); since(t0) }
    val t0 = now()
    w.warmUp()
    val warmS = since(t0)
    rec.clear()
    w.clearSamples()
    val setupS = sessionS + Stats.median(prep) + warmS

    val (e2e, layers) = try {
      if (a.trace) (Map.empty[String, Double], tracedLayers(w))
      else {
        loop(w, a.seconds, w.minCycles, 1)(_ => _ => false)
        keepOwnCycles()
        // a run without a good cycle has nothing to report but its errors
        (if (rec.cycles.isEmpty) Map.empty[String, Double]
        else Map(
          "setup_s" -> setupS,
          "cycle_s" -> Stats.median(rec.cycles.toSeq),
          "step_geomean_s" -> Stats.geomean(w.steps.map(rec.stepMed)),
          "peak_rss_mb" -> Bench.peakRssMb()), None)
      }
    } finally w.close()
    val measured = if (a.trace) layers.isDefined else e2e.nonEmpty
    (e2e ++ layers.getOrElse(Map.empty)).foreach { case (k, v) =>
      out.check("metrics_finite", !v.isNaN && !v.isInfinite, s"$k = $v")
    }
    if (a.trace) spans.writeJsonl(Paths.get(a.work, "spans.jsonl"))
    val conf = spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.") || k.startsWith("spark.master") || k.startsWith("spark.local.dir")
    }
    Json.write(ownCycles ++ Map(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "correct" -> (measured && out.failed == 0 && out.checks.values.forall(identity)),
      "attempted" -> out.attempted, "failed" -> out.failed,
      "checks" -> out.checks, "errors" -> out.errors.take(20),
      "end_to_end" -> e2e, "per_layer" -> layers.getOrElse(Map.empty),
      "setup_parts_s" -> Map("session" -> sessionS, "prepare_median" -> Stats.median(prep),
        "warm_up" -> warmS),
      "span_self_s" -> spans.selfSeconds,
      "loadavg_jvm" -> Map("before" -> loadBefore, "after" -> Bench.loadavg()),
      "spark_conf" -> conf,
      "xmx_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "cpus" -> a.cpus))
  }
}

object Bench {
  def loadavg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim
    catch { case _: Exception => "" }

  /** VmHWM: the process's peak resident set, in MiB. */
  def peakRssMb(): Double = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(sys.error("no VmHWM in /proc/self/status"))
  }

  def deleteTree(p: Path): Unit = {
    def rm(x: java.io.File): Unit = {
      Option(x.listFiles()).foreach(_.foreach(rm))
      x.delete(): Unit
    }
    rm(p.toFile)
  }
}

/** Workloads run back to back as one: a cycle is one cycle of each. */
final class Both(parts: Workload*) extends Workload {
  def prepare(): Unit = parts.foreach(_.prepare())
  def warmUp(): Unit = parts.foreach(_.warmUp())
  def cycle(i: Int): Option[Double] = {
    val times = parts.map(_.cycle(i))
    if (times.forall(_.isDefined)) Some(times.flatten.sum) else None
  }
  def minCycles: Int = parts.map(_.minCycles).max
  def steps: Seq[String] = parts.flatMap(_.steps)
  def layers: Map[String, Double] = parts.map(_.layers).reduce(_ ++ _)
  override def clearSamples(): Unit = parts.foreach(_.clearSamples())
  override def close(): Unit = parts.foreach(_.close())
}
