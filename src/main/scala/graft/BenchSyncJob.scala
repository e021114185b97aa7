package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end `SyncJob.run` at scale under MULTI-JVM executors, with a
  * REAL executor loss injected mid-job (r12 ask #4): the composed
  * gather → staging → import → assemble → classify path runs twice on the
  * same directory, against an empty target —
  *
  *   1. QUIET: local-cluster[4,8,2048], no interference — records
  *      per-stage wall times and an order-insensitive digest of the
  *      action set (+ package/error counts);
  *   2. KILL: same config, and at ~40% of the quiet run's wall a
  *      background thread `kill -9`s one CoarseGrainedExecutorBackend
  *      process — genuine executor death: task failures, shuffle-fetch
  *      failures, stage retries, worker relaunch. The job must COMPLETE
  *      (Spark's retry machinery, plus the staging hop's idempotent
  *      re-read) and the action digest must be IDENTICAL to the quiet
  *      run's.
  *
  * The digest is bit_xor over the 64-bit md5 prefixes of the
  * canonicalized action rows plus the row count — order-insensitive
  * (the kill run's output order may differ), collision-negligible, and
  * computed distributed (nothing data-sized reaches the driver).
  *
  * Usage: runMain graft.BenchSyncJob <dir>    (e.g. data/sf5)
  * Prints ONE JSON line → BENCH_syncjob artifact.
  */
object BenchSyncJob {

  private def session(): SparkSession =
    GraftSession.local("local-cluster[4,8,2048]", 32, Some("16m"))

  /** Order-insensitive digest of a frame: (row count, XOR of row md5s).
    * Rows canonicalize as a '|'-joined cast-to-string of every column in
    * name order; nulls as a sentinel.
    */
  private def digest(df: DataFrame): (Long, Long) = {
    val cols = df.columns.sorted.map(c =>
      coalesce(col(c).cast("string"), lit("\u0000null")))
    val row = df.select(
      conv(substring(md5(concat_ws("|", cols: _*)), 1, 15), 16, 10)
        .cast("long").as("h"))
    val agg = row.agg(count(lit(1)).as("n"),
      expr("bit_xor(h)").as("x")).head()
    (agg.getLong(0), agg.getLong(1))
  }

  private def findExecutorPids(): Seq[Int] = {
    // read /proc directly: ProcessHandle.info() returns empty command
    // lines for the executor JVMs (their argv — a full classpath — is
    // longer than the JDK cares to surface), so match the raw cmdline
    val self = ProcessHandle.current().pid()
    val procs = new java.io.File("/proc").listFiles()
    if (procs == null) return Seq.empty
    procs.toSeq
      .filter(f => f.getName.forall(_.isDigit) && f.getName.toLong != self)
      .flatMap { f =>
        val cl = try {
          new String(java.nio.file.Files.readAllBytes(
            java.nio.file.Paths.get(s"/proc/${f.getName}/cmdline")))
            .replace('\u0000', ' ')
        } catch { case _: Throwable => "" }
        // the driver's own cmdline also CONTAINS the string (it passes
        // the executor command through spark config) — require the class
        // to be the launched main, not a config value
        if (cl.contains("CoarseGrainedExecutorBackend") &&
            !cl.contains("runMain")) Some(f.getName.toInt) else None
      }.sorted
  }

  /** Executor JVMs spawn asynchronously after session start — poll. */
  private def awaitExecutors(deadlineSec: Int = 60): Seq[Int] = {
    val t0 = System.nanoTime()
    var pids = findExecutorPids()
    while (pids.isEmpty && (System.nanoTime() - t0) / 1e9 < deadlineSec) {
      Thread.sleep(500)
      pids = findExecutorPids()
    }
    pids
  }

  /** One [[SyncJob.run]] over a fresh staging dir against an empty
    * target (every package a create); returns per-stage secs and the
    * digests the identity assertion compares.
    */
  private def runOnce(s: SparkSession, dir: String):
      (Map[String, Double], (Long, Long), Long, Long) = {
    val staging = java.nio.file.Files
      .createTempDirectory("graft_syncjob").toString
    def timed[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = body
      (a, (System.nanoTime() - t0) / 1e9)
    }
    import s.implicits._
    val empty = Seq.empty[(Long, String)].toDF("o_orderkey", "extras_kodas")
    val (r, tRun) = timed(SyncJob.run(s, dir, staging, empty))
    val (nErr, tErr) = timed(r.errors.count())
    val (nPkg, tPkg) = timed(r.packages.count())
    val (dig, tDig) = timed(digest(r.actions))
    val times = Map(
      "gather_and_plan" -> tRun,
      "errors_count" -> tErr,
      "packages_count" -> tPkg,
      "actions_digest" -> tDig)
    (times, dig, nPkg, nErr)
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 1, "usage: BenchSyncJob <dir>")
    val dir = args(0)

    // ---- quiet run ----
    val s1 = session()
    val t0 = System.nanoTime()
    val (qt, qd, qPkg, qErr) = runOnce(s1, dir)
    val quietWall = (System.nanoTime() - t0) / 1e9
    s1.stop()
    Thread.sleep(3000) // let the standalone master/workers tear down

    // ---- kill run ----
    val s2 = session()
    val before = awaitExecutors()
    require(before.nonEmpty, "no executor JVMs found under local-cluster")
    @volatile var killed = -1
    val killer = new Thread(() => {
      Thread.sleep(math.max((quietWall * 0.4 * 1000).toLong, 2000L))
      val pids = findExecutorPids()
      if (pids.nonEmpty) {
        killed = pids.head
        Runtime.getRuntime.exec(Array("kill", "-9", killed.toString)).waitFor()
        System.err.println(s"[syncjob] killed executor pid $killed")
      }
    })
    killer.setDaemon(true)
    val t1 = System.nanoTime()
    killer.start()
    val (kt, kd, kPkg, kErr) = runOnce(s2, dir)
    val killWall = (System.nanoTime() - t1) / 1e9
    s2.stop()

    val identical = qd == kd && qPkg == kPkg && qErr == kErr
    def tm(m: Map[String, Double]) =
      Json.obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.fixed(v) }: _*)
    println(Json.write(Json.obj(
      "metric" -> "syncjob_e2e", "dir" -> dir,
      "quiet" -> Json.obj("wall" -> quietWall, "stages" -> tm(qt),
        "actions_n" -> qd._1, "actions_xor" -> qd._2,
        "packages" -> qPkg, "errors" -> qErr),
      "kill" -> Json.obj("wall" -> killWall, "stages" -> tm(kt),
        "actions_n" -> kd._1, "actions_xor" -> kd._2,
        "packages" -> kPkg, "errors" -> kErr, "killed_pid" -> killed),
      "identical" -> identical)))
    require(killed > 0, "executor kill never fired — the run proves nothing")
    require(identical,
      s"action sets diverged after executor loss: quiet=$qd kill=$kd")
  }
}
