package graft

/** Benchmark main: times every declared query at the given scale factor and
  * prints one JSON line. Queries are materialized through the noop sink —
  * unlike count(), noop forces evaluation of every projected column, so the
  * timing covers the real work (string pipelines, hashes, dot products).
  *
  * Each query is executed `SPARK_GRAFT_BENCH_RUNS` times (default 3) at the
  * bench SF; the reported per-query number is the MEDIAN of those runs and
  * the MIN is reported alongside ("queries_min"). Rationale (round-4/5
  * verdicts): a warmup pass at a smaller SF does not warm what is timed —
  * AQE/broadcast decisions differ by scale, so the first run at the bench
  * SF still pays cold whole-stage-codegen compilation (measured ~8 s on the
  * JSON-heavy plan). The median reports steady-state while keeping
  * single-run GC spikes out of round-over-round comparisons; the min is the
  * load-robust statistic for a fixed workload — under sustained host load
  * every run inflates roughly uniformly (round 5 recorded a uniform ~3×),
  * and the min of N is the least-contaminated sample. The machine's
  * /proc/loadavg is recorded before and after the run ("loadavg") so a
  * contaminated record is detectable from the JSON alone.
  *
  * A run that THROWS is recorded as null in "runs" and excluded from the
  * median/min — a fast failure must never read as a speedup. Queries with
  * any failed run are listed in "failed" (name → failure count); a query
  * whose every run failed reports null in "queries"/"queries_min", and the
  * headline "value" itself becomes null — a completely broken query must
  * not shrink the total and read as a round-over-round improvement.
  *
  * `SPARK_GRAFT_BENCH_ONLY` (csv of query names) restricts the run to a
  * subset — the per-operator iteration loop; the headline total then
  * covers only that subset.
  *
  * After the per-query phase, the INDEX-FAMILY split phase ([[BenchSplits]])
  * times each build group once (artifacts written to parquet — the at-rest
  * form), then times the probe halves over the frozen artifacts for the
  * same `nRuns`: "artifact_builds" (group → one-shot build+freeze sec) and
  * "probes"/"probes_min" (query → serving cost) land in the same JSON
  * line. The declared per-query numbers are untouched — the split phase
  * only makes the build-once/probe-many economics visible.
  */
object Bench {

  private def loadavg(): String =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim.split(" ").take(3).mkString(" ")
    catch { case _: Throwable => "" }

  def main(args: Array[String]): Unit = {
    // read ambient load FIRST: SparkSession startup itself spins every
    // core for seconds and pushes the 1-min average toward ~1, so a
    // post-startup read reports the bench's own launch as contamination
    val loadBefore = loadavg()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val nRuns = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt.max(1)
    // SPARK_GRAFT_MASTER=local-cluster[4,8,2048] runs the MULTI-JVM tier
    // (see GraftSession): local[n] shares one JVM and hides closure
    // serialization, broadcast shipping and remote shuffle fetch.
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    // harness tables are single small parquet files; without a lower
    // split size every scan is one task and the cores idle until the
    // first shuffle (a cluster run has many files and keeps the default)
    val spark = GraftSession.local(master, cpus.toInt, Some("4m"))
    // warmup: JVM + parquet footer listing, so startup cost is not
    // attributed to the alphabetically-first query
    Tables.names.foreach { n =>
      try Tables.table(spark, sfDir, n).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => }
    }
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
    }
    def num(v: Option[Double]): Option[java.math.BigDecimal] = v.map(Json.fixed(_))
    /** `nRuns` timed runs of `body` (None for a run that threw), then one
      * compact `{"q","sec","min"}` line AS THE QUERY COMPLETES: the full
      * per-query map below is tens of KB and falls outside a bounded
      * stdout capture. A whole-stdout parser recovers the map from these
      * lines; a tail capture still gets the compact total. Returns
      * (median, min, runs).
      */
    def timeRuns(q: String)(body: => Unit)
        : (Option[Double], Option[Double], Seq[Option[Double]]) = {
      val runs = (1 to nRuns).map { _ =>
        val t0 = System.nanoTime()
        val ok =
          try { body; true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $q failed: ${e.getMessage}")
            false
          }
        val elapsed = (System.nanoTime() - t0) / 1e9
        // per-query caches must not leak memory pressure into later runs,
        // and GC debt from unpersisted blocks must not land inside a later
        // query's timed window (cleanup runs OUTSIDE the timing)
        spark.catalog.clearCache()
        System.gc()
        if (ok) Some(elapsed) else None
      }
      val good = runs.flatten
      val p50 = good.headOption.map(_ => median(good))
      println(Json.write(Json.obj("q" -> q, "sec" -> num(p50), "min" -> num(good.minOption))))
      (p50, good.minOption, runs)
    }
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    def selected(name: String): Boolean = only.isEmpty || only(name)
    def noop(df: => org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => selected(name) }
      .map { case (name, fn) =>
        val (p50, mn, runs) = timeRuns(name)(noop(fn(spark, sfDir)))
        (name, p50, mn, runs)
      }
    // ---- index-family build/probe split (BenchSplits) ----
    val splitQueries = BenchSplits.probes.keys.filter(selected).toSeq.sorted
    val neededGroups = splitQueries.map(BenchSplits.probes(_).group).distinct
    val frozenDir = java.nio.file.Files
      .createTempDirectory("graft_bench_idx").toString
    val buildSecs = neededGroups.map { g =>
      val t0 = System.nanoTime()
      val ok = try {
        BenchSplits.builds(g)(spark, sfDir).foreach { case (art, df) =>
          df.write.mode("overwrite").parquet(s"$frozenDir/$art")
        }
        true
      } catch { case e: Throwable =>
        System.err.println(s"[bench] build $g failed: ${e.getMessage}")
        false
      }
      val elapsed = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      System.gc()
      (g, if (ok) Some(elapsed) else None)
    }
    val builtGroups = buildSecs.collect { case (g, Some(_)) => g }.toSet
    def art(name: String) = spark.read.parquet(s"$frozenDir/$name")
    // every selected probe gets a row: a probe whose BUILD failed reports
    // null with failure count -1 ("never attempted" — emitted as
    // "probe:<q>":"skipped" so downstream can tell it from n attempted
    // runs that failed; the build:<g> entry carries the root cause).
    // An absent key would read downstream as "not run" while the truth
    // is "broken" (same convention as the main phase, where breakage
    // must never shrink the totals)
    val probeResults = splitQueries.map { q =>
      if (!builtGroups(BenchSplits.probes(q).group)) (q, None, None, -1)
      else {
        val (p50, mn, runs) = timeRuns(s"probe:$q")(
          noop(BenchSplits.probes(q).run(spark, sfDir, art)))
        (q, p50, mn, runs.count(_.isEmpty))
      }
    }
    // the frozen artifacts are corpus-sized (posting tables, two IVFPQ
    // index triples) — delete them, or every bench session leaks a
    // graft_bench_idx* tree into /tmp until something reaps it
    def rmTree(f: java.io.File): Unit = {
      val kids = f.listFiles()
      if (kids != null) kids.foreach(rmTree)
      f.delete(): Unit
    }
    rmTree(new java.io.File(frozenDir))

    // split-phase breakage feeds the same failed map as the main phase:
    // probe failures as "probe:<q>" (count of attempted-and-failed runs,
    // or "skipped" when the build failure meant zero probe runs were
    // attempted), build failures as "build:<g>"
    val failed = Json.obj(
      results.collect { case (k, _, _, rs) if rs.exists(_.isEmpty) =>
        k -> rs.count(_.isEmpty)
      } ++
      buildSecs.collect { case (g, None) => s"build:$g" -> 1 } ++
      probeResults.collect {
        case (q, _, _, nf) if nf > 0 => s"probe:$q" -> nf
        case (q, _, _, nf) if nf < 0 => s"probe:$q" -> "skipped"
      }: _*)
    // a query with zero successful runs poisons the headline: a total that
    // silently omits it would report breakage as a speedup
    val total =
      if (results.exists(_._2.isEmpty)) None
      else num(Some(results.flatMap(_._2).sum))
    // ---- streaming throughput tier (BenchStreaming) ----
    // Runs in a FORKED JVM after the query section is fully measured and
    // its closing loadavg recorded: the round-10 driver pass ran both
    // tiers in one process and the streaming load (5-min loadavg 4.6 →
    // 36.6 across the run) drifted the per-query minima 1.1–1.4×, making
    // round-over-round regression detection undecidable from the driver
    // artifact alone. The fork gives the query section a quiet start AND
    // a quiet end ("loadavg.after_queries"), and the streaming tier its
    // own fresh JVM (no shared heap/GC history with 191 timed queries).
    // A broken twin records itself under its name; a broken PHASE (or a
    // failed fork) records an error object — either way the batch
    // numbers above stay intact.
    val loadAfterQueries = loadavg()
    val streaming: Any =
      if (sys.env.get("SPARK_GRAFT_BENCH_SKIP_STREAMING").contains("1"))
        Json.obj("skipped" -> true)
      else if (only.nonEmpty) Json.obj("skipped" -> "subset run")
      else {
        val tmp = java.nio.file.Files.createTempFile("bench_streaming", ".json")
        try {
          // the fork mirrors the batch session's scan parallelism
          // (maxPartitionBytes) so streaming throughput is measured under
          // the SAME split sizing as the query section it's compared
          // against; -Xmx8g bounds the fork because the parent JVM (sbt
          // or the driver harness) keeps its own multi-GB heap alive and
          // the two would otherwise contend for the box
          val cmd = Seq(
            s"${System.getProperty("java.home")}/bin/java") ++
            GraftSession.addOpens ++ Seq(
            "-Xmx8g", "-cp", System.getProperty("java.class.path"),
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-Dspark.sql.files.maxPartitionBytes=4m",
            "graft.BenchStreaming")
          val pb = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
          pb.environment().put("SPARK_GRAFT_STREAMBENCH_OUT", tmp.toString)
          // RAW: the fork writes the BARE streaming object to the tmp
          // file (no wrapper), so it embeds as parsed — no marker-string
          // extraction that a twin or sfDir containing the marker text
          // could defeat
          pb.environment().put("SPARK_GRAFT_STREAMBENCH_RAW", "1")
          val proc = pb.start()
          val log = new String(proc.getInputStream.readAllBytes())
          val exit = proc.waitFor()
          if (exit != 0)
            sys.error(s"streaming JVM exited $exit: ${log.takeRight(300)}")
          val node = Json.parse(new String(java.nio.file.Files.readAllBytes(tmp)))
          if (!node.isObject)
            sys.error(s"no streaming object in: ${node.toString.take(200)}")
          node
        }
        catch { case e: Throwable =>
          System.err.println(s"[bench] streaming phase failed: ${e.getMessage}")
          Json.obj("error" ->
            Option(e.getMessage).getOrElse(e.getClass.getName).take(200))
        }
        finally java.nio.file.Files.deleteIfExists(tmp)
      }
    val loadAfter = loadavg()
    val loads = Json.obj("before" -> loadBefore,
      "after_queries" -> loadAfterQueries, "after" -> loadAfter)
    // the COMPACT headline: everything a round-over-round comparison
    // needs, small enough (<250 chars) to survive a bounded stdout
    // capture. The driver keeps only a tail of bench stdout and the full
    // per-query line below is tens of KB, so BENCH_r{N}.json recorded
    // `parsed: null` two rounds running — printing the compact line BOTH
    // first (a whole-stdout parser hits it before the big line) and last
    // (a tail capture retains it) makes the driver artifact
    // self-contained whichever end survives; the two lines are identical
    // so any parser that keeps first/last/any match records the same
    // totals.
    val compact = Json.write(Json.obj(
      "metric" -> "total", "value" -> total, "unit" -> "sec",
      "n_queries" -> results.size, "n_failed" -> results.count(_._2.isEmpty),
      "runs_per_query" -> nRuns, "loadavg" -> loads, "sf" -> sfDir))
    val line = Json.write(Json.obj(
      "metric" -> "total", "value" -> total, "unit" -> "sec",
      "queries" -> Json.obj(results.map { case (k, p50, _, _) => k -> num(p50) }: _*),
      "queries_min" -> Json.obj(results.map { case (k, _, mn, _) => k -> num(mn) }: _*),
      "runs" -> Json.obj(results.map { case (k, _, _, rs) => k -> rs.map(num) }: _*),
      "failed" -> failed,
      "runs_per_query" -> nRuns,
      "artifact_builds" -> Json.obj(buildSecs.map { case (g, v) => g -> num(v) }: _*),
      "probes" -> Json.obj(probeResults.map { case (q, p50, _, _) => q -> num(p50) }: _*),
      "probes_min" -> Json.obj(probeResults.map { case (q, _, mn, _) => q -> num(mn) }: _*),
      "streaming" -> streaming,
      "loadavg" -> loads, "sf" -> sfDir))
    println(compact)
    println(line)
    println(compact)
    // stdout runs through sbt's [info] prefix, which breaks line-oriented
    // JSON parsing downstream — always ALSO write the bare line to a file
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }
}
