package graft

/** Dev tool: print the executed plan of declared queries, for PLANS.md
  * snapshots and plan review.
  *
  *   sbt "runMain graft.PlanDump q_pack_sequences [q_other ...]"
  *
  * Env: SPARK_GRAFT_SF_DIR (default sf0.01 — PLANS.md's snapshot scale).
  *
  * SPARK_GRAFT_PLAN_OUT=<dir>/<suffix>: instead of stdout, write each
  * query's `.explain("formatted")` output to `<dir>/<query><suffix>` —
  * the optimization rounds' evidence files (`plans/r13/<q>_before.txt`).
  * Formatted mode shows what the executed-plan toString hides: scan
  * PushedFilters/ReadSchema, join build sides, exchange partitioning.
  *
  * The cache is cleared after each query, as Verify and Bench do, so a
  * dumped plan never reads what an earlier query left pinned.
  * `tools/plandiff.py` compares two dump directories.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = GraftSession.local("local[4]", 4)
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    sys.env.get("SPARK_GRAFT_PLAN_OUT") match {
      case Some(spec) =>
        // "<dir>/<suffix>" — e.g. "plans/r13/_before.txt"
        val (dir, suffix) = {
          val i = spec.lastIndexOf('/')
          (spec.substring(0, i), spec.substring(i + 1))
        }
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
        names.foreach { n =>
          val plan = SparkEntry.queries(n)(spark, sfDir)
            .queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.write(
            java.nio.file.Paths.get(s"$dir/$n$suffix"),
            plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          println(s"[plandump] wrote $dir/$n$suffix")
          spark.catalog.clearCache()
        }
      case None =>
        names.foreach { n =>
          println(s"\n## $n")
          println("```")
          println(SparkEntry.queries(n)(spark, sfDir).queryExecution.executedPlan.toString.trim)
          println("```")
          spark.catalog.clearCache()
        }
    }
    spark.stop()
  }
}
