package graft

import org.apache.spark.scheduler._

import scala.collection.mutable

/** Dev profiling tool (optimization rounds): run named queries through the
  * noop sink with a SparkListener attached and print per-stage task-metric
  * totals — the sandbox substitute for the Spark UI's stage page
  * (guide §7.1). Output per query: one line per stage with wall span,
  * task count, executor run/CPU time, GC, shuffle read/write bytes+rows,
  * spill, input bytes — enough to decide whether a query is scan-,
  * shuffle-, or compute-bound and which stage is the wall.
  *
  *   SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 \
  *     sbt "runMain graft.Profile q_ann_eval q_graph_lpa"
  *
  * Builds the same [[GraftSession]] as Bench (shuffle.partitions=cpus,
  * maxPartitionBytes=4m) so stage shapes match what the bench times.
  * Each query runs SPARK_GRAFT_PROFILE_RUNS times (default 2); the
  * listener records every run, labeled, so warm-vs-cold is visible.
  */
object Profile {

  private final case class StageRec(
      stageId: Int, attempt: Int, name: String,
      var submitted: Long = 0L, var completed: Long = 0L,
      var nTasks: Int = 0,
      var runTimeMs: Long = 0L, var cpuTimeMs: Long = 0L,
      var gcTimeMs: Long = 0L,
      var shReadB: Long = 0L, var shReadRows: Long = 0L,
      var shWriteB: Long = 0L, var shWriteRows: Long = 0L,
      var fetchWaitMs: Long = 0L, var writeTimeMs: Long = 0L,
      var inputB: Long = 0L, var spillMemB: Long = 0L,
      var spillDiskB: Long = 0L, var resultSerMs: Long = 0L,
      var deserMs: Long = 0L)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val nRuns = sys.env.getOrElse("SPARK_GRAFT_PROFILE_RUNS", "2").toInt.max(1)
    val spark = GraftSession.local(s"local[$cpus]", cpus.toInt, Some("4m"))

    val stages = mutable.LinkedHashMap.empty[(Int, Int), StageRec]
    val jobsOfGroup = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Int]]
    val stagesOfJob = mutable.LinkedHashMap.empty[Int, Seq[Int]]
    val lock = new Object

    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = lock.synchronized {
        val grp = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("?")
        jobsOfGroup.getOrElseUpdate(grp, mutable.ArrayBuffer.empty) += js.jobId
        stagesOfJob(js.jobId) = js.stageIds
      }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = lock.synchronized {
        val si = e.stageInfo
        val r = stages.getOrElseUpdate((si.stageId, si.attemptNumber()),
          StageRec(si.stageId, si.attemptNumber(), si.name))
        r.submitted = System.currentTimeMillis()
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
        val si = e.stageInfo
        stages.get((si.stageId, si.attemptNumber())).foreach { r =>
          r.completed = System.currentTimeMillis()
          r.nTasks = si.numTasks
        }
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
        val m = e.taskMetrics
        if (m != null) stages.get((e.stageId, e.stageAttemptId)).foreach { r =>
          r.runTimeMs += m.executorRunTime
          r.cpuTimeMs += m.executorCpuTime / 1000000L
          r.gcTimeMs += m.jvmGCTime
          r.shReadB += m.shuffleReadMetrics.totalBytesRead
          r.shReadRows += m.shuffleReadMetrics.recordsRead
          r.shWriteB += m.shuffleWriteMetrics.bytesWritten
          r.shWriteRows += m.shuffleWriteMetrics.recordsWritten
          r.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          r.writeTimeMs += m.shuffleWriteMetrics.writeTime / 1000000L
          r.inputB += m.inputMetrics.bytesRead
          r.spillMemB += m.memoryBytesSpilled
          r.spillDiskB += m.diskBytesSpilled
          r.resultSerMs += m.resultSerializationTime
          r.deserMs += m.executorDeserializeTime
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)

    // warmup: footer listing + codegen infra, as in Bench
    Tables.names.foreach { n =>
      try Tables.table(spark, sfDir, n).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => }
    }

    val names = if (args.nonEmpty) args.toSeq else Seq("q_s3_filtered_scan")
    names.foreach { name =>
      (1 to nRuns).foreach { run =>
        val grp = s"$name#$run"
        spark.sparkContext.setJobGroup(grp, grp)
        val t0 = System.nanoTime()
        try SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        catch { case e: Throwable =>
          System.err.println(s"[profile] $name run $run failed: ${e.getMessage}")
        }
        val sec = (System.nanoTime() - t0) / 1e9
        spark.sparkContext.clearJobGroup()
        spark.catalog.clearCache()
        System.gc()
        lock.synchronized {
          println(f"%n==== $grp  wall=$sec%.3f s ====")
          val jobs = jobsOfGroup.getOrElse(grp, mutable.ArrayBuffer.empty)
          println(s"jobs: ${jobs.size}")
          val sids = jobs.flatMap(j => stagesOfJob.getOrElse(j, Nil)).toSet
          val recs = stages.values.filter(r => sids(r.stageId)).toSeq
            .sortBy(r => (r.submitted, r.stageId))
          println(f"${"stage"}%-7s ${"span_ms"}%8s ${"tasks"}%5s ${"run_ms"}%8s " +
            f"${"cpu_ms"}%8s ${"gc_ms"}%6s ${"in_MB"}%7s ${"shR_MB"}%7s " +
            f"${"shR_rows"}%9s ${"shW_MB"}%7s ${"shW_rows"}%9s ${"fetch_ms"}%8s " +
            f"${"spill_MB"}%8s  name")
          recs.foreach { r =>
            val span = if (r.completed > 0) r.completed - r.submitted else -1
            println(f"${r.stageId}%-7d ${span}%8d ${r.nTasks}%5d ${r.runTimeMs}%8d " +
              f"${r.cpuTimeMs}%8d ${r.gcTimeMs}%6d ${r.inputB / 1e6}%7.1f " +
              f"${r.shReadB / 1e6}%7.2f ${r.shReadRows}%9d ${r.shWriteB / 1e6}%7.2f " +
              f"${r.shWriteRows}%9d ${r.fetchWaitMs}%8d " +
              f"${(r.spillMemB + r.spillDiskB) / 1e6}%8.1f  ${r.name.take(60)}")
          }
        }
      }
    }
    spark.stop()
  }
}
