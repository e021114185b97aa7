package graft

import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** The one SparkSession factory for every main (Bench, Verify,
  * BenchStreaming, PlanDump, BenchSyncJob, the generators and
  * ProbeAtRest). A main chooses three values — master, shuffle partitions
  * and an optional `spark.sql.files.maxPartitionBytes` — and the factory
  * fixes the rest: UTC session time zone, no UI, WARN logging.
  *
  * A `local-cluster[n,c,mem]` master runs separate executor JVMs, so
  * closure serialization, broadcast shipping and remote shuffle fetch are
  * real; those executors get this JVM's classpath and its own JDK module
  * opens ([[addOpens]]) on their command line.
  */
object GraftSession {

  /** This JVM's own `--add-opens` flags, each as `--add-opens=X` (the JVM
    * reports both the `--add-opens X` and the `--add-opens=X` spelling that
    * way). Spark needs them on any JVM started outside spark-submit; the
    * list lives once, in build.sbt's `javaOptions`, and every JVM this one
    * forks (executors, the streaming tier, the at-rest probe) inherits it
    * from here.
    */
  lazy val addOpens: Seq[String] =
    ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
      .filter(_.startsWith("--add-opens="))

  /** The conf a [[local]] session is built with, in builder order. */
  def conf(master: String, shufflePartitions: Int,
      maxPartitionBytes: Option[String] = None): Seq[(String, String)] = {
    val executors =
      if (!master.startsWith("local-cluster")) Nil
      else Seq(
        "spark.executor.extraClassPath" -> System.getProperty("java.class.path"),
        "spark.executor.extraJavaOptions" -> addOpens.mkString(" "))
    Seq("spark.master" -> master,
      "spark.sql.shuffle.partitions" -> shufflePartitions.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false") ++
      executors ++
      maxPartitionBytes.map("spark.sql.files.maxPartitionBytes" -> _)
  }

  def local(master: String, shufflePartitions: Int,
      maxPartitionBytes: Option[String] = None): SparkSession = {
    val spark = conf(master, shufflePartitions, maxPartitionBytes)
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
