package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The one session factory ([[GraftSession]]): every conf shape the mains
  * use maps to a pinned table, a session built from the table really
  * carries it (checked in a fresh JVM, so no shared test session is
  * touched), and the JDK module opens forwarded to forked JVMs are this
  * JVM's own — which build.sbt's `javaOptions` set.
  */
class GraftSessionSpec extends AnyFunSuite {

  private val base = Seq(
    "spark.sql.session.timeZone" -> "UTC", "spark.ui.enabled" -> "false")
  private def cluster = Seq(
    "spark.executor.extraClassPath" -> System.getProperty("java.class.path"),
    "spark.executor.extraJavaOptions" -> GraftSession.addOpens.mkString(" "))

  /** (master, shuffle partitions, maxPartitionBytes) → the expected conf,
    * one row per shape a main builds.
    */
  private val shapes = Seq(
    // Verify, BenchStreaming, GenText, GenScale, GenSkew, PlanDump, ProbeAtRest
    ("local[2]", 4, None) -> (Seq("spark.master" -> "local[2]",
      "spark.sql.shuffle.partitions" -> "4") ++ base),
    // Bench
    ("local[3]", 3, Some("4m")) -> (Seq("spark.master" -> "local[3]",
      "spark.sql.shuffle.partitions" -> "3",
      "spark.sql.files.maxPartitionBytes" -> "4m") ++ base),
    // Verify and BenchStreaming under SPARK_GRAFT_MASTER=local-cluster[...]
    ("local-cluster[1,1,1024]", 2, None) -> (Seq(
      "spark.master" -> "local-cluster[1,1,1024]",
      "spark.sql.shuffle.partitions" -> "2") ++ base ++ cluster),
    // BenchSyncJob (Bench under local-cluster adds 4m the same way)
    ("local-cluster[1,1,1024]", 32, Some("16m")) -> (Seq(
      "spark.master" -> "local-cluster[1,1,1024]",
      "spark.sql.shuffle.partitions" -> "32",
      "spark.sql.files.maxPartitionBytes" -> "16m") ++ base ++ cluster))

  test("each conf shape in use maps to its pinned table") {
    shapes.foreach { case ((master, parts, mpb), expected) =>
      val table = GraftSession.conf(master, parts, mpb)
      assert(table.map(_._1).distinct.size == table.size, s"duplicate key in $table")
      assert(table.toMap == expected.toMap, s"$master/$parts/$mpb")
    }
  }

  test("the JVM's --add-opens flags are present and equal build.sbt's list") {
    val sbt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("build.sbt")))
    val list = sbt.substring(sbt.indexOf("val jdk17AddOpens"))
    val packages = "\"([^\"]+)\"".r.findAllMatchIn(list.substring(0, list.indexOf(").flatMap")))
      .map(_.group(1)).toSeq
    assert(packages.nonEmpty, "no jdk17AddOpens list in build.sbt")
    assert(GraftSession.addOpens.nonEmpty)
    assert(GraftSession.addOpens == packages.map(p => s"--add-opens=$p=ALL-UNNAMED"))
  }

  test("a session built by the factory carries its table, in a fresh JVM") {
    val out = java.nio.file.Files.createTempFile("graft_session", ".json")
    try {
      // local-cluster launches its executors through the Spark
      // distribution the jars came from
      val sparkHome = java.nio.file.Paths.get(classOf[SparkSession]
        .getProtectionDomain.getCodeSource.getLocation.toURI).getParent.getParent
      val cmd = Seq(s"${System.getProperty("java.home")}/bin/java") ++
        GraftSession.addOpens ++ Seq("-Xmx1g", "-cp",
          System.getProperty("java.class.path"), "graft.GraftSessionProbe",
          out.toString) ++
        shapes.map { case ((m, p, mpb), _) => s"$m|$p|${mpb.getOrElse("")}" }
      val pb = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
      pb.environment().put("SPARK_HOME", sparkHome.toString)
      pb.environment().put("SPARK_SCALA_VERSION",
        scala.util.Properties.versionNumberString.split('.').take(2).mkString("."))
      val proc = pb.start()
      val log = new String(proc.getInputStream.readAllBytes())
      assert(proc.waitFor() == 0, s"probe JVM failed:\n${log.takeRight(4000)}")
      val lines = new String(java.nio.file.Files.readAllBytes(out)).split("\n").toSeq
      assert(lines.size == shapes.size)
      lines.zip(shapes).foreach { case (line, (shape, expected)) =>
        val got = Json.parse(line)
        expected.foreach { case (k, v) =>
          assert(got.path(k).asText(null) == v, s"$shape: $k")
        }
      }
    } finally java.nio.file.Files.deleteIfExists(out)
  }
}

/** Fresh-JVM half of [[GraftSessionSpec]]: for each `master|partitions|mpb`
  * argument, build a [[GraftSession]], append its `spark.conf.getAll` as
  * one JSON line to the output file, and stop it.
  */
object GraftSessionProbe {
  def main(args: Array[String]): Unit = {
    val lines = args.tail.map { shape =>
      val Array(master, parts, mpb) = shape.split("\\|", -1)
      val spark = GraftSession.local(master, parts.toInt,
        Option(mpb).filter(_.nonEmpty))
      try Json.write(spark.conf.getAll)
      finally spark.stop()
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(args(0)),
      lines.mkString("\n"))
  }
}
