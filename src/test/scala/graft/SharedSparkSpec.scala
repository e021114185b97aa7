package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Every suite runs on the one [[SharedSpark]] session. A suite that built
  * its own would get the live context's master and static confs anyway
  * (`getOrCreate` applies only runtime SQL confs to a live session), and a
  * suite that stopped it would hand the next suite a fresh context with
  * whatever confs that suite asked for — so each suite's result would
  * depend on the suite order. The scan below pins that no test source
  * does either, outside the fresh-JVM probes that need their own context.
  */
class SharedSparkSpec extends AnyFunSuite with SharedSpark {

  private val builds = "SparkSession\\s*\\.\\s*builder|new\\s+SparkContext\\b".r
  private val stops = "\\b(spark|session|sparkContext|sc)\\s*\\.\\s*stop\\s*\\(\\s*\\)".r
  private val topLevel = "^(?:final |private |case )*(?:class|object|trait) (\\w+)".r

  /** The top-level definition around each test-source line matching `rx`. */
  private def sites(rx: scala.util.matching.Regex): Set[String] = {
    val files = Files.walk(Paths.get("src/test/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 50, s"scanned ${files.size} test sources")
    files.flatMap { (f: Path) =>
      var owner = s"$f (top of file)"
      Files.readAllLines(f).asScala.flatMap { line =>
        topLevel.findFirstMatchIn(line).foreach(m => owner = m.group(1))
        rx.findFirstIn(line).map(_ => owner)
      }
    }.toSet
  }

  test("only GraftExtensionsProbe builds a session: it needs spark.sql.extensions at context start") {
    assert(sites(builds) == Set("GraftExtensionsProbe"))
  }

  test("no suite stops the context: only the fresh-JVM probes stop their own") {
    // GraftSessionProbe builds one context per conf shape in its own JVM,
    // so it stops each before building the next
    assert(sites(stops) == Set("GraftExtensionsProbe", "GraftSessionProbe"))
  }

  test("two suites share one session") {
    assert(new AsofSpec().spark eq new ReuseSpec().spark)
    assert(spark eq SharedSpark.session)
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.codegen.fallback") == "false")
  }
}
