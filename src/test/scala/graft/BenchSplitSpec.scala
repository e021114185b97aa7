package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Soundness of the bench's build/probe split ([[BenchSplits]]): for every
  * declared index-family query, serving the PROBE half off artifacts that
  * were frozen to parquet and read back (exactly what [[Bench]]'s split
  * phase does) must reproduce the declared query's output row-for-row —
  * otherwise the separately-reported probe line would be timing a
  * different computation than the one the correctness gate checks.
  */
class BenchSplitSpec extends AnyFunSuite with SharedSpark {

  val sf = "/root/testdata/sf0.001"

  test("every probe over frozen parquet artifacts equals its declared query") {
    val dir = java.nio.file.Files.createTempDirectory("split_spec").toString
    val groups = BenchSplits.probes.values.map(_.group).toSeq.distinct.sorted
    groups.foreach { g =>
      BenchSplits.builds(g)(spark, sf).foreach { case (art, df) =>
        df.write.mode("overwrite").parquet(s"$dir/$art")
      }
      spark.catalog.clearCache()
    }
    def art(name: String) = spark.read.parquet(s"$dir/$name")
    BenchSplits.probes.toSeq.sortBy(_._1).foreach { case (q, probe) =>
      val declared = SparkEntry.queries(q)(spark, sf).collect().map(_.toString).toSeq
      spark.catalog.clearCache()
      val probed = probe.run(spark, sf, art).collect().map(_.toString).toSeq
      spark.catalog.clearCache()
      assert(probed == declared, s"$q: probe-over-frozen diverged from declared")
      assert(probed.nonEmpty, s"$q: vacuous comparison")
    }
  }

  test("oracle-at-rest: a FRESH JVM probing the frozen artifacts equals the declared queries") {
    // freeze artifacts in THIS session...
    val dir = java.nio.file.Files.createTempDirectory("at_rest_art").toString
    val out = java.nio.file.Files.createTempDirectory("at_rest_out").toString
    BenchSplits.probes.values.map(_.group).toSeq.distinct.sorted.foreach { g =>
      BenchSplits.builds(g)(spark, sf).foreach { case (art, df) =>
        df.write.mode("overwrite").parquet(s"$dir/$art")
      }
      spark.catalog.clearCache()
    }
    // ...then probe them from a NEW JVM (graft.ProbeAtRest): fresh
    // SparkSession, empty block-manager — if any probe depended on state
    // the build left in this JVM rather than on the parquet alone, the
    // at-rest run would diverge or die
    val cmd = Seq(
      s"${System.getProperty("java.home")}/bin/java") ++ GraftSession.addOpens ++ Seq(
      "-Xmx2g", "-cp", System.getProperty("java.class.path"),
      "graft.ProbeAtRest", dir, sf, out)
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val log = new String(proc.getInputStream.readAllBytes())
    val exit = proc.waitFor()
    assert(exit == 0, s"at-rest probe JVM exited $exit:\n${log.takeRight(4000)}")
    BenchSplits.probes.keys.toSeq.sorted.foreach { q =>
      val declared = SparkEntry.queries(q)(spark, sf)
        .collect().map(_.toString).sorted.toSeq
      spark.catalog.clearCache()
      val atRest = spark.read.parquet(s"$out/$q")
        .collect().map(_.toString).sorted.toSeq
      assert(atRest == declared, s"$q: at-rest probe diverged from declared")
      assert(atRest.nonEmpty, s"$q: vacuous comparison")
    }
  }

  test("bench error-message escape neutralizes every control character") {
    // one raw control char inside a JSON string poisons the whole bench
    // line; Spark error text routinely embeds quotes, backslashes, tabs and
    // CRs from plan fragments
    val hostile = "a\\b\"c\nd\te\rf\u0001g"
    val line = Json.write(Json.obj("error" -> hostile))
    assert(!line.exists(_ < ' '), s"raw control character in $line")
    // the written form survives a real JSON parse and gives the text back
    assert(Json.parse(line).get("error").asText == hostile)
  }

  test("truncation happens before escaping at the 200-char boundary") {
    // Bench cuts a raw error message to 200 chars and only then writes it,
    // so the writer sees whole characters and escapes each one: 200
    // backslashes become 200 escaped pairs that close cleanly inside the
    // JSON string, with no dangling escape to swallow the closing quote
    val raw = "\\" * 250
    val cut = raw.take(200)
    val line = Json.write(Json.obj("error" -> cut))
    assert(line == "{\"error\":\"" + "\\\\" * 200 + "\"}")
    assert(Json.parse(line).get("error").asText == cut)
  }
}
