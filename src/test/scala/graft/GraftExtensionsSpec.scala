package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** `spark.sql.extensions=graft.functions.GraftExtensions` registers every
  * native SQL function. Checked in a fresh JVM: the extension is applied
  * when a SparkContext starts, and the test JVM's context is shared.
  */
class GraftExtensionsSpec extends AnyFunSuite {

  private val native = Seq(
    "slug_truncate", "json_project", "tag_pipeline", "char_trigrams",
    "dot_product", "word_shingles", "quantize_int8", "kmin_values",
    "hll_registers", "cms_sketch", "ngram_dup_stats", "bloom_build",
    "bloom_contains", "hashed_score", "minhash_sig", "simhash_sketch",
    "simhash64_sketch", "rolling_fingerprint", "unidecode", "char_stats")

  test("an extension-configured session resolves all 20 native functions") {
    val out = java.nio.file.Files.createTempFile("graft_extensions", ".txt")
    try {
      val cmd = Seq(s"${System.getProperty("java.home")}/bin/java") ++
        GraftSession.addOpens ++ Seq("-Xmx512m", "-cp",
          System.getProperty("java.class.path"), "graft.GraftExtensionsProbe",
          out.toString) ++ native
      val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
      val log = new String(proc.getInputStream.readAllBytes())
      assert(proc.waitFor() == 0, s"probe JVM failed:\n${log.takeRight(4000)}")
      val resolved = java.nio.file.Files.readAllLines(out).asScala.toSeq
      assert(native.size == 20)
      assert(resolved == native, s"unresolved: ${native.diff(resolved)}")
    } finally java.nio.file.Files.deleteIfExists(out)
  }
}

/** Fresh-JVM half of [[GraftExtensionsSpec]]: start a session with the
  * extension configured and write, one a line, the argument names its
  * function catalog resolves.
  */
object GraftExtensionsProbe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[1]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .getOrCreate()
    try {
      val resolved = args.tail.filter(spark.catalog.functionExists)
      java.nio.file.Files.writeString(java.nio.file.Paths.get(args(0)),
        resolved.mkString("\n"))
    } finally spark.stop()
  }
}
