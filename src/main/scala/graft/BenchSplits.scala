package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.llm.{Similarity, TextAnalysis}

/** Build/probe split of the index-family queries for the bench: the
  * declared queries (`q_inverted_index`, `q_bm25_indexed`, `q_ivm_index`,
  * `q_embed_ivfpq`, `q_bpe_encode`) each REBUILD their index per
  * invocation (`q_bpe_encode` retrains its rules on every call), so the
  * raw bench line reports build+probe fused — but the deployment
  * economics the library documents everywhere are build-once /
  * probe-many. This module declares, per such query, which
  * persisted artifacts the build half produces and how the probe half
  * serves off the FROZEN artifacts (parquet on disk — the real at-rest
  * form), so [[Bench]] can time and report the two costs separately
  * without touching the declared queries or their oracles.
  *
  * Soundness: BenchSplitSpec pins, for every entry, probe-over-frozen ≡
  * the declared query row-for-row (same fixture, artifacts round-tripped
  * through parquet exactly as the bench freezes them).
  */
object BenchSplits {

  /** One BUILD: group name -> the artifact frames it produces (each
    * frozen to parquet under its artifact name). A group builds ONCE per
    * bench session no matter how many probes consume it.
    */
  val builds: Map[String, (SparkSession, String) => Map[String, DataFrame]] =
    Map(
      "bm25" -> ((s, d) =>
        Map("bm25_index" -> TextAnalysis.bm25Index(s, d))),
      "ivm" -> ((s, d) => {
        val (post, scal) = TextAnalysis.ivmBase(s, d)
        Map("ivm_base_postings" -> post, "ivm_base_scalars" -> scal)
      }),
      "ivfpq" -> ((s, d) => {
        val (cents, books, index) = Similarity.ivfPqIndex(s, d)
        Map("ivfpq_centroids" -> cents, "ivfpq_codebooks" -> books,
          "ivfpq_index" -> index)
      }),
      "ivfpq_base" -> ((s, d) => {
        val (cents, books, index) = Similarity.ivfPqBase(s, d)
        Map("ivfpq_base_centroids" -> cents, "ivfpq_base_codebooks" -> books,
          "ivfpq_base_index" -> index)
      }),
      "bpe" -> ((s, d) => Map("bpe_rules" -> TextAnalysis.bpeTrain(s, d))))

  /** One PROBE: declared query name -> (its build group, the serving
    * plan over the frozen artifacts). `art` resolves an artifact name to
    * its frozen frame.
    */
  final case class Probe(group: String,
      run: (SparkSession, String, String => DataFrame) => DataFrame)

  val probes: Map[String, Probe] = Map(
    // serving the persisted posting table IS the probe: read + order
    "q_inverted_index" -> Probe("bm25",
      (s, d, art) => art("bm25_index").orderBy("term", "doc_id")),
    "q_bm25_indexed" -> Probe("bm25",
      (s, d, art) => TextAnalysis.bm25Probe(s, art("bm25_index"))),
    // O(delta) maintenance against the frozen base — base text unscanned
    "q_ivm_index" -> Probe("ivm",
      (s, d, art) => TextAnalysis.ivmMerge(s, d,
        art("ivm_base_postings"), art("ivm_base_scalars"))),
    "q_embed_ivfpq" -> Probe("ivfpq",
      (s, d, art) => Similarity.ivfPqProbe(s, d,
        art("ivfpq_centroids"), art("ivfpq_codebooks"),
        art("ivfpq_index"))),
    // O(delta) ANN maintenance against the frozen base artifacts — base
    // vectors never re-read
    "q_ivm_ivfpq" -> Probe("ivfpq_base",
      (s, d, art) => Similarity.ivfPqAppend(s, d,
        art("ivfpq_base_centroids"), art("ivfpq_base_codebooks"),
        art("ivfpq_base_index"))),
    // the rule table is a K-row driver artifact: collect the frozen rows
    // (in learned order) and unroll the encode fold from them
    "q_bpe_encode" -> Probe("bpe", (s, d, art) => {
      val pairs = art("bpe_rules").orderBy("round").collect()
        .map(_.getAs[String]("pair")).toSeq
      TextAnalysis.encodedVocabFrom(s, d, pairs)
        .orderBy(col("freq").desc, col("term"))
        .limit(TextAnalysis.VocabTopN)
    }))
}

/** ORACLE-AT-REST harness: run every [[BenchSplits]] probe in a process
  * that did NOT build the artifacts. The build/probe economics claim
  * silently assumes the frozen parquet is the COMPLETE serving state —
  * if a probe actually leaned on anything the build session left behind
  * in the JVM (a cached frame, a broadcast, a temp view), serving from
  * a fresh process would diverge or crash.
  * BenchSplitSpec forks this main in a NEW JVM (fresh SparkSession,
  * empty caches) over artifacts frozen by the test session and
  * pins probe-at-rest ≡ declared query.
  *
  * Args: artifactDir sfDir outDir — writes each probe's result to
  * `outDir/<query>` as parquet.
  */
object ProbeAtRest {
  def main(args: Array[String]): Unit = {
    val Array(artifactDir, sfDir, outDir) = args
    val spark = GraftSession.local("local[2]", 4)
    def art(name: String) = spark.read.parquet(s"$artifactDir/$name")
    BenchSplits.probes.toSeq.sortBy(_._1).foreach { case (q, probe) =>
      probe.run(spark, sfDir, art)
        .write.mode("overwrite").parquet(s"$outDir/$q")
    }
    spark.stop()
  }
}
