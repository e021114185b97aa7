package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.llm.TextAnalysis

/** Edge branches of the repetition profile that the harness corpus (30+
  * token docs) never exercises: 1- and 2-token documents, all-duplicate
  * documents, and the boundary of the keep verdict.
  */
class RepetitionEdgeSpec extends AnyFunSuite with SharedSpark {

  test("repetition handles sub-n-gram docs and exact duplicate runs") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("repedge").toString
    Seq(
      (0L, "solo"),                      // 1 token: no bigrams, no trigrams
      (1L, "two words"),                 // 2 tokens: one bigram, no trigrams
      (2L, "a b a b a b a b"),           // all repeated bigrams/trigrams
      (3L, "w x y z"),                   // all distinct
      (4L, "r r r"))                     // single repeated token
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextAnalysis.repetition(spark, dir).collect()
      .map(r => r.getLong(0) ->
        ((r.getInt(1), r.getDouble(2), r.getDouble(3), r.getBoolean(4)))).toMap
    assert(out(0L) == ((1, 0.0, 0.0, true)))
    assert(out(1L) == ((2, 0.0, 0.0, true)))
    // "a b a b a b a b": 7 bigrams, 2 distinct -> 5/7; 6 trigrams, 2
    // distinct -> 4/6
    assert(out(2L) == ((8, math.rint(5.0 / 7.0 * 1e6) / 1e6,
      math.rint(4.0 / 6.0 * 1e6) / 1e6, false)))
    assert(out(3L) == ((4, 0.0, 0.0, true)))
    // "r r r": 2 bigrams 1 distinct -> 1/2; 1 trigram 1 distinct -> 0
    assert(out(4L) == ((3, 0.5, 0.0, true)))
  }
}
