package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._

/** Within-document n-gram repetition statistics in ONE native pass:
  * `struct(n_tokens, dup_bigram_frac, dup_trigram_frac)` over a token
  * array, where `dup_frac = (|grams| - |distinct grams|) / |grams|`.
  *
  * The declarative form ([[graft.llm.TextAnalysis.ngramDupStatsHof]]) builds
  * each gram array from zipped shifted slices under interpreted
  * (CodegenFallback) lambdas — and every REFERENCE to those arrays
  * (size, array_distinct, the guard) re-evaluates the whole chain after
  * CollapseProject inlines it, multiplying the interpreted work ~4x. The
  * native walks the tokens once, counting distinct bigrams/trigrams in
  * hash sets; as a codegen'd struct, downstream field extractions share
  * one evaluation via whole-stage-codegen subexpression elimination.
  * Semantics pinned element-for-element by NgramDupStatsSpec, including
  * the HOF chain's NULL behavior: NULL array → (NULL, 0.0, 0.0) (size of
  * a NULL array is NULL; both guards fall through to 0.0), NULL tokens
  * null their grams (one NULL gram per array counts distinct).
  */
object NgramDupStats extends NativeFunction("ngram_dup_stats", Seq(In.array(In.string)),
    // n_tokens is nullable: on a NULL input array the HOF chain yields
    // struct(NULL, 0.0, 0.0) — size(NULL) is NULL and both guards fall
    // through to the 0.0 fallbacks
    StructType(Seq(
      StructField("n_tokens", IntegerType, nullable = true),
      StructField("dup_bigram_frac", DoubleType, nullable = false),
      StructField("dup_trigram_frac", DoubleType, nullable = false))),
    NullRule.KernelSeesNull, "graft.functions.NgramDupStatsOps.run") {
  /** DataFrame-API entry. */
  def apply(c: Column): Column = call(c)
}

object NgramDupStatsOps {

  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow

  /** Spark's round(x, 6): BigDecimal HALF_UP at scale 6. */
  private def round6(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  def run(toks: ArrayData): InternalRow = {
    // HOF-chain fallback on NULL: size(NULL) is NULL, both dup guards fail
    if (toks == null)
      return new GenericInternalRow(Array[Any](null, 0.0, 0.0))
    val n = toks.numElements()
    var dupBi = 0.0
    var dupTri = 0.0
    if (n >= 2) {
      // distinct counted over composed grams; a NULL token nulls its
      // grams (concat propagation) and NULL grams compare equal under
      // array_distinct, so one flag stands in for the set entry
      val seen = new java.util.HashSet[String]((n - 1) * 2)
      var sawNull = false
      var i = 0
      while (i + 2 <= n) {
        val a = toks.getUTF8String(i)
        val b = toks.getUTF8String(i + 1)
        if (a == null || b == null) sawNull = true
        else seen.add(a.toString + " " + b.toString)
        i += 1
      }
      val total = n - 1
      val distinct = seen.size + (if (sawNull) 1 else 0)
      dupBi = round6((total - distinct).toDouble / total.toDouble)
      if (n >= 3) {
        val seen3 = new java.util.HashSet[String]((n - 2) * 2)
        var sawNull3 = false
        var j = 0
        while (j + 3 <= n) {
          val a = toks.getUTF8String(j)
          val b = toks.getUTF8String(j + 1)
          val c = toks.getUTF8String(j + 2)
          if (a == null || b == null || c == null) sawNull3 = true
          else seen3.add(a.toString + " " + b.toString + " " + c.toString)
          j += 1
        }
        val total3 = n - 2
        val distinct3 = seen3.size + (if (sawNull3) 1 else 0)
        dupTri = round6((total3 - distinct3).toDouble / total3.toDouble)
      }
    }
    new GenericInternalRow(Array[Any](n, dupBi, dupTri))
  }
}
