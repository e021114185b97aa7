package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Per-document character histogram moments in ONE native pass:
  * `struct(n_chars, n_distinct, top_count, sum_sq)` over the text's
  * Unicode code points — the integer ingredients of the Rényi entropy
  * spectrum (order 0 = alphabet size, order 2 via Σn², order ∞ via the
  * top count), from which the diversity operator
  * ([[graft.llm.TextAnalysis.charDiversity]]) derives its signals as
  * single divisions of exact integers. Deliberately NO Shannon entropy:
  * a `log`-based value hangs the oracle on libm ulp agreement (the same
  * reason tf-idf uses `tf·N/df`, TextAnalysis.scala:176), while every
  * field here is exact in any engine.
  *
  * Code points (not UTF-16 units) so the counts match codepoint-based
  * engines (DuckDB `substr`/`length`) on supplementary-plane text.
  * NULL text → NULL struct; empty text → (0, 0, 0, 0L).
  */
object CharStats extends NativeFunction("char_stats", Seq(In.string),
    StructType(Seq(
      StructField("n_chars", IntegerType, nullable = false),
      StructField("n_distinct", IntegerType, nullable = false),
      StructField("top_count", IntegerType, nullable = false),
      StructField("sum_sq", LongType, nullable = false))),
    // declared nullable as before, though the kernel never returns null
    NullRule.PropagateOrNull, "graft.functions.CharStatsOps.run") {
  /** DataFrame-API entry. */
  def apply(c: Column): Column = call(c)
}

object CharStatsOps {

  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow

  def run(text: UTF8String): InternalRow = {
    val s = text.toString
    // ASCII fast path (int[128]) with a map fallback for the rest: one
    // histogram pass, no per-char row explosion — at corpus scale the
    // explode alternative is ~5k rows per 5 KB document
    val ascii = new Array[Int](128)
    var other: java.util.HashMap[Integer, Integer] = null
    var n = 0
    var i = 0
    val len = s.length
    while (i < len) {
      val cp = s.codePointAt(i)
      if (cp < 128) ascii(cp) += 1
      else {
        if (other == null) other = new java.util.HashMap[Integer, Integer]()
        other.merge(cp, 1, (a, b) => a + b)
      }
      n += 1
      i += Character.charCount(cp)
    }
    var distinct = 0
    var top = 0
    var sumSq = 0L
    var c = 0
    while (c < 128) {
      val k = ascii(c)
      if (k > 0) {
        distinct += 1
        if (k > top) top = k
        sumSq += k.toLong * k.toLong
      }
      c += 1
    }
    if (other != null) {
      val it = other.values().iterator()
      while (it.hasNext) {
        val k = it.next().intValue()
        distinct += 1
        if (k > top) top = k
        sumSq += k.toLong * k.toLong
      }
    }
    new GenericInternalRow(Array[Any](n, distinct, top, sumSq))
  }
}
