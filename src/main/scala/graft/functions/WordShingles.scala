package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Distinct word 3-gram shingles of a token array — the feature extractor
  * both set-similarity dedup operators (n-gram Jaccard and MinHash+LSH,
  * SURVEY.md §2.11) build their inverted indexes from, as one native
  * codegen'd pass.
  *
  * The declarative form ([[graft.llm.TextHash.shingles3Hof]]) zips
  * three shifted slices of the token array under interpreted
  * (CodegenFallback) lambdas, allocating two intermediate arrays per row.
  * The native walks the tokens once. Semantics pinned by
  * WordShinglesSpec: space-joined triples, first-occurrence distinct order,
  * a single empty-string shingle for arrays shorter than 3 (so downstream
  * signatures stay well-defined), and `concat`'s null propagation (a null
  * token nulls the shingles it appears in).
  */
object WordShingles extends NativeFunction("word_shingles", Seq(In.array(In.string)),
    // NULL input falls through the declarative chain's when/otherwise into
    // the array('') fallback (size(NULL) = -1 under legacy sizeOfNull) — so
    // the kernel sees the NULL
    ArrayType(StringType, containsNull = true), NullRule.KernelSeesNull,
    "graft.functions.WordShinglesOps.run") {
  /** DataFrame-API entry. */
  def apply(c: Column): Column = call(c)
}

object WordShinglesOps {

  private val Empty = UTF8String.fromString("")
  private val Space = UTF8String.fromString(" ")

  def run(toks: ArrayData): ArrayData = {
    // NULL token array: size(NULL) = -1 in the declarative chain, which
    // takes the same [""] fallback as a short array — not a null result
    if (toks == null) return new GenericArrayData(Array[AnyRef](Empty))
    val n = toks.numElements()
    if (n < 3) return new GenericArrayData(Array[AnyRef](Empty))
    val words = new Array[UTF8String](n)
    var i = 0
    while (i < n) {
      words(i) = if (toks.isNullAt(i)) null else toks.getUTF8String(i)
      i += 1
    }
    // first-occurrence distinct order, nulls included — array_distinct
    // semantics over concat's null propagation (any null word nulls its
    // shingles, which collapse to one null element)
    val seen = new java.util.LinkedHashSet[AnyRef]((n - 2) * 2)
    var w = 0
    while (w + 3 <= n) {
      val a = words(w); val b = words(w + 1); val c = words(w + 2)
      if (a == null || b == null || c == null) seen.add(null)
      else seen.add(UTF8String.concat(a, Space, b, Space, c))
      w += 1
    }
    new GenericArrayData(seen.toArray(new Array[AnyRef](seen.size())))
  }
}
