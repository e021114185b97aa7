package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Distinct character trigrams of the lowercased input — the language-ID
  * feature extractor (SURVEY.md §2.11), as one native codegen'd pass.
  *
  * The declarative form ([[graft.llm.TextHash.slidingTriples]] over
  * `split(lower(text), "")`) materializes a one-string-per-character array
  * and three shifted slices of it, all under interpreted (CodegenFallback)
  * higher-order lambdas — per document, per the thousands of characters in
  * it. The native walks the code points once. Semantics are pinned to
  * the declarative chain by CharTrigramsSpec: code-point windows (never
  * split surrogate pairs), `UTF8String.toLowerCase`, first-occurrence
  * distinct order, whole lowered text as the single fallback gram when the
  * input is shorter than three characters.
  */
object CharTrigrams extends NativeFunction("char_trigrams", Seq(In.string),
    // NULL input falls through the declarative chain's when/otherwise into
    // the array(lower(text)) fallback, i.e. [NULL] — NOT a null result, so
    // the kernel sees the NULL (and the elements are nullable)
    ArrayType(StringType, containsNull = true), NullRule.KernelSeesNull,
    "graft.functions.CharTrigramsOps.run") {
  /** DataFrame-API entry. */
  def apply(c: Column): Column = call(c)
}

object CharTrigramsOps {

  def run(input: UTF8String): ArrayData = {
    // the declarative chain's fallback on NULL text is array(lower(NULL)),
    // i.e. a one-element [NULL] array — not a null result
    if (input == null) return new GenericArrayData(Array[AnyRef](null))
    val lowered = input.toLowerCase
    val s = lowered.toString
    val len = s.length
    val n = s.codePointCount(0, len)
    if (n < 3) return new GenericArrayData(Array[AnyRef](lowered))
    // code-point boundaries, so windows never split a surrogate pair
    val bounds = new Array[Int](n + 1)
    var i = 0
    var k = 0
    while (i < len) {
      bounds(k) = i
      i += Character.charCount(s.codePointAt(i))
      k += 1
    }
    bounds(n) = len
    val seen = new java.util.LinkedHashSet[UTF8String]((n - 2) * 2)
    var w = 0
    while (w + 3 <= n) {
      seen.add(UTF8String.fromString(s.substring(bounds(w), bounds(w + 3))))
      w += 1
    }
    new GenericArrayData(seen.toArray(new Array[AnyRef](seen.size())))
  }
}
