package graft.functions

import java.util.regex.Pattern

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the reference's tag pipeline
  * (`/root/reference/odgovlt.py:79-94`): `;`→`,`, split on `,`, trim,
  * fixcase, drop empties, collapse non-word runs + lower, keep 2 ≤ len ≤ 100.
  *
  * Why native: the declarative form ([[graft.TextFunctions.packageTagsHof]])
  * is four stacked higher-order array functions, and every `transform` /
  * `filter` lambda is `CodegenFallback` — each layer interprets its lambda
  * per element AND materializes an intermediate array, on the package
  * assembly hot path (three declared queries). This expression runs the
  * whole pipeline in one compiled pass per row with precompiled regexes and
  * participates in whole-stage codegen.
  *
  * Semantics are pinned element-for-element to the declarative chain by
  * TagPipelineSpec: space-only trim (Spark `trim`), code-point-aware
  * `substring`/`length`, `UTF8String.toLowerCase` for both the fixcase
  * head and the tag body, Unicode `\W` classes.
  */
object TagPipeline extends NativeFunction("tag_pipeline", Seq(In.string),
    ArrayType(StringType, containsNull = false), NullRule.Propagate,
    "graft.functions.TagPipelineOps.run") {
  /** DataFrame-API entry: `TagPipeline(col)`. */
  def apply(c: Column): Column = call(c)
}

/** The pipeline body: the kernel of [[TagPipeline]]. */
object TagPipelineOps {

  private val Fixcase = Pattern.compile("^\\p{Lu}\\p{Ll}")
  private val NonWord =
    Pattern.compile("\\W+", Pattern.UNICODE_CHARACTER_CLASS)

  /** Spark's `trim`: strips 0x20 only (not general whitespace). */
  private def trimSpaces(s: String): String = {
    var i = 0
    var j = s.length
    while (i < j && s.charAt(i) == ' ') i += 1
    while (j > i && s.charAt(j - 1) == ' ') j -= 1
    if (i == 0 && j == s.length) s else s.substring(i, j)
  }

  def run(input: UTF8String): ArrayData = {
    val parts = input.toString.replace(';', ',').split(",", -1)
    val out = new java.util.ArrayList[AnyRef](parts.length)
    var k = 0
    while (k < parts.length) {
      var t = trimSpaces(parts(k))
      // fixcase: `Xx...` → `xx...`; first "character" = first code point,
      // lowered with UTF8String semantics (what Spark's lower() does)
      if (t.nonEmpty && Fixcase.matcher(t).find()) {
        val n = Character.charCount(t.codePointAt(0))
        t = UTF8String.fromString(t.substring(0, n)).toLowerCase.toString +
          t.substring(n)
      }
      if (t.nonEmpty) {
        // tagify + lower: collapse non-word runs to ' ', trim, lowercase.
        // After the replace, every boundary char is 0x20, so the space-only
        // trim is exhaustive here.
        val cleaned = trimSpaces(NonWord.matcher(t).replaceAll(" "))
        val lowered = UTF8String.fromString(cleaned).toLowerCase
        val nc = lowered.numChars()
        if (nc >= 2 && nc <= 100) out.add(lowered)
      }
      k += 1
    }
    new GenericArrayData(out.toArray(new Array[AnyRef](out.size())))
  }
}
