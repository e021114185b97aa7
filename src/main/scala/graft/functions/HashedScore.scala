package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{ArrayType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Hashed-bag-of-words linear score: each token hashes (salted md5, first
  * 8 hex digits — graft.llm.TextHash.md5Long's value exactly) into a bucket
  * of the weight array, and the result is the weight sum — the inner loop
  * of a linear text classifier (graft.llm.TextAnalysis.modelQualityScore /
  * calibratedQualityCut / pipelineCurate), as one native codegen'd pass.
  *
  * The declarative form (an `aggregate` fold of
  * `element_at(weights, md5Long(salt || tok) % buckets + 1)`) is an
  * interpreted lambda per token with a per-token Column-expression md5;
  * the native walks the tokens once with a thread-local digest.
  * Semantics pinned by HashedScoreSpec against the HOF chain: any NULL
  * token (or a NULL array) nulls the whole sum — `acc + NULL` poisons the
  * fold — and an empty array yields the 0 seed.
  *
  * The weight array rides as an input (a literal array in every caller —
  * the broadcast model); the salt must be a plain-ASCII string literal, so
  * the generated code holds it as a constant.
  */
object HashedScore extends NativeFunction("hashed_score",
    Seq(In.array(In.string), In("array<bigint not null>", _ == ArrayType(LongType, false)),
      In("string literal [A-Za-z0-9:_.-]*", _.isInstanceOf[StringType],
        Some(_.toString.matches("[A-Za-z0-9:_.-]*")))),
    LongType, NullRule.PropagateOrNull, "graft.functions.HashedScoreOps.run") {
  /** DataFrame-API entry. */
  def apply(toks: Column, weights: Column, salt: String): Column =
    call(toks, weights, lit(salt))
}

object HashedScoreOps {

  def run(toks: ArrayData, weights: ArrayData, salt: UTF8String): java.lang.Long = {
    val n = toks.numElements()
    val buckets = weights.numElements()
    // empty weights (degenerate API misuse the type check cannot see):
    // return NULL rather than throw %-by-zero — the declarative fold's
    // `% size(weights)` poisons to NULL under non-ANSI and raises under
    // ANSI; NULL is the graceful superset of both, and the spec pins it
    if (buckets == 0 && n > 0) return null
    val md = Md5Ops.acquire()
    var sum = 0L
    var i = 0
    while (i < n) {
      // a NULL token poisons the fold (acc + NULL) — mirror it exactly
      if (toks.isNullAt(i)) return null
      val h = Md5Ops.md5Long32(md, salt, toks.getUTF8String(i))
      sum += weights.getLong((h % buckets).toInt)
      i += 1
    }
    java.lang.Long.valueOf(sum)
  }
}
