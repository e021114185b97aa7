package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{ArrayType, LongType}

/** Row-local MinHash signature: one md5 per shingle, k affine mixes
  * `h·(2s+1) + s·12582917 mod p` taking running minima — the signature
  * builder of the whole MinHash family (LSH pairs, estimator, incremental
  * index, streaming probe), as one native codegen'd pass.
  *
  * This removes the signature SHUFFLE, not just lambda overhead: the
  * previous scale shape was explode + k min-aggregates (chosen because the
  * interpreted fold was slower than the exchange it avoided), which ships
  * (doc_id, k partial minima) through a hash aggregation. Natively the
  * signature is a scan-side projection — zero exchanges — and the md5 per
  * shingle (the intrinsic cost) is paid through a thread-local digest
  * instead of a per-element Column expression.
  *
  * Semantics pinned by MinhashSigSpec against the declarative fold
  * (graft.llm.TextHash.minhashSig), which stays as the executable spec:
  * NULL shingles are skipped (`least(acc, NULL)` keeps the accumulator),
  * a NULL array yields NULL, an empty array yields the Long.MaxValue
  * seeds.
  */
object MinhashSig extends NativeFunction("minhash_sig",
    Seq(In.array(In.string),
      In.intLiteral(">= 1", _ >= 1)),
    ArrayType(LongType, containsNull = false), NullRule.Propagate,
    "graft.functions.MinhashSigOps.run") {
  /** DataFrame-API entry. */
  def apply(grams: Column, k: Int): Column = call(grams, lit(k))
}

object MinhashSigOps {

  /** graft.llm.TextHash.MinhashPrime — referenced, not re-stated. */
  private val Prime: Long = graft.llm.TextHash.MinhashPrime

  def run(grams: ArrayData, k: Int): ArrayData = {
    val sig = Array.fill(k)(Long.MaxValue)
    val n = grams.numElements()
    val md = Md5Ops.acquire()
    var i = 0
    while (i < n) {
      // NULL shingle: the fold's least(acc, NULL) keeps acc — skip
      if (!grams.isNullAt(i)) {
        val h = Md5Ops.md5Long32(md, grams.getUTF8String(i))
        var s = 0
        while (s < k) {
          val v = (h * (2L * s + 1) + s * 12582917L) % Prime
          if (v < sig(s)) sig(s) = v
          s += 1
        }
      }
      i += 1
    }
    // primitive layout — no per-element boxing on the scan hot path
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(sig)
  }
}
