package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.LongType

/** Row-local 32-bit SimHash sketch: one md5 per token, ±1 votes per bit,
  * bit set iff the vote sum is positive — the sketch builder of the whole
  * SimHash family (pairs, connected components, the composed preprocessing
  * pipeline), as one native codegen'd pass.
  *
  * Like [[MinhashSig]], this removes the sketch SHUFFLE, not just lambda
  * overhead: the previous shape was explode + 32 vote-sum aggregates
  * (Dedup.simhashTable), shipping (doc_id, 32 longs) through a hash
  * aggregation; natively the sketch is a scan-side projection with zero
  * exchanges, and the md5 per token goes through a thread-local digest.
  *
  * Semantics pinned by SimhashSketchSpec against BOTH prior forms (the
  * declarative fold TextHash.simhash32 and the explode+aggregate table):
  * a NULL token votes −1 on every bit (the fold's `when(NULL === 1, 1)
  * .otherwise(-1)` branch), a NULL array yields NULL, an empty array
  * yields sketch 0 (all vote sums 0, no bit positive).
  */
object SimhashSketch extends NativeFunction("simhash_sketch", Seq(In.array(In.string)),
    LongType, NullRule.Propagate, "graft.functions.SimhashSketchOps.run") {
  /** DataFrame-API entry. */
  def apply(toks: Column): Column = call(toks)
}

object SimhashSketchOps {

  def run(toks: ArrayData): Long = {
    val votes = new Array[Int](32)
    val n = toks.numElements()
    val md = Md5Ops.acquire()
    var i = 0
    while (i < n) {
      if (toks.isNullAt(i)) {
        // the fold's NULL branch: when(NULL === 1, 1).otherwise(-1)
        var b = 0
        while (b < 32) { votes(b) -= 1; b += 1 }
      } else {
        val h = Md5Ops.md5Long32(md, toks.getUTF8String(i))
        var b = 0
        while (b < 32) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var sketch = 0L
    var b = 0
    while (b < 32) {
      if (votes(b) > 0) sketch |= 1L << b
      b += 1
    }
    sketch
  }
}
