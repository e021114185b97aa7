package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.LongType

/** Row-local 64-bit SimHash sketch — [[SimhashSketch]] at twice the
  * fingerprint width. Same construction (one md5 per token through the
  * thread-local digest, ±1 votes per bit, bit set iff the vote sum is
  * positive; NULL token votes −1 everywhere, NULL array → NULL, empty
  * array → 0), over the first 8 md5 bytes ([[Md5Ops.md5Long64]]) instead
  * of 4.
  *
  * Why a second width exists (the round-11 sf5 growth finding,
  * BENCH_sf5.json): fixed-width fingerprints band into FIXED-cardinality
  * buckets — at 32 bits, Hamming ≤ 6 pigeonholes into 7 bands of 4–5 bits,
  * 16–32 distinct values each, so band-bucket verify work grows n²/2^w
  * once the corpus outgrows the band space (measured 31.6× at 5× data
  * with LINEAR pair output). At 64 bits the standard operating point is
  * Hamming ≤ 3 over 4 bands of 16 bits — 65 536 values per band, pushing
  * the same saturation out by 2¹¹ per band. The asymptote is unchanged
  * (that is the published SimHash trade; the unbounded-scale operators
  * are the content-keyed LSH chains), but the practical corpus range
  * widens by three orders of magnitude.
  */
object Simhash64Sketch extends NativeFunction("simhash64_sketch", Seq(In.array(In.string)),
    LongType, NullRule.Propagate, "graft.functions.Simhash64SketchOps.run") {
  /** DataFrame-API entry. */
  def apply(toks: Column): Column = call(toks)
}

object Simhash64SketchOps {

  def run(toks: ArrayData): Long = {
    val votes = new Array[Int](64)
    val n = toks.numElements()
    val md = Md5Ops.acquire()
    var i = 0
    while (i < n) {
      if (toks.isNullAt(i)) {
        var b = 0
        while (b < 64) { votes(b) -= 1; b += 1 }
      } else {
        val h = Md5Ops.md5Long64(md, toks.getUTF8String(i))
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var sketch = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) sketch |= 1L << b
      b += 1
    }
    sketch
  }
}
