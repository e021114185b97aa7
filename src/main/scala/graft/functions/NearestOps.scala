package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Row-local nearest-centroid / nearest-code argmax — the assignment inner
  * loop of the whole k-means family (IVF membership, the Lloyd rounds,
  * IVFPQ code assignment), as natives.
  *
  * These remove the assignment SHUFFLE, not just lambda overhead (the
  * MinhashSig evolution applied to clustering): the previous scale shape
  * joined the corpus against the broadcast centroid table — fanning every
  * vector out to k candidate rows each carrying the full vector payload —
  * and collapsed the argmax through a partial/final struct-max aggregation
  * (one Exchange per assignment, per Lloyd round). Natively the argmax is
  * a scan-side projection over the centroid array riding in one broadcast
  * row: zero exchanges, zero fan-out, and the vector payload never leaves
  * its scan partition.
  *
  * Semantics are pinned by NearestSpec against the aggregation forms
  * (Similarity.assignAgg / pqAssignAgg, kept as the executable
  * specification): identical dot-product fold ([[DotProductOps]]'
  * left-to-right loop), identical 9-dp HALF_UP rounding BEFORE the argmax
  * (Round9Ops mirrors Spark's Round on DoubleType), identical tie-break
  * (highest cosine then smallest cid / lowest distance then smallest code
  * — java.lang.Double.compare is Spark's nan-safe double ordering).
  * NULL input (vector, norm or table) yields NULL; NULL table entries
  * cannot occur on the declared tables (the centroid/codebook frames are
  * built by non-null aggregations) and are skipped defensively.
  */
object Round9Ops {
  /** Spark's Round(expr, 9) on DoubleType: BigDecimal.valueOf (i.e. the
    * shortest-decimal form of the double) setScale HALF_UP, NaN/Inf pass
    * through (RoundBase guards them before touching BigDecimal).
    */
  def round9(x: Double): Double =
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue()
}

/** argmax over `cents` (array<struct<cid:int, centroid:array<double>,
  * cnorm:double>>) of `round9(dot(v, centroid) / (nv * cnorm))`, ties to
  * the smallest cid; returns the winning cid, or NULL when no candidate
  * survives (empty table — cannot occur on the declared tables).
  */
object NearestCentroid extends NativeFunction("nearest_centroid",
    Seq(In.array(In.double), In.double,
      In.array(In.struct(In.int, In.array(In.double), In.double))),
    IntegerType, NullRule.PropagateOrNull, "graft.functions.NearestOps.nearestCentroid") {
  /** DataFrame-API entry: (v, nv, cents) → cid. */
  def apply(v: Column, nv: Column, cents: Column): Column = call(v, nv, cents)
}

/** argmin over `books` (array<struct<code:int, cb:array<double>>>) of
  * `round9(dot(sv,sv) + dot(cb,cb) - 2*dot(sv,cb))` (the l2sq identity,
  * same operation order), ties to the smallest code; returns
  * struct(code:int, d:double), or NULL on an empty table.
  */
object NearestCode extends NativeFunction("nearest_code",
    Seq(In.array(In.double), In.array(In.struct(In.int, In.array(In.double)))),
    StructType(Seq(
      StructField("code", IntegerType, nullable = false),
      StructField("d", DoubleType, nullable = false))),
    NullRule.PropagateOrNull, "graft.functions.NearestOps.nearestCode") {
  /** DataFrame-API entry: (sv, books) → struct(code, d). */
  def apply(sv: Column, books: Column): Column = call(sv, books)
}

/** The kernels of [[NearestCentroid]] and [[NearestCode]]. */
object NearestOps {

  def nearestCentroid(v: ArrayData, nv: Double,
      cents: ArrayData): Integer = {
    val n = cents.numElements()
    var bestCos = 0.0
    var bestCid = 0
    var found = false
    var i = 0
    while (i < n) {
      if (!cents.isNullAt(i)) {
        val row = cents.getStruct(i, 3)
        if (!row.isNullAt(0) && !row.isNullAt(1) && !row.isNullAt(2)) {
          val cid = row.getInt(0)
          val d = DotProductOps.run(v, row.getArray(1))
          if (d != null) {
            // the aggregation form's exact arithmetic: dot / (nv * cnorm),
            // rounded to 9 dp BEFORE the comparison
            val cos = Round9Ops.round9(d.doubleValue() / (nv * row.getDouble(2)))
            // max (cos, -cid): Double.compare is Spark's nan-safe ordering
            val c = java.lang.Double.compare(cos, bestCos)
            if (!found || c > 0 || (c == 0 && cid < bestCid)) {
              bestCos = cos; bestCid = cid; found = true
            }
          }
        }
      }
      i += 1
    }
    if (found) Integer.valueOf(bestCid) else null
  }

  def nearestCode(sv: ArrayData, books: ArrayData): InternalRow = {
    val n = books.numElements()
    val dAA = DotProductOps.run(sv, sv)
    if (dAA == null) return null
    var bestD = 0.0
    var bestCode = 0
    var found = false
    var i = 0
    while (i < n) {
      if (!books.isNullAt(i)) {
        val row = books.getStruct(i, 2)
        if (!row.isNullAt(0) && !row.isNullAt(1)) {
          val code = row.getInt(0)
          val cb = row.getArray(1)
          val dBB = DotProductOps.run(cb, cb)
          val dAB = DotProductOps.run(sv, cb)
          if (dBB != null && dAB != null) {
            // l2sq's exact operation order: (aa + bb) - (2.0 * ab), round 9
            val d = Round9Ops.round9(
              dAA.doubleValue() + dBB.doubleValue() - 2.0 * dAB.doubleValue())
            val c = java.lang.Double.compare(d, bestD)
            if (!found || c < 0 || (c == 0 && code < bestCode)) {
              bestD = d; bestCode = code; found = true
            }
          }
        }
      }
      i += 1
    }
    if (!found) null
    else new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](bestCode, bestD))
  }
}
