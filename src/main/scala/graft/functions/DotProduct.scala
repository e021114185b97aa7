package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.DoubleType

/** Left-to-right dot product of two double arrays — the inner loop of the
  * whole embedding family (SURVEY.md §2.11: cosine top-k, IVF routing,
  * k-means assignment, hyperplane LSH bucketing), as one native.
  *
  * The declarative form (`aggregate(zip_with(a, b, _*_), 0.0, _+_)`) is an
  * interpreted fold: two CodegenFallback lambdas and an intermediate array,
  * evaluated per scored PAIR. The native is the same arithmetic — double
  * products accumulated left to right from a 0.0 seed, so results are
  * bit-identical (DotProductSpec pins it) — in a primitive loop inside
  * whole-stage codegen.
  *
  * Null semantics mirror the fold exactly: any null element poisons the
  * accumulator (`acc + NULL`), and a length mismatch makes `zip_with` pad
  * with nulls — both yield NULL. Equal-length empty arrays yield the 0.0
  * seed.
  */
object DotProduct extends NativeFunction("dot_product",
    Seq(In.array(In.double), In.array(In.double)), DoubleType,
    NullRule.PropagateOrNull, "graft.functions.DotProductOps.run") {
  /** DataFrame-API entry. */
  def apply(a: Column, b: Column): Column = call(a, b)
}

/** The kernel of [[DotProduct]], also [[NearestOps]]' scoring fold. */
object DotProductOps {
  def run(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      s += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    java.lang.Double.valueOf(s)
  }
}
