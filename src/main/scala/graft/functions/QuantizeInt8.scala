package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Symmetric int8 scalar quantization of an embedding vector, with the
  * squared reconstruction error — the storage lever that turns a 100 TB
  * float corpus into a quarter of itself before ANN indexing
  * (SURVEY.md §2.11). One native codegen'd pass computes max|x|, the
  * 127/max|x| scale, `floor(x·scale)` codes, and the left-fold error sum.
  *
  * Declaratively this needs the per-row max INSIDE a transform lambda, and
  * `CollapseProject` inlines the alias so max|x| re-evaluates per element —
  * the O(d²) trap the HOF playbook warns about — on top of interpreted
  * lambdas. The native pass is O(d).
  *
  * Determinism: every step is double arithmetic any engine reproduces
  * bit-for-bit from the same input — max is order-insensitive (no NaNs in
  * a finite corpus), `floor(x·scale)` is exact on identical doubles, and
  * the error accumulates left-to-right from a 0.0 seed (≡ DuckDB
  * `list_reduce`, since 0.0 + d² is exact). All-zero vectors take scale 0
  * and zero codes rather than dividing by zero.
  */
object QuantizeInt8 extends NativeFunction("quantize_int8", Seq(In.array(In.double)),
    StructType(Seq(
      StructField("q", ArrayType(IntegerType, containsNull = false), nullable = false),
      StructField("err", DoubleType, nullable = false))),
    // a null ELEMENT yields a NULL result (the kernel returns null)
    NullRule.PropagateOrNull, "graft.functions.QuantizeInt8Ops.run") {
  /** DataFrame-API entry. */
  def apply(c: Column): Column = call(c)
}

object QuantizeInt8Ops {

  def run(v: ArrayData): org.apache.spark.sql.catalyst.InternalRow = {
    val n = v.numElements()
    val xs = new Array[Double](n)
    var maxAbs = 0.0
    var i = 0
    while (i < n) {
      // a null element poisons the whole result to NULL, like the
      // declarative chain's aggregate over a null-bearing zip
      if (v.isNullAt(i)) return null
      val x = v.getDouble(i)
      xs(i) = x
      val a = math.abs(x)
      if (a > maxAbs) maxAbs = a
      i += 1
    }
    val scale = if (maxAbs == 0.0) 0.0 else 127.0 / maxAbs
    val q = new Array[Int](n)
    var err = 0.0
    i = 0
    while (i < n) {
      val qi = if (scale == 0.0) 0L else math.floor(xs(i) * scale).toLong
      q(i) = qi.toInt
      val d = if (scale == 0.0) xs(i) else xs(i) - qi.toDouble / scale
      err += d * d
      i += 1
    }
    // primitive-array constructor — no per-element boxing on the hot path
    new GenericInternalRow(Array[Any](new GenericArrayData(q), err))
  }
}
