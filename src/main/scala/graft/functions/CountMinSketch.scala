package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, LongType}

/** Count-min sketch (Cormode & Muthukrishnan, "An improved data stream
  * summary: the count-min sketch and its applications", J. Algorithms
  * 2005): a `d × w` counter matrix; each item increments one counter per
  * row (its row-hash bucket), and a point query reads the MINIMUM of its
  * `d` counters — an overestimate by at most the hash-collision mass
  * (one-sided error ≤ e·N/w with probability 1−e^−d).
  *
  * This is the frequency-family member of the sketch trio ([[KMinValues]]
  * and [[HllRegisters]] answer distinct-count): term frequency over a
  * 100 TB corpus in `d·w` longs of mergeable state — merge is element-wise
  * ADDITION, so partial aggregation ships one fixed-size matrix per
  * (partition, group) instead of a vocabulary-sized map.
  *
  * The input is the row-local ARRAY of `d` pre-computed bucket indices
  * (hash outside, in codegen — salted [[graft.llm.TextHash.md5Long]] mod
  * `w`), which keeps the aggregate hash-agnostic and the oracle trivial:
  * DuckDB rebuilds every counter with a `(row, bucket) GROUP BY count(*)`
  * and every point estimate with a min over `d` exact lookups —
  * value-for-value, since counting is exact integer arithmetic. NULL
  * arrays are skipped; a wrong-length array or out-of-range bucket fails
  * loudly (it would silently corrupt a counter).
  *
  * Output: the flat row-major `d·w` counter matrix.
  */
object CmsSketch extends NativeAggregate[Array[Long]]("cms_sketch",
    Seq(In.array(In.int), In.intLiteral(">= 1", _ >= 1), In.intLiteral(">= 2", _ >= 2)),
    ArrayType(LongType, containsNull = false),
    { case Seq(d, w) => new CmsKernel(d, w) }) {
  /** Column form: `CmsSketch(bucketsCol, d, w)` → flat d·w counter matrix. */
  def apply(c: Column, d: Int, w: Int): Column = call(c, d, w)
}

/** The CMS buffer: the row-major `d × w` counter matrix. */
final class CmsKernel(d: Int, w: Int) extends SketchKernel[Array[Long]] {

  def empty: Array[Long] = new Array[Long](d * w)

  def add(buf: Array[Long], value: Any): Array[Long] = {
    val arr = value.asInstanceOf[ArrayData]
    if (arr.numElements() != d) throw new IllegalArgumentException(
      s"cms_sketch: expected $d bucket indices, got ${arr.numElements()}")
    var i = 0
    while (i < d) {
      // a null slot would read as bucket 0 from unsafe storage and
      // silently corrupt a counter — same fail-loudly contract as the
      // arity and range guards
      if (arr.isNullAt(i)) throw new IllegalArgumentException(
        s"cms_sketch: null bucket index in row $i")
      val b = arr.getInt(i)
      if (b < 0 || b >= w) throw new IllegalArgumentException(
        s"cms_sketch: bucket $b outside [0, $w) in row $i")
      buf(i * w + b) += 1L
      i += 1
    }
    buf
  }

  def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) { a(i) += b(i); i += 1 }
    a
  }

  def result(buf: Array[Long]): Any = new GenericArrayData(buf.clone())

  def toBytes(buf: Array[Long]): Array[Byte] = SketchAggregate.toBytes(buf)
  def fromBytes(bytes: Array[Byte]): Array[Long] = SketchAggregate.fromBytes(bytes)
}
