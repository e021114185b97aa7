package graft.functions

import java.util.TreeSet

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, LongType}

/** KMV (k-minimum-values) distinct-count sketch: keeps the `k` smallest
  * DISTINCT hash values seen, from which `|D| ≈ (k-1) · M / h_(k)` estimates
  * the distinct count over a hash space of size `M` (Bar-Yossef et al.,
  * "Counting distinct elements in a data stream", RANDOM 2002).
  *
  * This is the scale answer to COUNT(DISTINCT x) per group: a bounded
  * O(k) mergeable state, so partial aggregation ships at most `k` longs
  * per (partition, group) through the shuffle — versus the exact form
  * shuffling every distinct value. Unlike HLL (whose register layout is
  * engine-private — Spark's `approx_count_distinct` and DuckDB's disagree),
  * the KMV state over an md5-derived hash is ENGINE-PORTABLE: the oracle
  * reproduces the sketch exactly with `list_sort(list(DISTINCT h))[1:k]`,
  * so the differential harness can pin not just the estimate but the whole
  * sketch, value for value.
  *
  * The aggregate consumes ALREADY-HASHED longs (hash outside, in codegen —
  * [[graft.llm.TextHash.md5Long]]); it sorts, dedupes, and caps. Input
  * NULLs are skipped (count(DISTINCT) semantics; DuckDB's list() keeps
  * NULLs, so the declared query hashes a NOT NULL key to keep the engines
  * trivially aligned). Output is the ascending array of at most `k` hashes
  * (fewer iff the group has fewer distinct hashes — then the sketch IS the
  * exact distinct set).
  */
object KMinValues extends NativeAggregate[TreeSet[java.lang.Long]]("kmin_values",
    Seq(In.bigint, In.intLiteral(">= 2", _ >= 2)), ArrayType(LongType, containsNull = false),
    { case Seq(k) => new KMinValuesKernel(k) }) {
  /** Column form: `KMinValues(hashCol, k)` → ascending array of ≤ k hashes. */
  def apply(c: Column, k: Int): Column = call(c, k)
}

/** The KMV buffer: the at most `k` smallest distinct hashes seen. */
final class KMinValuesKernel(k: Int) extends SketchKernel[TreeSet[java.lang.Long]] {

  def empty: TreeSet[java.lang.Long] = new TreeSet[java.lang.Long]()

  private def insert(buf: TreeSet[java.lang.Long], v: Long): Unit = {
    if (buf.size < k) { buf.add(v); () }
    else if (v < buf.last) {
      // add() returning false = v already present; the cap is unchanged
      if (buf.add(v)) { buf.pollLast(); () }
    }
  }

  def add(buf: TreeSet[java.lang.Long], value: Any): TreeSet[java.lang.Long] = {
    insert(buf, value.asInstanceOf[Long])
    buf
  }

  def merge(a: TreeSet[java.lang.Long], b: TreeSet[java.lang.Long]): TreeSet[java.lang.Long] = {
    val it = b.iterator()
    while (it.hasNext) insert(a, it.next())
    a
  }

  private def ascending(buf: TreeSet[java.lang.Long]): Array[Long] = {
    val out = new Array[Long](buf.size)
    val it = buf.iterator()
    var i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    out
  }

  def result(buf: TreeSet[java.lang.Long]): Any = new GenericArrayData(ascending(buf))

  def toBytes(buf: TreeSet[java.lang.Long]): Array[Byte] = SketchAggregate.toBytes(ascending(buf))

  def fromBytes(bytes: Array[Byte]): TreeSet[java.lang.Long] = {
    val buf = empty
    SketchAggregate.fromBytes(bytes).foreach(v => buf.add(v))
    buf
  }
}
