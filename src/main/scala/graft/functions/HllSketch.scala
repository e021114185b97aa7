package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, IntegerType}

/** HyperLogLog register table over a 32-bit hash (Flajolet et al., "Hyper-
  * LogLog: the analysis of a near-optimal cardinality estimation algorithm",
  * AofA 2007): the top `p` hash bits pick one of `m = 2^p` registers, and
  * each register keeps the MAXIMUM rank (position of the leftmost 1-bit,
  * 1-indexed; `w+1` when the whole `w = 32-p` bit suffix is zero) observed
  * in its bucket. Fixed `m` bytes of state per group, merged by element-wise
  * max — the smallest mergeable distinct-count state there is (the KMV
  * sketch [[KMinValues]] ships `8k` bytes; this ships `m`).
  *
  * Spark's own `approx_count_distinct` IS an HLL++ — but its register
  * layout is engine-private (xxHash64, dense/sparse switching), so the
  * differential harness could never pin it against DuckDB, whose
  * `approx_count_distinct` hashes differently. This aggregate exists to
  * make the REGISTERS the contract: over the md5-derived 32-bit hash
  * ([[graft.llm.TextHash.md5Long]]) both engines can rebuild the exact
  * register table — DuckDB with `h // 2^w`, `max(27 - length(bin(h %
  * 2^w)))` — and the harness compares the sketch value-for-value, plus the
  * raw estimate as exact integer-derived arithmetic
  * ([[graft.llm.Sketches.hllEstimate]]).
  *
  * Input contract: an ALREADY-HASHED long in `[0, 2^32)` (hash outside, in
  * codegen). A value outside that range fails loudly — a wider hash would
  * silently alias buckets and corrupt every register. NULLs are skipped
  * (count-distinct semantics). Output: the full `m`-element register array
  * (empty buckets as 0), bucket order.
  */
object HllRegisters extends NativeAggregate[Array[Byte]]("hll_registers",
    Seq(In.bigint, In.intLiteral("in [2, 16]", p => p >= 2 && p <= 16)),
    ArrayType(IntegerType, containsNull = false),
    { case Seq(p) => new HllKernel(p) }) {
  /** Column form: `HllRegisters(hashCol, p)` → 2^p-element register array. */
  def apply(c: Column, p: Int): Column = call(c, p)
}

/** The HLL buffer: one byte register per bucket, `m = 2^p` of them. */
final class HllKernel(p: Int) extends SketchKernel[Array[Byte]] {

  private val m = 1 << p
  private val w = 32 - p
  private val suffixMask = (1L << w) - 1

  def empty: Array[Byte] = new Array[Byte](m)

  def add(buf: Array[Byte], value: Any): Array[Byte] = {
    val h = value.asInstanceOf[Long]
    if (h < 0L || h >= (1L << 32)) throw new IllegalArgumentException(
      s"hll_registers: hash $h outside the 32-bit contract [0, 2^32)")
    val bucket = (h >>> w).toInt
    val suffix = h & suffixMask
    // rank = leftmost-1-bit position in the w-bit suffix (1-indexed);
    // all-zero suffix = w+1. 64 - numberOfLeadingZeros is the bit length.
    val rank =
      if (suffix == 0L) w + 1
      else w + 1 - (64 - java.lang.Long.numberOfLeadingZeros(suffix))
    if (rank > buf(bucket)) buf(bucket) = rank.toByte
    buf
  }

  def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    var i = 0
    while (i < m) { if (b(i) > a(i)) a(i) = b(i); i += 1 }
    a
  }

  def result(buf: Array[Byte]): Any = {
    val out = new Array[Int](m)
    var i = 0
    while (i < m) { out(i) = buf(i); i += 1 }
    new GenericArrayData(out)
  }

  def toBytes(buf: Array[Byte]): Array[Byte] = buf
  def fromBytes(bytes: Array[Byte]): Array[Byte] = bytes.clone()
}
