package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.GraftBridge
import org.apache.spark.sql.types._

/** Shared bit-position derivation for the Bloom filter pair
  * ([[BloomBuild]] / [[BloomContains]]): the k probe positions of a
  * pre-hashed 64-bit key are affine mixes of the SAME universal-hash family
  * the MinHash signatures use (`h·(2i+1) + i·12582917 mod p`,
  * p = smallest prime > 2^32 — graft.llm.TextHash.MinhashPrime), reduced mod
  * the bitset size. ONE definition feeds the aggregate's update loop, the
  * probe's interpreted eval, AND the probe's generated code (standalone
  * object so generated code calls a plain static forwarder) — build and
  * probe can never disagree on a position, which is the no-false-negative
  * contract.
  *
  * Inputs are md5-derived 32-bit hashes (graft.llm.TextHash.md5Long), so
  * `h·(2i+1)` stays far from Long overflow for any sane k.
  */
object BloomHashOps {
  /** graft.llm.TextHash.MinhashPrime — referenced, not re-stated, so the
    * "same universal-hash family" claim above is true by construction.
    */
  final val Prime: Long = graft.llm.TextHash.MinhashPrime

  /** floorMod at both reductions: the functions are SQL-registered, so the
    * "pre-hashed BIGINT" input is whatever a user supplies — xxhash64-style
    * full-range signed longs must map into the bitset, not index out of it
    * (Java's % keeps the sign). The multiply may wrap for |h| near
    * Long.MaxValue; wrapping is deterministic and build/probe share this
    * one definition, so consistency — the no-false-negative contract —
    * survives it.
    */
  def position(h: Long, i: Int, numBits: Int): Long =
    Math.floorMod(Math.floorMod(h * (2L * i + 1) + i * 12582917L, Prime), numBits.toLong)

  /** Probe loop shared by [[BloomContains]]'s eval and generated code.
    * `sketch` is [[BloomBuild]]'s output: word 0 carries the hash count the
    * filter was BUILT with (the probe must never choose its own k — a
    * larger k would test bits the build never set and manufacture false
    * negatives), words 1.. are the bitset. A sketch of any other shape
    * (fewer than 2 words, or a hash count outside 1..Int.MaxValue) fails
    * rather than probing out of its bounds.
    */
  def contains(sketch: ArrayData, h: Long): Boolean = {
    val words = sketch.numElements()
    val k = if (words > 0) sketch.getLong(0) else 0L
    if (words < 2 || k < 1 || k > Int.MaxValue) throw new IllegalArgumentException(
      s"bloom_contains: not a bloom_build sketch ($words words, hash count $k); " +
        "a sketch is a hash count >= 1 followed by at least 1 bitset word")
    val numHashes = k.toInt
    val numBits = (words - 1) * 64
    var i = 0
    while (i < numHashes) {
      val pos = position(h, i, numBits)
      if ((sketch.getLong(1 + (pos >>> 6).toInt) & (1L << (pos & 63))) == 0L)
        return false
      i += 1
    }
    true
  }
}

/** Bloom-filter build aggregate: OR-merges the k probe bits of every
  * (pre-hashed, NOT NULL) input into a fixed `numBits`-bit set, returned as
  * an `array<bigint>` of `1 + numBits/64` words — word 0 records
  * `numHashes`, so the sketch is SELF-DESCRIBING and [[BloomContains]] can
  * never probe with a k the build didn't use (Spark's own BloomFilterImpl
  * serializes its hash count for the same reason).
  *
  * This is the OTHER bounded-state sketch (KMV counts, Bloom remembers):
  * the aggregation state is a constant `numBits/64` longs regardless of
  * input cardinality, partial states OR together — so a 100 TB build ships
  * one fixed-size bitset per partition through the shuffle, and the result
  * broadcasts at a size chosen UP FRONT (bits/ln2 ≈ 1.44 bits per expected
  * distinct key for ~50% load), where broadcasting the distinct key set
  * itself grows with the data. Consumed by [[BloomContains]] as a row-local
  * scan-speed pre-filter in front of an exact join
  * (graft.llm.Curation.bloomDecontaminate).
  *
  * Like [[KMinValues]], the input is an ALREADY-HASHED long (hash outside,
  * in codegen); NULLs are skipped.
  */
case class BloomBuild(
    child: Expression,
    numBits: Int,
    numHashes: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]]
  with UnaryLike[Expression] {

  override def prettyName: String = "bloom_build"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult =
    if (numBits < 64 || numBits % 64 != 0) TypeCheckResult.TypeCheckFailure(
      s"bloom_build requires numBits to be a positive multiple of 64, got $numBits")
    else if (numHashes < 1) TypeCheckResult.TypeCheckFailure(
      s"bloom_build requires numHashes >= 1, got $numHashes")
    else child.dataType match {
      case LongType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"bloom_build requires a bigint input (pre-hashed), got ${other.simpleString}")
    }

  override def createAggregationBuffer(): Array[Long] =
    new Array[Long](numBits / 64)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val h = v.asInstanceOf[Long]
      var i = 0
      while (i < numHashes) {
        val pos = BloomHashOps.position(h, i, numBits)
        buf((pos >>> 6).toInt) |= 1L << (pos & 63)
        i += 1
      }
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) { a(i) |= b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Long]): Any = {
    // header word 0 = numHashes; the aggregation BUFFER stays header-free
    // (merge is a plain word-wise OR)
    val out = new Array[Long](buf.length + 1)
    out(0) = numHashes.toLong
    System.arraycopy(buf, 0, out, 1, buf.length)
    new GenericArrayData(out)
  }

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * buf.length)
    var i = 0
    while (i < buf.length) { bb.putLong(buf(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val out = new Array[Long](bytes.length / 8)
    var i = 0
    while (i < out.length) { out(i) = bb.getLong; i += 1 }
    out
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BloomBuild =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BloomBuild =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): BloomBuild =
    copy(child = newChild)
}

object BloomBuild {
  /** Column form: `BloomBuild(hashCol, numBits, numHashes)`. */
  def apply(c: Column, numBits: Int, numHashes: Int): Column =
    GraftBridge.column(
      new BloomBuild(GraftBridge.expression(c), numBits, numHashes)
        .toAggregateExpression())

  val info = new ExpressionInfo(classOf[BloomBuild].getName, "bloom_build")
  val builder: Seq[Expression] => Expression = {
    case Seq(child, Literal(bits: Int, IntegerType), Literal(k: Int, IntegerType)) =>
      new BloomBuild(child, bits, k)
    case other => throw new IllegalArgumentException(
      "bloom_build(hash BIGINT, numBits INT literal, numHashes INT literal) " +
        s"expects 3 arguments with literal sizes, got ${other.map(_.sql).mkString(", ")}")
  }
  val identifier: FunctionIdentifier = FunctionIdentifier("bloom_build")
}

/** Bloom membership probe: true iff every probe bit of the (pre-hashed)
  * key is set in the sketch built by [[BloomBuild]] — never a false
  * negative (the probe count comes FROM the sketch's header word and the
  * position arithmetic is shared via [[BloomHashOps]], so probe and build
  * cannot disagree), false positives at the rate the build was sized for.
  * Native: the probe sits in the hot path (every corpus shingle at scan
  * speed), so it must not break the whole-stage span the way a boxed UDF
  * would.
  */
object BloomContains extends NativeFunction("bloom_contains",
    Seq(In.array(In.bigint), In.bigint), BooleanType, NullRule.Propagate,
    "graft.functions.BloomHashOps.contains") {
  /** Column form: `BloomContains(sketchCol, hashCol)`. */
  def apply(sketch: Column, hash: Column): Column = call(sketch, hash)
}
