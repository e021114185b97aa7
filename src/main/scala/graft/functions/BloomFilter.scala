package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, BooleanType, LongType}

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
object BloomBuild extends NativeAggregate[Array[Long]]("bloom_build",
    Seq(In.bigint, In.intLiteral("multiple of 64 >= 64", b => b >= 64 && b % 64 == 0),
      In.intLiteral(">= 1", _ >= 1)),
    ArrayType(LongType, containsNull = false),
    { case Seq(numBits, numHashes) => new BloomKernel(numBits, numHashes) }) {
  /** Column form: `BloomBuild(hashCol, numBits, numHashes)`. */
  def apply(c: Column, numBits: Int, numHashes: Int): Column = call(c, numBits, numHashes)
}

/** The Bloom buffer: the header-free `numBits/64`-word bitset. */
final class BloomKernel(numBits: Int, numHashes: Int) extends SketchKernel[Array[Long]] {

  def empty: Array[Long] = new Array[Long](numBits / 64)

  def add(buf: Array[Long], value: Any): Array[Long] = {
    val h = value.asInstanceOf[Long]
    var i = 0
    while (i < numHashes) {
      val pos = BloomHashOps.position(h, i, numBits)
      buf((pos >>> 6).toInt) |= 1L << (pos & 63)
      i += 1
    }
    buf
  }

  def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) { a(i) |= b(i); i += 1 }
    a
  }

  def result(buf: Array[Long]): Any = {
    // header word 0 = numHashes; the aggregation BUFFER stays header-free
    // (merge is a plain word-wise OR)
    val out = new Array[Long](buf.length + 1)
    out(0) = numHashes.toLong
    System.arraycopy(buf, 0, out, 1, buf.length)
    new GenericArrayData(out)
  }

  def toBytes(buf: Array[Long]): Array[Byte] = SketchAggregate.toBytes(buf)
  def fromBytes(bytes: Array[Byte]): Array[Long] = SketchAggregate.fromBytes(bytes)
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
