package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Row-local nearest-centroid / nearest-code argmax — the assignment inner
  * loop of the whole k-means family (IVF membership, the Lloyd rounds,
  * IVFPQ code assignment), as native codegen'd expressions.
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
  * specification): identical dot-product fold (graft.functions.DotProduct's
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
case class NearestCentroid(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression {

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "nearest_centroid"

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(DoubleType, _), DoubleType,
            ArrayType(StructType(Array(StructField(_, IntegerType, _, _),
              StructField(_, ArrayType(DoubleType, _), _, _),
              StructField(_, DoubleType, _, _))), _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, m, r) => TypeCheckResult.TypeCheckFailure(
        "nearest_centroid requires (array<double>, double, " +
          s"array<struct<int,array<double>,double>>), got ${l.simpleString}, " +
          s"${m.simpleString}, ${r.simpleString}")
    }

  override def nullSafeEval(v: Any, nv: Any, cents: Any): Any =
    NearestOps.nearestCentroid(v.asInstanceOf[ArrayData],
      nv.asInstanceOf[Double], cents.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, nv, cents) => {
      val res = ctx.freshName("best")
      s"""
         |Integer $res = graft.functions.NearestOps.nearestCentroid($v, $nv, $cents);
         |if ($res == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $res.intValue(); }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object NearestCentroid {
  /** DataFrame-API entry: (v, nv, cents) → cid. */
  def apply(v: Column, nv: Column, cents: Column): Column = {
    import org.apache.spark.sql.graftbridge.GraftBridge
    GraftBridge.column(NearestCentroid(GraftBridge.expression(v),
      GraftBridge.expression(nv), GraftBridge.expression(cents)))
  }
}

/** argmin over `books` (array<struct<code:int, cb:array<double>>>) of
  * `round9(dot(sv,sv) + dot(cb,cb) - 2*dot(sv,cb))` (the l2sq identity,
  * same operation order), ties to the smallest code; returns
  * struct(code:int, d:double), or NULL on an empty table.
  */
case class NearestCode(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("code", IntegerType, nullable = false),
    StructField("d", DoubleType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "nearest_code"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(StructType(Array(
            StructField(_, IntegerType, _, _),
            StructField(_, ArrayType(DoubleType, _), _, _))), _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        "nearest_code requires (array<double>, " +
          s"array<struct<int,array<double>>>), got ${l.simpleString} and " +
          s"${r.simpleString}")
    }

  override def nullSafeEval(sv: Any, books: Any): Any =
    NearestOps.nearestCode(sv.asInstanceOf[ArrayData],
      books.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (sv, books) => {
      val res = ctx.freshName("best")
      s"""
         |org.apache.spark.sql.catalyst.InternalRow $res =
         |  graft.functions.NearestOps.nearestCode($sv, $books);
         |if ($res == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $res; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object NearestCode {
  /** DataFrame-API entry: (sv, books) → struct(code, d). */
  def apply(sv: Column, books: Column): Column = {
    import org.apache.spark.sql.graftbridge.GraftBridge
    GraftBridge.column(NearestCode(GraftBridge.expression(sv),
      GraftBridge.expression(books)))
  }
}

/** Standalone object so generated code calls plain static forwarders. */
object NearestOps {

  /** DotProduct's exact left-to-right fold (null element → null). */
  private def dot(a: ArrayData, b: ArrayData): java.lang.Double = {
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
          val d = dot(v, row.getArray(1))
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
    val dAA = dot(sv, sv)
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
          val dBB = dot(cb, cb)
          val dAB = dot(sv, cb)
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
