package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graftbridge.GraftBridge
import org.apache.spark.sql.types._

/** How a native scalar function reaches Catalyst: one [[NativeFunction]]
  * entry names the function, its input signature, its result type, its
  * [[NullRule]] and its kernel — a static method such as
  * `graft.functions.UnidecodeOps.ascii` over Spark's internal values
  * (`UTF8String`, `ArrayData`, `InternalRow`, primitives). [[NativeScalar]]
  * is the one expression that runs every entry: `eval` invokes the kernel,
  * `doGenCode` emits a direct static call to it inside whole-stage codegen
  * (no boxing into Rows, no closure), and plans print `name(args)`.
  *
  * A new native is its kernel plus one entry. Not built on Spark's
  * `StaticInvoke`: that prints `staticinvoke(…)` in plans and checks no
  * input types.
  */
abstract class NativeFunction(
    val name: String,
    val inputs: Seq[In],
    val dataType: DataType,
    val nulls: NullRule,
    val kernel: String) extends SqlNative {

  def apply(children: Expression*): Expression =
    NativeScalar(this, children.toIndexedSeq)

  protected def expressionClass: Class[_] = classOf[NativeScalar]

  /** The DataFrame-API form over columns. */
  protected def call(args: Column*): Column =
    GraftBridge.column(apply(args.map(GraftBridge.expression): _*))
}

/** A native entry with a SQL name: what the session extension and
  * [[graft.GraftCatalog.registerFunctions]] register for it.
  */
trait SqlNative extends Serializable {
  def name: String

  /** The expression over `children`; also the SQL builder. */
  def apply(children: Expression*): Expression

  protected def expressionClass: Class[_]

  def identifier: FunctionIdentifier = FunctionIdentifier(name)
  def info: ExpressionInfo = new ExpressionInfo(expressionClass.getName, name)
  def builder: Seq[Expression] => Expression = ch => apply(ch: _*)
}

/** One input of a signature: how the type-check message spells it, and
  * the test an argument passes at analysis — its type, and for a
  * `literal` input also its value (a plan-time constant the kernel
  * receives as-is).
  */
final case class In(sql: String, isType: DataType => Boolean,
    literal: Option[Any => Boolean] = None) {
  def accepts(e: Expression): Boolean = literal match {
    case None => isType(e.dataType)
    case Some(ok) => e match {
      case Literal(v, t) => v != null && isType(t) && ok(v)
      case _ => false
    }
  }
}

object In {
  /** The one type check of every native: `children` against `inputs`,
    * failing with "`<name> requires (…), got (…)`".
    */
  def check(name: String, inputs: Seq[In], children: Seq[Expression]): TypeCheckResult =
    if (children.length == inputs.length &&
        children.zip(inputs).forall { case (c, in) => in.accepts(c) })
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name requires ${inputs.map(_.sql).mkString("(", ", ", ")")}, " +
        s"got ${children.map(_.dataType.simpleString).mkString("(", ", ", ")")}")

  /** Any collation passes: kernels read the UTF-8 bytes, and string
    * results are UTF8_BINARY.
    */
  val string: In = In("string", _.isInstanceOf[StringType])
  val int: In = In("int", _ == IntegerType)
  val bigint: In = In("bigint", _ == LongType)
  val double: In = In("double", _ == DoubleType)

  /** An INT literal within `bound` (spelled after "int literal"). */
  def intLiteral(bound: String, ok: Int => Boolean): In =
    In(s"int literal $bound", _ == IntegerType, Some(v => ok(v.asInstanceOf[Int])))

  def array(of: In): In = In(s"array<${of.sql}>", {
    case ArrayType(et, _) => of.isType(et)
    case _ => false
  })

  def struct(fields: In*): In = In(fields.map(_.sql).mkString("struct<", ",", ">"), {
    case StructType(fs) => fs.length == fields.length &&
      fs.zip(fields).forall { case (f, in) => in.isType(f.dataType) }
    case _ => false
  })
}

/** Whether NULL inputs short-circuit to a NULL result (`propagate`) or
  * reach the kernel, and whether the kernel itself may return null. A
  * propagating function is nullable iff an input is, unless its kernel
  * may return null; a kernel that sees nulls always returns a value.
  */
sealed abstract class NullRule(val propagate: Boolean, val mayReturnNull: Boolean)

object NullRule {
  /** A NULL input gives NULL; the kernel always returns a value. */
  case object Propagate extends NullRule(true, false)
  /** A NULL input gives NULL, and so may the kernel: always nullable. */
  case object PropagateOrNull extends NullRule(true, true)
  /** The kernel receives NULL (object) inputs and always returns a value. */
  case object KernelSeesNull extends NullRule(false, false)
}

/** The one expression behind every [[NativeFunction]]. */
case class NativeScalar(fn: NativeFunction, children: IndexedSeq[Expression])
    extends Expression {

  override def prettyName: String = fn.name
  override def dataType: DataType = fn.dataType
  override def nullable: Boolean =
    fn.nulls.mayReturnNull || (fn.nulls.propagate && children.exists(_.nullable))
  override def foldable: Boolean = children.forall(_.foldable)
  // plans print `name(args)`, not the entry
  override protected def stringArgs: Iterator[Any] = children.iterator

  override def checkInputDataTypes(): TypeCheckResult =
    In.check(fn.name, fn.inputs, children)

  /** The kernel overload generated code calls: parameter classes are the
    * Java classes of the children's types.
    */
  @transient private lazy val method: java.lang.reflect.Method = {
    val dot = fn.kernel.lastIndexOf('.')
    Class.forName(fn.kernel.substring(0, dot)).getMethod(fn.kernel.substring(dot + 1),
      children.map(c => CodeGenerator.javaClass(c.dataType)): _*)
  }

  override def eval(input: InternalRow): Any = {
    val args = new Array[AnyRef](children.length)
    var i = 0
    while (i < args.length) {
      val v = children(i).eval(input)
      if (v == null && fn.nulls.propagate) return null
      args(i) = v.asInstanceOf[AnyRef]
      i += 1
    }
    try method.invoke(null, args: _*)
    catch { case e: java.lang.reflect.InvocationTargetException => throw e.getCause }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val args = children.map(_.genCode(ctx))
    val javaType = CodeGenerator.javaType(dataType)
    val default = CodeGenerator.defaultValue(dataType)
    def call(values: Seq[String]): String = s"${fn.kernel}(${values.mkString(", ")})"
    if (!fn.nulls.propagate) {
      ev.copy(code = code"""
        ${args.map(_.code.toString).mkString("\n")}
        $javaType ${ev.value} =
          ${call(args.map(a => s"${a.isNull} ? null : ${a.value}"))};""",
        isNull = FalseLiteral)
    } else {
      val assign = if (fn.nulls.mayReturnNull) {
        val r = ctx.freshName("result")
        val unboxed =
          if (CodeGenerator.isPrimitiveType(dataType)) s"$r.${javaType}Value()" else r
        s"""${CodeGenerator.boxedType(dataType)} $r = ${call(args.map(_.value.toString))};
           |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $unboxed; }
         """.stripMargin
      } else s"${ev.value} = ${call(args.map(_.value.toString))};"
      if (nullable) {
        // each input's code runs only once the inputs before it are non-null
        val body = children.zip(args).foldRight(s"${ev.isNull} = false;\n$assign") {
          case ((c, a), inner) => s"${a.code}\n${ctx.nullSafeExec(c.nullable, a.isNull.toString)(inner)}"
        }
        ev.copy(code = code"""
          boolean ${ev.isNull} = true;
          $javaType ${ev.value} = $default;
          $body""")
      } else {
        ev.copy(code = code"""
          ${args.map(_.code.toString).mkString("\n")}
          $javaType ${ev.value} = $default;
          $assign""", isNull = FalseLiteral)
      }
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)
}

/** How a sketch aggregate reaches Catalyst: one [[NativeAggregate]] entry
  * names the function, its input signature (the value input, then each
  * geometry size as an INT literal with its bound), its result type and
  * its buffer kernel at a given geometry. [[SketchAggregate]] is the one
  * aggregate that runs every entry.
  *
  * The geometry is a plan-time constant: a column-valued size would make
  * the aggregation buffer's shape data-dependent.
  */
abstract class NativeAggregate[B](
    val name: String,
    val inputs: Seq[In],
    val dataType: DataType,
    val kernel: Seq[Int] => SketchKernel[B]) extends SqlNative {

  /** A bare aggregate function: the analyzer wraps a registry builder's
    * result in an `AggregateExpression`, as for the built-in aggregates.
    */
  def apply(children: Expression*): Expression =
    SketchAggregate(this, children.toIndexedSeq)

  protected def expressionClass: Class[_] = classOf[SketchAggregate[_]]

  /** The DataFrame-API form over the value column and the geometry sizes. */
  protected def call(value: Column, sizes: Int*): Column =
    GraftBridge.column(SketchAggregate(this,
      (GraftBridge.expression(value) +: sizes.map(Literal(_))).toIndexedSeq)
      .toAggregateExpression())
}

/** The buffer arithmetic of one sketch at one geometry: the empty buffer,
  * one non-NULL value added, two partial buffers merged, the result value
  * and the buffer as shuffle bytes. `add` and `merge` may update their
  * first buffer in place.
  */
trait SketchKernel[B] extends Serializable {
  def empty: B
  def add(buf: B, value: Any): B
  def merge(a: B, b: B): B
  def result(buf: B): Any
  def toBytes(buf: B): Array[Byte]
  def fromBytes(bytes: Array[Byte]): B
}

/** The one expression behind every [[NativeAggregate]]: it checks its
  * inputs at analysis, skips NULL values and prints `name(args)`.
  */
case class SketchAggregate[B](
    fn: NativeAggregate[B],
    children: IndexedSeq[Expression],
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[B] {

  override def prettyName: String = fn.name
  override def dataType: DataType = fn.dataType
  override def nullable: Boolean = false
  // plans print `name(args)`, not the entry and the buffer offsets
  override protected def stringArgs: Iterator[Any] = children.iterator

  override def checkInputDataTypes(): TypeCheckResult =
    In.check(fn.name, fn.inputs, children)

  /** The kernel at this call's geometry: the literals after the value
    * input, read once (as `ApproximatePercentile` reads its accuracy).
    */
  @transient private lazy val kernel: SketchKernel[B] =
    fn.kernel(children.tail.map(_.eval().asInstanceOf[Int]))

  override def createAggregationBuffer(): B = kernel.empty

  override def update(buf: B, input: InternalRow): B = {
    val v = children.head.eval(input)
    if (v == null) buf else kernel.add(buf, v)
  }

  override def merge(a: B, b: B): B = kernel.merge(a, b)
  override def eval(buf: B): Any = kernel.result(buf)
  override def serialize(buf: B): Array[Byte] = kernel.toBytes(buf)
  override def deserialize(bytes: Array[Byte]): B = kernel.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): SketchAggregate[B] =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SketchAggregate[B] =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): SketchAggregate[B] = copy(children = newChildren)
}

object SketchAggregate {
  /** The one long-array codec of the sketch buffers: big-endian words. */
  def toBytes(words: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * words.length)
    var i = 0
    while (i < words.length) { bb.putLong(words(i)); i += 1 }
    bb.array()
  }

  def fromBytes(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val words = new Array[Long](bytes.length / 8)
    var i = 0
    while (i < words.length) { words(i) = bb.getLong; i += 1 }
    words
  }
}
