package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the reference's slug length cap
  * (`/root/reference/odgovlt.py:50-69`, golden-pinned by
  * tests/test_odgovlt.py:391-399) — the one scalar in the surface that
  * built-in functions cannot express (SURVEY.md §7.4).
  *
  * A native `BinaryExpression` with `doGenCode` instead of a Scala UDF:
  * no Row boxing, no closure serialization, participates in whole-stage
  * codegen and constant-folding; the generated code calls the shared
  * algorithm directly on the already-normalized slug.
  */
case class SlugTruncate(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = StringType
  override def prettyName: String = "slug_truncate"

  override def nullSafeEval(slug: Any, len: Any): Any =
    UTF8String.fromString(graft.TextFunctions.truncateSlug(
      slug.asInstanceOf[UTF8String].toString, len.asInstanceOf[Int]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (s, l) =>
      "org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.TextFunctions.truncateSlug($s.toString(), $l))")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object SlugTruncate {
  val info = new ExpressionInfo(classOf[SlugTruncate].getName, "slug_truncate")
  val builder: Seq[Expression] => Expression = ch => SlugTruncate(ch(0), ch(1))
  val identifier: FunctionIdentifier = FunctionIdentifier("slug_truncate")
}

/** Session extension registering the native SQL functions:
  * `spark.sql.extensions=graft.functions.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(ext.injectFunction)
}

object GraftExtensions {

  /** Every native SQL function as `(identifier, info, builder)`: the one
    * list both the extension and [[graft.GraftCatalog.registerFunctions]]
    * register.
    */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (SlugTruncate.identifier, SlugTruncate.info, SlugTruncate.builder),
    (JsonProject.identifier, JsonProject.info, JsonProject.builder),
    (TagPipeline.identifier, TagPipeline.info, TagPipeline.builder),
    (CharTrigrams.identifier, CharTrigrams.info, CharTrigrams.builder),
    (DotProduct.identifier, DotProduct.info, DotProduct.builder),
    (WordShingles.identifier, WordShingles.info, WordShingles.builder),
    (QuantizeInt8.identifier, QuantizeInt8.info, QuantizeInt8.builder),
    (KMinValues.identifier, KMinValues.info, KMinValues.builder),
    (HllRegisters.identifier, HllRegisters.info, HllRegisters.builder),
    (CmsSketch.identifier, CmsSketch.info, CmsSketch.builder),
    (NgramDupStats.identifier, NgramDupStats.info, NgramDupStats.builder),
    (BloomBuild.identifier, BloomBuild.info, BloomBuild.builder),
    (BloomContains.identifier, BloomContains.info, BloomContains.builder),
    (HashedScore.identifier, HashedScore.info, HashedScore.builder),
    (MinhashSig.identifier, MinhashSig.info, MinhashSig.builder),
    (SimhashSketch.identifier, SimhashSketch.info, SimhashSketch.builder),
    (Simhash64Sketch.identifier, Simhash64Sketch.info, Simhash64Sketch.builder),
    (RollingFingerprint.identifier, RollingFingerprint.info, RollingFingerprint.builder),
    (Unidecode.identifier, Unidecode.info, Unidecode.builder),
    (CharStats.identifier, CharStats.info, CharStats.builder))
}
