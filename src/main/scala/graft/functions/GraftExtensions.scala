package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session extension registering the native SQL functions:
  * `spark.sql.extensions=graft.functions.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(ext.injectFunction)
}

object GraftExtensions {

  /** The scalar natives with a SQL name. `nearest_centroid` and
    * `nearest_code` are DataFrame-only: their table argument is an array of
    * structs that `graft.llm.Similarity` builds.
    */
  val scalars: Seq[NativeFunction] = Seq(SlugTruncate, TagPipeline, CharTrigrams,
    DotProduct, WordShingles, QuantizeInt8, NgramDupStats, BloomContains,
    HashedScore, MinhashSig, SimhashSketch, Simhash64Sketch, RollingFingerprint,
    Unidecode, CharStats)

  /** The sketch aggregates, all with a SQL name. */
  val aggregates: Seq[NativeAggregate[_]] = Seq(KMinValues, HllRegisters, CmsSketch, BloomBuild)

  /** Every native SQL function as `(identifier, info, builder)`: the one
    * list both the extension and [[graft.GraftCatalog.registerFunctions]]
    * register.
    */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    (scalars ++ aggregates).map(f => (f.identifier, f.info, f.builder)) :+
      ((JsonProject.identifier, JsonProject.info, JsonProject.builder))
}
