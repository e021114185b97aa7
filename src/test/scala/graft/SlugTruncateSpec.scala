package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.SlugTruncate

/** The native slug_truncate expression: codegen path, golden vector, null
  * handling, and the SQL-function registration surface.
  */
class SlugTruncateSpec extends AnyFunSuite with SharedSpark {

  test("native expression matches the reference algorithm on a column of rows") {
    import spark.implicits._
    // many rows → whole-stage codegen path, not the interpreted fallback
    val df = spark.range(1000).select(
      concat_ws("-", lit("radiacines"), lit("saugos"), lit("centro"), lit("isduotu"),
        lit("galiojanciu"), lit("licenciju"), lit("verstis"), lit("veikla"),
        lit("su"), lit("jonizuojanciosios"), lit("spinduliuotes"), lit("saltiniais"),
        lit("duomenys"), col("id")).as("slug"))
    val got = df.select(TextFunctions.slugify(col("slug"), 42).as("s")).distinct().collect()
    got.foreach { r =>
      assert(r.getString(0).length < 42)
      assert(r.getString(0).contains("--"))
    }
  }

  test("null input yields null (BinaryExpression null semantics)") {
    import org.apache.spark.sql.graftbridge.GraftBridge
    val c = GraftBridge.column(SlugTruncate(
      GraftBridge.expression(lit(null).cast("string")),
      org.apache.spark.sql.catalyst.expressions.Literal(10)))
    assert(spark.range(1).select(c.as("v")).collect()(0).isNullAt(0))
  }

  test("slug_truncate is usable from SQL after registration") {
    val reg = spark.sessionState.functionRegistry
    if (!reg.functionExists(SlugTruncate.identifier))
      reg.registerFunction(SlugTruncate.identifier, SlugTruncate.info, SlugTruncate.builder)
    val got = spark.sql(
      "SELECT slug_truncate('radiacines-saugos-centro-isduotu-galiojanciu-" +
        "licenciju-verstis-veikla-su-jonizuojanciosios-spinduliuotes-" +
        "saltiniais-duomenys', 42) AS s").collect()(0).getString(0)
    assert(got == "radiacines-saugos--duomenys-saltiniais")
  }
}
