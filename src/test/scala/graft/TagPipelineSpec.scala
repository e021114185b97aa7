package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native tag_pipeline expression must be element-for-element identical
  * to the declarative higher-order-function chain it replaced
  * ([[TextFunctions.packageTagsHof]]) — that chain is the executable spec,
  * already oracle-verified against DuckDB in q_sf5_package_tags.
  */
class TagPipelineSpec extends AnyFunSuite with SharedSpark {

  private val dir = "/root/testdata/sf0.001"

  private def bothForms(input: Seq[String]): Seq[(Seq[String], Seq[String])] = {
    import spark.implicits._
    input.toDF("s")
      .select(
        TextFunctions.packageTags(col("s")).as("native"),
        TextFunctions.packageTagsHof(col("s")).as("hof"))
      .as[(Seq[String], Seq[String])]
      .collect()
      .toSeq
  }

  test("native matches the HOF chain on adversarial inputs") {
    val inputs = Seq(
      "", " ", ";", ",", ";;;", " , ; , ",
      "Vienas,Du;Trys", "ACRONYM,Title case, lower",
      "Šaltiniai;Radiacinės SAUGOS duomenys",   // Lithuanian diacritics
      "a", "ab", "x" * 101, "x" * 100, "Aa" + "b" * 99,
      "tab\tseparated;new\nline", "  spaces   everywhere  ",
      "punct!!!,under_score,hy-phen,dot.dot",
      "Ü,Üü,üÜ", "Žodis žodis;ŽODIS",
      "mixed, Įvairūs; dalykai ,,",
      "emoji 😀 tag;数字 123")
    bothForms(inputs).zip(inputs).foreach { case ((native, hof), in) =>
      assert(native == hof, s"mismatch for input '$in'")
    }
  }

  test("NULL input is NULL on both forms") {
    import spark.implicits._
    val r = spark.sql("SELECT cast(NULL AS STRING) AS s")
      .select(
        TextFunctions.packageTags(col("s")).as("native"),
        TextFunctions.packageTagsHof(col("s")).as("hof"))
      .as[(Option[Seq[String]], Option[Seq[String]])].head()
    assert(r._1.isEmpty && r._2.isEmpty, s"expected NULL on both forms: $r")
  }

  test("native matches the HOF chain over the documents corpus text") {
    import spark.implicits._
    // null-safe inequality so NULL-valued rows can't hide a divergence
    val mismatches = Tables.table(spark, dir, "documents")
      .select(
        TextFunctions.packageTags(col("text")).as("native"),
        TextFunctions.packageTagsHof(col("text")).as("hof"))
      .filter(!(col("native") <=> col("hof")))
      .count()
    assert(mismatches == 0)
  }

  test("tag_pipeline is registered for SQL and codegen-compiled") {
    GraftCatalog.registerFunctions(spark)
    import spark.implicits._
    val r = spark.sql("SELECT tag_pipeline('Vienas,Du;TRYS keturi') AS tags")
      .as[Seq[String]].head()
    assert(r == Seq("vienas", "du", "trys keturi"))
    // literal inputs constant-fold away (a native-expression perk); a real
    // column keeps the expression in the executed plan, inside codegen
    Tables.table(spark, dir, "documents").limit(5)
      .createOrReplaceTempView("tp_docs")
    val df = spark.sql("SELECT tag_pipeline(text) AS tags FROM tp_docs")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("tag_pipeline"))
    assert(df.count() == 5)
  }
}
