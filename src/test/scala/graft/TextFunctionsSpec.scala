package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Ports every string-function assertion from the reference test suite
  * (`/root/reference/tests/test_odgovlt.py`), most importantly the slugify
  * truncation golden vector (tests/test_odgovlt.py:391-399).
  */
class TextFunctionsSpec extends AnyFunSuite with SharedSpark {

  private def one(c: org.apache.spark.sql.Column): Any = {
    spark.range(1).select(c.as("v")).collect()(0).get(0)
  }

  // --- slugify golden vector (tests/test_odgovlt.py:391-399) -----------
  val goldenTitle: String =
    "Radiacinės saugos centro išduotų galiojančių " +
      "licencijų verstis veikla su jonizuojančiosios spinduliuotės " +
      "šaltiniais duomenys"

  test("slugify golden vector: length-42 truncation") {
    val got = one(TextFunctions.slugify(lit(goldenTitle), 42))
    assert(got == "radiacines-saugos--duomenys-saltiniais")
    assert(got.toString.length < 42)
  }

  test("slugify of null/empty is empty string") {
    assert(one(TextFunctions.slugifyNorm(lit(null).cast("string"))) == "")
    assert(one(TextFunctions.slugifyNorm(lit(""))) == "")
  }

  test("slugify normalization: transliterate, strip, lower, dash-collapse") {
    assert(one(TextFunctions.slugifyNorm(lit("  Ąžuolų    šakos -- ir  lapai!  "))) ==
      "azuolu-sakos-ir-lapai")
  }

  test("truncateSlug leaves short slugs untouched") {
    assert(TextFunctions.truncateSlug("abc-def", 90) == "abc-def")
    assert(TextFunctions.truncateSlug(null, 90) == "")
  }

  // --- fixcase (odgovlt.py:32-36; tests/test_odgovlt.py:362-375) -------
  test("fixcase lowers Title, keeps ACRONYM / lone char / digits") {
    assert(one(TextFunctions.fixcase(lit("Keliai"))) == "keliai")
    assert(one(TextFunctions.fixcase(lit("ABC"))) == "ABC")
    assert(one(TextFunctions.fixcase(lit("E"))) == "E")
    assert(one(TextFunctions.fixcase(lit("1Abc"))) == "1Abc")
    // unicode: Lithuanian uppercase + lowercase
    assert(one(TextFunctions.fixcase(lit("Šaltiniai"))) == "šaltiniai")
  }

  // --- tagify (odgovlt.py:74-76) ----------------------------------------
  test("tagify collapses non-word runs incl. zero-width space") {
    assert(one(TextFunctions.tagify(lit("eismo​intensyvumas"))) ==
      "eismo intensyvumas")
    assert(one(TextFunctions.tagify(lit("!!a--b  c!!"))) == "a b c")
  }

  // --- tag pipeline (odgovlt.py:79-94; tests/test_odgovlt.py:362-388) --
  test("packageTags: split, fixcase, drop short/long, keep diacritics") {
    val long = "x" * 101
    val input = s"""Keliai; Eismo intensyvumas, "e", $long, Ežerai"""
    val got = one(TextFunctions.packageTags(lit(input)))
      .asInstanceOf[scala.collection.Seq[String]].toList
    // "e" survives as a 3-char tag? no: tagify('"e"')='e' len 1 → dropped
    assert(got == List("keliai", "eismo intensyvumas", "ežerai"))
  }

  test("packageTags preserves input order and handles ; and ,") {
    val got = one(TextFunctions.packageTags(lit("Bbb;Aaa,Ccc")))
      .asInstanceOf[scala.collection.Seq[String]].toList
    assert(got == List("bbb", "aaa", "ccc"))
  }
}
