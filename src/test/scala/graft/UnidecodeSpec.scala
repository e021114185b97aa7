package graft

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.UnidecodeOps

/** The widened transliteration surface (odgovlt.py:44 `unidecode` handles
  * any script). Golden vectors pin the Cyrillic/Greek romanization to the
  * Python `unidecode` package's documented output conventions, the NFD
  * fallback to combining-mark stripping, and the Latin repertoire to the
  * former translate-chain behavior (so the slug oracles stay byte-stable).
  */
class UnidecodeSpec extends AnyFunSuite with SharedSpark {

  private def uni(s: String): String =
    UnidecodeOps.ascii(UTF8String.fromString(s)).toString

  test("Latin repertoire identical to the former translate mapping") {
    assert(uni("Žalgiris ąčęėįšųūž ĄČĘĖĮŠŲŪŽ") === "Zalgiris aceeisuuz ACEEISUUZ")
    assert(uni("àáâãäåāăèéêë ÒÓÔÕÖØ ñÑ łŁ ÿŸ") === "aaaaaaaaeeee OOOOOO nN lL yY")
    assert(uni("straße ẞ") === "strasse SS")
  }

  test("Cyrillic romanization matches Python unidecode conventions") {
    assert(uni("Москва") === "Moskva")
    assert(uni("Вильнюс") === "Vil'nius")
    assert(uni("Юрий Гагарин") === "Iurii Gagarin")
    assert(uni("Щедрик") === "Shchedrik")
    assert(uni("ёж") === "iozh")
    assert(uni("объект") === "ob\"ekt")
    assert(uni("Київ") === "Kiiv") // Ukrainian і/ї
  }

  test("Greek romanization matches Python unidecode conventions") {
    assert(uni("Ελλάδα") === "Ellada")
    assert(uni("Θεσσαλονίκη") === "Thessalonike")
    assert(uni("ψυχή") === "psukhe")
    assert(uni("Ωμέγα") === "Omega")
    assert(uni("Οδυσσεύς") === "Odusseus") // final sigma ς → s
  }

  test("NFD fallback strips combining marks and re-enters the table") {
    assert(uni("ṛ ḉ ǘ") === "r c u") // dot-below / cedilla+acute / umlaut+acute
    assert(uni("Ȁȁ") === "Aa") // double grave — NFD-only, not in any table
  }

  test("ASCII fast path returns the input object unchanged") {
    val in = UTF8String.fromString("plain ascii 123 -_")
    assert(UnidecodeOps.ascii(in) eq in)
  }

  test("unmapped scripts pass through for slugify's strip to remove") {
    assert(uni("data 中 set") === "data 中 set")
    assert(uni("") === "")
  }

  // --- Column-level: the native expression inside whole-stage codegen ---

  test("slugifyNorm over mixed scripts through the codegen path") {
    import spark.implicits._
    // non-literal input so constant folding cannot bypass doGenCode
    val got = Seq(
      "Отчёт по данным",
      "Ψυχή και Σώμα",
      "Duomenų rinkinys — Москва",
      "Vilniaus universitetas")
      .toDF("title")
      .select(TextFunctions.slugifyNorm(col("title")).as("slug"))
      .collect().map(_.getString(0)).toSeq
    assert(got === Seq(
      "otchiot-po-dannym",
      "psukhe-kai-soma",
      "duomenu-rinkinys-moskva",
      "vilniaus-universitetas"))
  }

  test("the Cyrillic soft sign dies at the strip, not inside unidecode") {
    import spark.implicits._
    val got = Seq("Вильнюс").toDF("t")
      .select(TextFunctions.slugifyNorm(col("t")).as("slug"))
      .head().getString(0)
    assert(got === "vilnius")
  }
}
