package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import scala.util.Try

import graft.functions.{GraftExtensions, NativeScalar}

/** Every native scalar function is one `NativeFunction` entry over its
  * kernel, run by the one `NativeScalar` expression. The scan below pins
  * that no main source writes its own expression members, so a new native
  * cannot come back as a hand-written Catalyst class; only `JsonProject`
  * (it carries a per-schema writer) and the four sketch aggregates do.
  */
class NativeShapeSpec extends AnyFunSuite {

  private val topLevel = "^(?:final |private |sealed |abstract |case )*(?:class|object|trait) (\\w+)".r

  /** The top-level definition around each main-source line matching `rx`. */
  private def sites(rx: scala.util.matching.Regex): Set[String] = {
    val files = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 50, s"scanned ${files.size} main sources")
    files.flatMap { (f: Path) =>
      var owner = s"$f (top of file)"
      Files.readAllLines(f).asScala.flatMap { line =>
        topLevel.findFirstMatchIn(line).foreach(m => owner = m.group(1))
        rx.findFirstIn(line).map(_ => owner)
      }
    }.toSet
  }

  private val aggregates = Set("KMinValues", "HllRegisters", "CmsSketch", "BloomBuild")

  test("generated code is written only by NativeScalar and JsonProject") {
    assert(sites("\\bdef\\s+doGenCode\\b".r) == Set("NativeScalar", "JsonProject"))
  }

  test("expression members are written only by the shape, JsonProject and the aggregates") {
    assert(sites("\\bdef\\s+(nullSafeEval|withNewChildInternal|withNewChildrenInternal)\\b".r) ==
      Set("NativeScalar", "JsonProject") ++ aggregates)
  }

  test("every scalar SQL function is built from a NativeFunction entry") {
    val nonScalar = Set("json_project", "kmin_values", "hll_registers", "cms_sketch", "bloom_build")
    val built = GraftExtensions.functions.flatMap { case (id, _, builder) =>
      Try(builder(Seq.empty)).toOption.collect {
        case NativeScalar(fn, _) if fn.name == id.funcName => id.funcName
      }
    }
    assert(GraftExtensions.functions.size == 20)
    assert(built.toSet == GraftExtensions.functions.map(_._1.funcName).toSet -- nonScalar)
    assert(built.toSet == GraftExtensions.scalars.map(_.name).toSet)
  }
}
