package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import scala.util.Try

import graft.functions.{GraftExtensions, NativeScalar, SketchAggregate}

/** Every native SQL function but `json_project` is one entry over its
  * kernel: a `NativeFunction` run by the one `NativeScalar` expression, or
  * a `NativeAggregate` run by the one `SketchAggregate`. The scan below
  * pins that no other main source writes its own expression members, so a
  * new native cannot come back as a hand-written Catalyst class; only
  * `JsonProject` (it carries a per-schema writer) does.
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

  test("generated code is written only by NativeScalar and JsonProject") {
    assert(sites("\\bdef\\s+doGenCode\\b".r) == Set("NativeScalar", "JsonProject"))
  }

  test("expression members are written only by the two shapes and JsonProject") {
    assert(sites(("\\bdef\\s+(nullSafeEval|withNewChildInternal|withNewChildrenInternal|" +
      "withNewMutableAggBufferOffset)\\b").r) ==
      Set("NativeScalar", "SketchAggregate", "JsonProject"))
  }

  test("every SQL function but json_project is built from an entry") {
    val built = GraftExtensions.functions.flatMap { case (id, _, builder) =>
      Try(builder(Seq.empty)).toOption.collect {
        case NativeScalar(fn, _) if fn.name == id.funcName => id.funcName
        case SketchAggregate(fn, _, _, _) if fn.name == id.funcName => id.funcName
      }
    }
    assert(GraftExtensions.functions.size == 20)
    assert(built.size == 19)
    assert(built.toSet == GraftExtensions.functions.map(_._1.funcName).toSet - "json_project")
    assert(built.toSet ==
      (GraftExtensions.scalars ++ GraftExtensions.aggregates).map(_.name).toSet)
  }
}
