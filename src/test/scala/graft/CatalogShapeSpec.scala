package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The SQL surface mounts declared queries, and the library keeps no
  * cross-call state. The scans below pin that `GraftCatalog` calls no
  * operator module (a view is a [[SparkEntry.queries]] entry under its
  * name, so it cannot drift from its query) and that no main source holds
  * a process-wide atomic.
  */
class CatalogShapeSpec extends AnyFunSuite {

  private def text(f: Path): String = new String(Files.readAllBytes(f), UTF_8)

  test("GraftCatalog calls no operator module") {
    val src = text(Paths.get("src/main/scala/graft/GraftCatalog.scala"))
    Seq("graft.ops.", "graft.llm.", "SyncPipeline").foreach { module =>
      assert(!src.contains(module), s"GraftCatalog.scala names $module")
    }
  }

  test("every view is a declared query under a unique name beside the base tables") {
    val views = GraftCatalog.Views.map(_._1)
    assert(views.size == 100)
    assert(views.distinct == views, views.diff(views.distinct))
    assert(views.toSet.intersect(Tables.names.toSet).isEmpty)
    val undeclared = GraftCatalog.Views.map(_._2).filterNot(SparkEntry.queries.contains)
    assert(undeclared.isEmpty, undeclared)
  }

  test("no main source uses java.util.concurrent.atomic") {
    val files = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 50, s"scanned ${files.size} main sources")
    val users = files.filter(f => text(f).contains("java.util.concurrent.atomic"))
    assert(users.isEmpty, users.mkString(", "))
  }
}
