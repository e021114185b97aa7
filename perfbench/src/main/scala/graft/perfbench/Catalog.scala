package graft.perfbench

import graft.{SparkEntry, Tables}

/** One pass over declared queries in a seeded order, each written to the
  * noop sink (which, unlike `count()`, evaluates every projected column).
  * The warm-up pass computes each query's output digest instead and
  * checks it against its pin in `pins.json`; the digest plan shares the
  * query's stages, so it also warms their generated code.
  */
final class Catalog(b: Bench, order: Seq[String]) extends Workload {
  import b.{spark, layer, out}

  private val dir = b.a.data
  private val pins: Map[String, (Long, Long)] = b.a.pins.map { f =>
    import scala.jdk.CollectionConverters._
    val node = Json.mapper.readTree(new java.io.File(f))
    node.fieldNames().asScala.map { q =>
      q -> (node.get(q).get(0).asLong(), node.get(q).get(1).asLong())
    }.toMap
  }.getOrElse(Map.empty)

  def minCycles: Int = 1
  def steps: Seq[String] = order

  def prepare(): Unit = Tables.names.foreach(t => Tables.table(spark, dir, t).schema)

  private def noop(q: String): Unit =
    SparkEntry.queries(q)(spark, dir).write.format("noop").mode("overwrite").save()

  def warmUp(): Unit = {
    val unpinned = order.filterNot(pins.contains)
    require(unpinned.isEmpty, s"no pinned digest for $unpinned")
    order.foreach { q =>
      out.attempt(q) {
        val d = Stats.digest(SparkEntry.queries(q)(spark, dir))
        out.check(s"catalog.$q.digest", d == pins(q), s"digest $d, pinned ${pins(q)}")
      }
      spark.catalog.clearCache()
    }
  }

  def cycle(i: Int): Option[Double] = {
    val t0 = b.now()
    val ok = order.map { q =>
      val r = out.attempt(q)(layer(q)(noop(q)))
      // as the declared bench does: no query's cache outlives its run
      spark.catalog.clearCache()
      r.isDefined
    }
    if (ok.forall(identity)) Some(b.since(t0)) else None
  }

  def layers: Map[String, Double] = order.flatMap { q =>
    val util = b.sparkLayer(s"q.$q", q)(s"q.$q.cpu_util")
    Seq(s"q.$q.s" -> b.traced.stepMed(q), s"q.$q.cpu_util" -> util)
  }.toMap
}
