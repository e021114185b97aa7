package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

import graft.{SyncJob, SyncPipeline, Tables}
import graft.sources.{HttpSink, HttpSource}

/** A full harvest against the CKAN stub: gather → staging → import →
  * assemble → read the target back → classify → push, each phase one
  * timed layer call. Every cycle starts from the previous harvest with a
  * seeded [[Drift]] applied, and must push exactly the drift.
  *
  * Set-up runs the previous harvest: one cold harvest into an empty
  * target, one `package_create` per published package, whose create set
  * is checked against the published keys computed apart from Spark
  * (`--expected-keys`). One checked resync follows as warm-up.
  */
final class Harvest(b: Bench) extends Workload {
  import Harvest._
  import b.{spark, layer, out, rec}

  private val dir = b.a.data
  private val staging = s"${b.a.work}/staging"
  private val expected: Set[String] = b.a.expectedKeys.map { f =>
    val src = scala.io.Source.fromFile(f)
    try src.getLines().map(_.trim).filter(_.nonEmpty).toSet finally src.close()
  }.getOrElse(Set.empty)
  private var stub: CkanStub = _
  private var baseline: java.util.Map[String, String] = java.util.Map.of()
  private var drift: Drift = _
  private val empty = new java.util.HashMap[String, String]()

  def minCycles: Int = 5
  def steps: Seq[String] = Main.HarvestPhases

  def prepare(): Unit = {
    if (stub != null) stub.stop()
    stub = new CkanStub("o_orderkey", b.a.cpus)
    stub.reset(baseline)
    Seq("orders", "customer", "nation", "region", "lineitem", "part")
      .foreach(t => Tables.table(spark, dir, t).schema)
  }

  def warmUp(): Unit = {
    require(expected.nonEmpty, "a harvest needs --expected-keys")
    stub.reset(empty)
    harvestOnce(checkCold = true)
    baseline = new java.util.HashMap[String, String](stub.store)
    cycle(-1)
  }

  def cycle(i: Int): Option[Double] = {
    drift = Drift.generate(baseline.keySet().toArray(new Array[String](0)).toSeq,
      b.a.seed * 1000003L + i, DriftFrac, StaleDocs)
    stub.reset(drift.applyTo(baseline))
    harvestOnce(checkCold = false)
  }

  /** The read-back documents typed by the source schema, every field
    * nullable (a target document may lack any of them). A cold target
    * reads back as a zero-column frame; it becomes an empty frame of the
    * source schema.
    */
  private def typedTarget(raw: DataFrame, schema: StructType): DataFrame =
    if (raw.columns.isEmpty) spark.createDataFrame(b.sc.emptyRDD[Row], schema)
    else raw.select(schema.fields.toSeq.map { f =>
      (if (raw.columns.contains(f.name)) col(f.name) else lit(null))
        .cast(nullable(f.dataType)).as(f.name)
    }: _*)

  private def harvestOnce(checkCold: Boolean): Option[Double] = {
    val pushTimes = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    out.attempt("harvest") {
      val t0 = b.now()
      layer("gather")(SyncPipeline.gatherToStaging(spark, dir, staging))
      val (ok, nErr) = layer("import") {
        val (ok0, errs) = SyncPipeline.importFromStagingWithErrors(spark, dir, staging)
        val ok = ok0.persist()
        ok.count()
        (ok, errs.count())
      }
      val (packages, nPkg) = layer("assemble") {
        val p = SyncPipeline.assembled(spark, dir, Some(ok.drop("guid"))).persist()
        (p, p.count())
      }
      val target = layer("readback")(
        typedTarget(HttpSource(stub.url).load(spark), packages.schema))
      val (actions, byVerb) = layer("classify") {
        val acts = SyncPipeline.classifyAgainst(packages, target, "o_orderkey",
          owned = col("extras_kodas").isNotNull).persist()
        (acts, acts.groupBy("action").count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap)
      }
      val sink = new TimedSink(HttpSink(stub.url, entity = "package", idField = "o_orderkey"),
        b, (verb, s) => pushTimes(verb) += s)
      val tPush = b.now()
      layer("push")(SyncJob.applyActions(packages, actions, "o_orderkey", sink))
      val pushS = b.since(tPush)
      val wall = b.since(t0)
      Seq(ok, packages, actions, target).foreach(_.unpersist())

      if (checkCold) checkColdHarvest() else checkResync()
      Seq("create", "update", "delete").foreach { v =>
        rec.put(s"push.${v}_s", pushTimes(v))
        rec.put(s"sync.actions_$v", byVerb.getOrElse(v, 0L).toDouble)
      }
      rec.put("sync.packages", nPkg.toDouble)
      rec.put("sync.import_errors", nErr.toDouble)
      rec.put("source.pages", stub.searches.sum().toDouble)
      rec.put("push.calls_per_s", if (pushS > 0) stub.calls.size / pushS else 0.0)
      rec.put("ckan.requests", stub.requests.sum().toDouble)
      rec.put("ckan.http_2xx", stub.http2xx.sum().toDouble)
      rec.put("ckan.http_404", stub.http404.sum().toDouble)
      rec.put("ckan.http_409", stub.http409.sum().toDouble)
      rec.put("ckan.http_other", stub.httpOther.sum().toDouble)
      rec.put("ckan.busy_s", stub.busyNanos.sum() / 1e9)
      rec.put("push.useful_ratio", byVerb.values.sum.toDouble / stub.requests.sum().max(1L))
      wall
    }
  }

  private def checkColdHarvest(): Unit = {
    val byVerb = stub.callsByVerb
    val created = byVerb.getOrElse("create", Seq.empty)
    out.check("cold_harvest.creates_equal_f_status_keys",
      created.toSet == expected && created.size == expected.size,
      s"${created.size} creates (${created.toSet.size} distinct) vs ${expected.size} expected, " +
        s"missing ${(expected -- created).take(5)}, extra ${(created.toSet -- expected).take(5)}")
    out.check("cold_harvest.only_creates", byVerb.keySet.subsetOf(Set("create")),
      s"verbs ${byVerb.map { case (k, v) => k -> v.size }}")
  }

  private def checkResync(): Unit = {
    import scala.jdk.CollectionConverters._
    val byVerb = stub.callsByVerb
    def calls(v: String) = byVerb.getOrElse(v, Seq.empty)
    val exact = Seq("create" -> drift.dropped, "update" -> drift.patched,
      "delete" -> drift.staleOwned).forall { case (v, want) =>
      calls(v).toSet == want && calls(v).size == want.size
    }
    out.check("harvest_resync.calls_equal_drift",
      exact && byVerb.keySet.subsetOf(Set("create", "update", "delete")),
      s"calls ${byVerb.map { case (k, v) => k -> v.size }} vs drift create=" +
        s"${drift.dropped.size} update=${drift.patched.size} delete=${drift.staleOwned.size}")
    val touched = byVerb.values.flatten.toSet
    out.check("harvest_resync.foreign_untouched",
      drift.staleForeign.forall(k => !touched(k) && stub.store.containsKey(k)),
      s"foreign ${drift.staleForeign} touched or removed")
    out.check("harvest_resync.target_converged",
      stub.store.size == baseline.size + drift.staleForeign.size &&
        baseline.asScala.forall { case (k, v) => stub.store.get(k) == v },
      s"target holds ${stub.store.size} docs, baseline ${baseline.size}")
  }

  /** Phase times over the traced steps; per-cycle values over every
    * measured cycle.
    */
  def layers: Map[String, Double] = {
    val phases = Map("sync.gather_s" -> "gather", "sync.import_s" -> "import",
      "sync.assemble_s" -> "assemble", "sync.classify_s" -> "classify",
      "source.readback_s" -> "readback").map { case (m, p) => m -> b.traced.stepMed(p) }
    val sparkM = Main.HarvestPhases.flatMap(p => b.sparkLayer(s"spark.$p", p))
    phases ++ rec.values.keys.map(m => m -> rec.med(m)) ++ sparkM
  }

  override def close(): Unit = if (stub != null) { stub.stop(); stub = null }
}

object Harvest {
  /** Share of the target's documents patched, and again dropped, per cycle. */
  val DriftFrac = 0.01
  /** Stale owned and stale foreign documents added per cycle. */
  val StaleDocs = 5

  def nullable(t: DataType): DataType = t match {
    case ArrayType(e, _) => ArrayType(nullable(e), containsNull = true)
    case MapType(k, v, _) => MapType(k, nullable(v), valueContainsNull = true)
    case StructType(fs) =>
      StructType(fs.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    case other => other
  }
}
