package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.Curation

/** DSIR importance-resampling invariants. The DuckDB oracle pins the exact
  * relation; these pin the semantics independently: a pure-Scala re-derivation
  * of one document's weight (own md5, own tokenizer — no Spark columns), the
  * pool/selection set algebra, and the exactness preconditions the integer
  * arithmetic relies on.
  */
class DsirSpec extends AnyFunSuite with SharedSpark {

  private val dir = "/root/testdata/sf0.001"

  /** TextHash.md5Long re-derived without Spark: first 8 hex digits of md5
    * as an unsigned 32-bit value.
    */
  private def md5Long(sv: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(sv.getBytes("UTF-8"))
    java.lang.Long.parseLong(d.take(4).map(b => f"$b%02x").mkString, 16)
  }

  private def feats(text: String): Seq[String] = {
    val toks = text.split("\\s+", -1).toSeq
    toks.map("u:" + _) ++ toks.zip(toks.drop(1)).map { case (a, b) => s"b:$a $b" }
  }

  test("dsirWeights matches a pure-Scala re-derivation for one document") {
    // fit side: collect the full corpus's per-bucket counts locally (the
    // fixture is 500 docs) and rebuild the quantized ratio table by hand
    val docs = Tables.table(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("text"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val bucketOf = (f: String) =>
      md5Long("dsir:" + f) % Curation.DsirBuckets
    var tCnt = Map.empty[Long, Long].withDefaultValue(0L)
    var rCnt = Map.empty[Long, Long].withDefaultValue(0L)
    docs.foreach { case (_, src, text) =>
      val isT = src == Curation.DsirTargetSource
      feats(text).foreach { f =>
        val b = bucketOf(f)
        if (isT) tCnt = tCnt.updated(b, tCnt(b) + 1)
        else rCnt = rCnt.updated(b, rCnt(b) + 1)
      }
    }
    val tTot = tCnt.values.sum
    val rTot = rCnt.values.sum
    def ratio(b: Long): Long = {
      val pT = Curation.DsirProbScale * (tCnt(b) + 1) /
        (tTot + Curation.DsirBuckets) + 1
      val pR = Curation.DsirProbScale * (rCnt(b) + 1) /
        (rTot + Curation.DsirBuckets) + 1
      Curation.DsirRatioScale * pT / pR
    }
    // score side: re-derive the first raw-pool document's weight
    val (docId, _, text) = docs
      .filter(_._2 != Curation.DsirTargetSource).minBy(_._1)
    val fs = feats(text)
    val expectedW = fs.map(f => ratio(bucketOf(f))).sum
    val row = Curation.dsirWeights(spark, dir)
      .filter(col("doc_id") === docId).collect().head
    assert(row.getLong(1) == fs.length.toLong, "n_feats = 2n-1 features")
    assert(row.getLong(2) == expectedW, "weight = sum of bucket ratios")
    assert(row.getLong(3) == expectedW / fs.length, "avg = floor mean")
  }

  test("weights cover exactly the raw pool; ratio table is O(buckets)") {
    val docs = Tables.table(spark, dir, "documents")
    val raw = docs.filter(col("source") =!= Curation.DsirTargetSource)
    val w = Curation.dsirWeights(spark, dir).cache()
    assert(w.count() == raw.count(), "one weight per raw-pool document")
    assert(w.join(docs.filter(col("source") === Curation.DsirTargetSource),
      Seq("doc_id")).count() == 0, "no target document is scored")
    val ratios = Curation.dsirRatios(
      Curation.dsirBucketCounts(spark, dir)).cache()
    assert(ratios.count() <= Curation.DsirBuckets, "ratio table O(buckets)")
    assert(ratios.filter(col("ratio") < 0).count() == 0 &&
      w.filter(col("weight") < 0).count() == 0,
      "non-negative arithmetic throughout (the int64 exactness premise)")
  }

  test("dsirSelect is the top-quota of the weights relation") {
    val w = Curation.dsirWeights(spark, dir)
    val expect = w.orderBy(col("avg_ratio").desc, col("doc_id"))
      .limit(Curation.DsirQuota)
      .select(col("doc_id"), col("avg_ratio"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val got = Curation.dsirSelect(spark, dir)
      .select(col("doc_id"), col("avg_ratio"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got.size == math.min(Curation.DsirQuota, w.count()).toInt)
    assert(got.toSet == expect.toSet, "selection = top-quota by avg_ratio")
    // and the declared order is the ranking order
    assert(got == got.sortBy { case (id, avg) => (-avg, id) })
  }

  test("textDrift quantized probabilities match a pure-Scala recompute") {
    val mod = graft.llm.Dedup.IncrementModulus
    val docs = Tables.table(spark, dir, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    var bCnt = Map.empty[Long, Long].withDefaultValue(0L)
    var nCnt = Map.empty[Long, Long].withDefaultValue(0L)
    docs.foreach { case (id, text) =>
      feats(text).foreach { f =>
        val b = md5Long("dsir:" + f) % Curation.DsirBuckets
        if (id % mod == 0) nCnt = nCnt.updated(b, nCnt(b) + 1)
        else bCnt = bCnt.updated(b, bCnt(b) + 1)
      }
    }
    val (bTot, nTot) = (bCnt.values.sum, nCnt.values.sum)
    val out = Curation.textDrift(spark, dir).collect()
    assert(out.length <= Curation.DriftTopK)
    out.foreach { r =>
      val b = r.getLong(0)
      assert(r.getLong(1) == bCnt(b) && r.getLong(2) == nCnt(b),
        s"bucket $b counts")
      val pb = Curation.DsirProbScale * bCnt(b) / bTot
      val pn = Curation.DsirProbScale * nCnt(b) / nTot
      assert(r.getLong(3) == pb && r.getLong(4) == pn &&
        r.getLong(5) == math.abs(pn - pb), s"bucket $b probabilities")
    }
    // the report is genuinely the top slice: nothing outside it drifts
    // harder than its floor
    val floor = out.map(_.getLong(5)).min
    val allBuckets = (bCnt.keySet ++ nCnt.keySet).toSeq
    val reported = out.map(_.getLong(0)).toSet
    allBuckets.filterNot(reported).foreach { b =>
      val d = math.abs(Curation.DsirProbScale * nCnt(b) / nTot -
        Curation.DsirProbScale * bCnt(b) / bTot)
      assert(d <= floor, s"unreported bucket $b drifts $d > floor $floor")
    }
  }
}
