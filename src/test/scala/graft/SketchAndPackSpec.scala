package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.KMinValues
import graft.llm.{Curation, Dedup, Sketches}

/** Invariants for the round-4 operators: the KMV sketch aggregate, span
  * dedup, and sequence packing (the DuckDB oracles pin exact values; these
  * pin the semantics that make them usable).
  */
class SketchAndPackSpec extends AnyFunSuite with SharedSpark {

  private val dir = "/root/testdata/sf0.001"

  test("kmin_values keeps the k smallest distinct hashes, merged across partitions") {
    import spark.implicits._
    // values with duplicates, shuffled across many partitions so the
    // partial-state merge path genuinely runs
    val vals = (1L to 1000L).flatMap(v => Seq(v, v)) // every value twice
    val df = spark.createDataset(scala.util.Random.shuffle(vals))
      .repartition(7).toDF("v")
    val got = df.agg(KMinValues(col("v"), 16).as("kmv"))
      .head().getSeq[Long](0)
    assert(got == (1L to 16L), s"expected [1..16], got $got")
  }

  test("kmin_values below capacity returns the whole distinct set, ascending") {
    import spark.implicits._
    val df = Seq(5L, 3L, 3L, 9L).toDF("v").repartition(3)
    val got = df.agg(KMinValues(col("v"), 64).as("kmv"))
      .head().getSeq[Long](0)
    assert(got == Seq(3L, 5L, 9L))
  }

  test("kmin_values skips nulls and survives an all-null group") {
    import spark.implicits._
    val df = Seq[(Int, Option[Long])]((1, Some(7L)), (1, None), (2, None))
      .toDF("g", "v")
    val rows = df.groupBy("g").agg(KMinValues(col("v"), 8).as("kmv"))
      .orderBy("g").collect()
    assert(rows(0).getSeq[Long](1) == Seq(7L))
    assert(rows(1).getSeq[Long](1).isEmpty)
  }

  test("kmv estimate tracks exact distinct within sketch error") {
    val out = Sketches.kmvDistinct(spark, dir).cache()
    out.collect().foreach { r =>
      val est = r.getAs[Double]("est_distinct")
      val exact = r.getAs[Long]("exact_distinct")
      // 1/sqrt(k-2) ~ 12.7% standard error; allow 4 sigma
      assert(math.abs(est - exact) <= math.max(4 * exact / math.sqrt(Sketches.KmvK - 2), 2.0),
        s"estimate $est too far from exact $exact")
    }
    out.unpersist()
  }

  test("kmv partial aggregation ships bounded state (partial_kmin_values in plan)") {
    val plan = Sketches.kmvDistinct(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_kmin_values"),
      s"map-side partial kmin_values missing from plan:\n$plan")
  }

  test("hll_registers matches a plain-Scala fold, merged across partitions") {
    import spark.implicits._
    import graft.functions.HllRegisters
    // deterministic pseudo-hashes in [0, 2^32), duplicated and shuffled
    // across 7 partitions so the element-wise-max merge path genuinely runs
    val hashes = (1 to 400).map(i => (i.toLong * 2654435761L) % (1L << 32))
    val df = spark.createDataset(scala.util.Random.shuffle(hashes ++ hashes))
      .repartition(7).toDF("h")
    val got = df.agg(HllRegisters(col("h"), Sketches.HllP).as("regs"))
      .head().getSeq[Int](0)
    val want = {
      val regs = new Array[Int](Sketches.HllM)
      hashes.foreach { h =>
        val bucket = (h >>> Sketches.HllW).toInt
        val suffix = h & ((1L << Sketches.HllW) - 1)
        val rank =
          if (suffix == 0L) Sketches.HllMaxRank
          else Sketches.HllMaxRank - (64 - java.lang.Long.numberOfLeadingZeros(suffix))
        if (rank > regs(bucket)) regs(bucket) = rank
      }
      regs.toSeq
    }
    assert(got.length == Sketches.HllM)
    assert(got == want, s"register mismatch:\n got=$got\nwant=$want")
  }

  test("hll_registers rejects hashes outside the 32-bit contract") {
    import spark.implicits._
    import graft.functions.HllRegisters
    val bad = Seq(1L << 32).toDF("h")
    val e = intercept[Exception] {
      bad.agg(HllRegisters(col("h"), Sketches.HllP)).collect()
    }
    assert(e.getMessage != null)
  }

  test("hll estimate tracks exact distinct within sketch error") {
    val out = Sketches.hllDistinct(spark, dir).cache()
    out.collect().foreach { r =>
      val est = r.getAs[Double]("est_distinct")
      val exact = r.getAs[Long]("exact_distinct")
      // 1.04/sqrt(m) ~ 13% standard error; allow 4 sigma (raw estimate,
      // no small-range correction — documented in Sketches.hllEstimate)
      assert(math.abs(est - exact) <= math.max(4 * 1.04 * exact / math.sqrt(Sketches.HllM), 3.0),
        s"estimate $est too far from exact $exact")
    }
    out.unpersist()
  }

  test("kmv union algebra: merging sketches IS the union's sketch") {
    import spark.implicits._
    // overlapping value sets split across frames: the k-smallest of the
    // merged sketches must equal the sketch built over the real union
    val xs = (1L to 300L).toDF("v")
    val ys = (200L to 500L).toDF("v")
    val k = 16
    val skX = xs.agg(KMinValues(col("v"), k).as("a"))
    val skY = ys.agg(KMinValues(col("v"), k).as("b"))
    val merged = skX.crossJoin(skY)
      .select(Sketches.kmvUnion(col("a"), col("b"), k).as("u"))
      .head().getSeq[Long](0)
    val direct = xs.union(ys).agg(KMinValues(col("v"), k).as("u"))
      .head().getSeq[Long](0)
    assert(merged == direct,
      s"union-of-sketches $merged != sketch-of-union $direct")
  }

  test("kmv overlap estimates stay in the sketch error class") {
    val r = Sketches.kmvOverlap(spark, dir).head()
    val (estU, exU) = (r.getAs[Double]("est_union"), r.getAs[Long]("exact_union"))
    val (estI, exI) = (r.getAs[Double]("est_inter"), r.getAs[Long]("exact_inter"))
    val sigma = 1.0 / math.sqrt(Sketches.KmvK - 2)
    assert(math.abs(estU - exU) <= math.max(4 * sigma * exU, 2.0),
      s"union estimate $estU vs exact $exU")
    // inclusion-exclusion compounds three estimates' errors: allow the
    // triple error budget on the (smaller) intersection, in UNION units
    assert(math.abs(estI - exI) <= math.max(12 * sigma * exU, 3.0),
      s"intersection estimate $estI vs exact $exI")
  }

  test("cms_sketch counts match a plain-Scala matrix, merged across partitions") {
    import spark.implicits._
    import graft.functions.CmsSketch
    val d = 3; val w = 8
    // explicit bucket triples, duplicated and spread over 7 partitions so
    // the element-wise-add merge path genuinely runs
    val items = (1 to 200).map(i => Seq(i % w, (i * 7) % w, (i * 13) % w))
    val df = spark.createDataset(scala.util.Random.shuffle(items ++ items))
      .repartition(7).toDF("b")
    val got = df.agg(CmsSketch(col("b"), d, w).as("cms"))
      .head().getSeq[Long](0)
    val want = {
      val m = new Array[Long](d * w)
      (items ++ items).foreach(bs =>
        bs.zipWithIndex.foreach { case (b, i) => m(i * w + b) += 1L })
      m.toSeq
    }
    assert(got == want)
    assert(got.grouped(w).map(_.sum).toSeq == Seq.fill(d)(items.length * 2L),
      "every row must hold the full item count")
  }

  test("cms_sketch rejects wrong-arity and out-of-range buckets") {
    import spark.implicits._
    import graft.functions.CmsSketch
    intercept[Exception] {
      Seq(Seq(1, 2)).toDF("b").agg(CmsSketch(col("b"), 3, 8)).collect()
    }
    intercept[Exception] {
      Seq(Seq(1, 2, 8)).toDF("b").agg(CmsSketch(col("b"), 3, 8)).collect()
    }
  }

  test("cms point estimates are one-sided over the WHOLE vocabulary") {
    import graft.llm.TextHash
    val toks = Tables.table(spark, dir, "documents")
      .select(explode(TextHash.tokens(col("text"))).as("term"))
    val matrix = toks
      .agg(graft.functions.CmsSketch(
        Sketches.cmsBuckets(col("term")), Sketches.CmsD, Sketches.CmsW))
      .head().getSeq[Long](0)
    val exact = toks.groupBy("term").count().collect()
      .map(r => r.getString(0) -> r.getLong(1))
    assert(exact.nonEmpty)
    val md = java.security.MessageDigest.getInstance("MD5")
    def bucket(i: Int, term: String): Int = {
      val hex = md.digest(s"cms$i:$term".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      (java.lang.Long.parseLong(hex, 16) % Sketches.CmsW).toInt
    }
    exact.foreach { case (term, n) =>
      val est = (0 until Sketches.CmsD)
        .map(i => matrix(i * Sketches.CmsW + bucket(i, term))).min
      assert(est >= n, s"$term: estimate $est under exact $n — CMS can never undercount")
    }
  }

  test("cms top-k ranks by estimate, never undercounts, and finds the true heads") {
    import graft.llm.TextHash
    val got = Sketches.cmsTopK(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.length == Sketches.CmsTopN)
    // ranking is by (est DESC, term) and the one-sided CMS bound holds
    val keys = got.map { case (t, e, _, _) => (-e, t) }.toSeq
    assert(keys == keys.sorted, "rows must arrive in (est DESC, term) order")
    got.foreach { case (t, e, x, o) =>
      assert(e >= x && o == e - x, s"$t: CMS can never undercount")
    }
    // every exact head with frequency above the sketch's worst-case
    // overcount must surface: its estimate is >= its exact count, and
    // nothing below it can out-rank CmsTopN such heads
    val exact = Tables.table(spark, dir, "documents")
      .select(explode(TextHash.tokens(col("text"))).as("term"))
      .groupBy("term").count().collect()
      .map(r => r.getString(0) -> r.getLong(1))
    val heads = exact.sortBy { case (t, n) => (-n, t) }.take(5).map(_._1).toSet
    assert(heads.subsetOf(got.map(_._1).toSet),
      s"true top-5 $heads must appear in the sketch top-${Sketches.CmsTopN}")
  }

  test("histogram quantiles replay plain-Scala and bound exact one-sidedly") {
    import graft.llm.Sketches
    val got = Sketches.histQuantiles(spark, dir).collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        (r.getLong(2), r.getInt(3), r.getInt(4), r.getLong(5), r.getLong(6)))
      .toMap
    val docs: Seq[(String, Long, Long)] = Tables.table(spark, dir, "documents")
      .select(col("lang"), col("n_chars"), col("doc_id")).collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val byLang = docs.groupBy(_._1)
    assert(got.keySet ==
      byLang.keySet.flatMap(l => Sketches.HistQs.map(l -> _)))
    for (((lang, q), (n, binEst, estHi, slack, exact)) <- got) {
      val ds = byLang(lang)
      assert(n == ds.size.toLong)
      // exact = value at rank ceil(q*n/100) under the (n_chars, id) order
      val sorted = ds.sortBy(d => (d._2, d._3)).map(_._2)
      val rank = (q * ds.size + 99) / 100 // ceil
      assert(exact == sorted(rank - 1),
        s"$lang p$q exact: got $exact want ${sorted(rank - 1)}")
      // est bin = first bin whose cumulative reaches the rank
      val bins = ds.map(d =>
        math.min(d._2 / Sketches.HistW, (Sketches.HistB - 1).toLong).toInt)
      val wantBin = (0 until Sketches.HistB)
        .find(b => bins.count(_ <= b) * 100 >= q * ds.size).get
      assert(binEst == wantBin)
      assert(estHi == (wantBin + 1) * Sketches.HistW)
      // one-sided: the bin's upper edge can never undershoot the exact
      // value (the CMS overcount convention), and by at most one bin
      assert(slack == estHi - exact)
      assert(slack >= 0, s"$lang p$q: est $estHi under exact $exact")
      assert(slack <= Sketches.HistW,
        s"$lang p$q: slack $slack exceeds one bin width")
    }
  }

  test("span dedup keeps first occurrence only and reassembles in order") {
    val out = Dedup.spanDedup(spark, dir).cache()
    val docs = Tables.table(spark, dir, "documents").count()
    assert(out.count() == docs)
    // re-splitting every cleaned doc into spans must yield globally
    // distinct spans (the defining property of the operator)
    val reSpans = out.filter(col("clean_text") =!= "")
      .select(explode(split(col("clean_text"), " ")).as("tok")) // sanity: tokens survive
    assert(reSpans.count() > 0)
    val spanCounts = out.agg(sum(col("n_kept"))).head().getLong(0)
    // total kept spans == distinct spans across the corpus
    val distinctSpans = {
      val toks = graft.llm.TextHash.tokens(col("text"))
      val n = greatest(ceil(size(col("toks")).cast("double") / Dedup.SpanTokens).cast("int"), lit(1))
      Tables.table(spark, dir, "documents")
        .withColumn("toks", toks)
        .select(explode(transform(sequence(lit(0), n - 1),
          i => array_join(slice(col("toks"), i * Dedup.SpanTokens + 1, lit(Dedup.SpanTokens)), " "))).as("span"))
        .distinct().count()
    }
    assert(spanCounts == distinctSpans,
      s"kept $spanCounts spans but corpus has $distinctSpans distinct spans")
    out.unpersist()
  }

  test("sequence packing: offsets advance by token count within a (lang, shard) stream") {
    val out = Curation.packSequences(spark, dir).cache()
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang"), col("shard")).orderBy(col("doc_id"))
    // position within the shard's own bin namespace
    val localPos = (col("bin") - col("shard") * Curation.PackShardBins) *
      Curation.PackBudget + col("bin_offset")
    val bad = out
      .withColumn("prev_end", lag(localPos + col("n_tokens"), 1).over(w))
      .filter(col("prev_end").isNotNull && col("prev_end") =!= localPos)
    assert(bad.count() == 0,
      "token positions must be contiguous within each (lang, shard) stream")
    // offsets stay inside the budget
    assert(out.filter(col("bin_offset") < 0 ||
      col("bin_offset") >= Curation.PackBudget).count() == 0)
    // bin namespaces are disjoint: every bin lands inside its shard's range
    assert(out.filter(
      floor(col("bin") / Curation.PackShardBins).cast("long") =!= col("shard"))
      .count() == 0, "a bin escaped its shard's namespace")
    // shards are the declared doc_id ranges
    assert(out.filter(
      floor(col("doc_id") / Curation.PackShardDocs).cast("long") =!= col("shard"))
      .count() == 0)
    out.unpersist()
  }

  test("model weights: the driver-side MD5 derivation matches Spark's md5Long") {
    import graft.llm.{TextAnalysis, TextHash}
    // the weight vector is computed with java.security MD5 on the driver
    // and inlined as a literal; the BUCKETS are hashed with the md5Long
    // column at runtime — this pins the two derivations to the same family
    val sparkSide = spark.range(TextAnalysis.ModelBuckets)
      .select((TextHash.md5Long(
        concat(lit("w:"), col("id").cast("string"))) % 17 - 8).as("w"))
      .collect().map(_.getLong(0)).toSeq
    assert(sparkSide == TextAnalysis.modelWeights,
      "driver-side weight derivation diverged from the engine hash")
  }

  test("model quality score: raw score is the exact sum of bucket weights") {
    import graft.llm.TextAnalysis
    val out = TextAnalysis.modelQualityScore(spark, dir).cache()
    // keep verdict is exactly raw_score > 0, score is raw/n at 6 digits
    assert(out.filter((col("raw_score") > 0) =!= col("keep")).count() == 0)
    assert(out.filter(
      abs(col("score") - round(col("raw_score").cast("double") / col("n_tokens"), 6)) > 0).count() == 0)
    // scores are bounded by the weight range
    assert(out.filter(col("score") > 8.0 || col("score") < -8.0).count() == 0)
    out.unpersist()
  }

  test("calibrated cut drops about the bottom quartile, never more than half") {
    import graft.llm.TextAnalysis
    val out = TextAnalysis.calibratedQualityCut(spark, dir).cache()
    val total = out.count()
    val dropped = out.filter(!col("keep")).count()
    // P25 cut: dropped fraction is <= 25% by definition (ties keep), and
    // must be positive unless a quarter of the corpus shares one score
    assert(dropped <= total / 2, s"cut dropped $dropped of $total")
    assert(out.filter(col("keep") =!= (col("raw_score") >= col("cutoff"))).count() == 0)
    assert(out.select(col("cutoff")).distinct().count() == 1,
      "cutoff must be one global scalar")
    out.unpersist()
  }

  test("bpe pairs: vocabulary-weighted counts equal the naive corpus-level count") {
    import graft.llm.{TextAnalysis, TextHash}
    val got = TextAnalysis.bpePairs(spark, dir).cache()
    // the whole point of counting over the vocabulary is that it must be
    // EXACTLY the corpus-level count — recompute it the naive way (explode
    // every corpus token, then its char pairs) and compare the full top-N
    val naive = Tables.table(spark, dir, "documents")
      .select(explode(TextHash.tokens(col("text"))).as("term"))
      .select(explode(when(length(col("term")) >= 2,
        transform(sequence(lit(1), length(col("term")) - 1),
          i => col("term").substr(i, lit(2))))
        .otherwise(array().cast("array<string>"))).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("weight"))
      .orderBy(col("weight").desc, col("pair"))
      .limit(TextAnalysis.BpeTopN)
    assert(got.collect().toSeq == naive.collect().toSeq,
      "vocab-weighted BPE pair counts must equal the corpus-level count")
    // every candidate is a genuine 2-char window
    assert(got.filter(length(col("pair")) =!= 2).count() == 0)
    got.unpersist()
  }
}
