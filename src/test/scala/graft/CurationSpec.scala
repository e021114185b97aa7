package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.Curation

/** Corpus-curation invariants (the DuckDB oracles pin exact values; these
  * pin the semantic properties that make the operators usable).
  */
class CurationSpec extends AnyFunSuite with SharedSpark {

  private val dir = "/root/testdata/sf0.001"

  test("decontaminate excludes benchmark docs and flags genuine overlap") {
    val out = Curation.decontaminate(spark, dir).cache()
    // benchmark rows never appear in the output
    assert(out.filter(col("doc_id") % Curation.BenchmarkModulus === 0).count() == 0)
    // verdict is consistent with the hit count
    assert(out.filter(col("keep") === (col("n_hits") > 0)).count() == 0)
    // cross-check one contaminated doc against a brute-force intersect —
    // and require one to exist, or the cross-check is vacuous
    val contaminated = out.filter(!col("keep")).limit(1).collect()
    assert(contaminated.nonEmpty,
      "fixture has no contaminated doc; the overlap cross-check never ran")
    contaminated.foreach { r =>
      val id = r.getLong(0)
      val docs = Tables.table(spark, dir, "documents")
      val grams = graft.llm.TextHash.shingles3(
        graft.llm.TextHash.tokens(col("text")))
      val benchGrams = docs
        .filter(col("doc_id") % Curation.BenchmarkModulus === 0)
        .select(explode(grams).as("g")).filter(col("g") =!= "")
        .distinct().collect().map(_.getString(0)).toSet
      val mine = docs.filter(col("doc_id") === id)
        .select(explode(grams).as("g")).collect().map(_.getString(0)).toSet
      assert(mine.intersect(benchGrams).nonEmpty,
        s"doc $id flagged contaminated but shares no benchmark shingle")
    }
    spark.catalog.clearCache()
  }

  test("pii redaction leaves no email or international phone behind") {
    val out = Curation.piiRedact(spark, dir).cache()
    // the planted raw line always carries both PII kinds
    assert(out.filter(!col("raw").contains("@example.com")).count() == 0)
    val leaked = out.filter(
      col("redacted").rlike(Curation.EmailPattern) ||
        col("redacted").rlike(Curation.PhonePattern)).count()
    assert(leaked == 0, "redacted text still matches a PII pattern")
    assert(out.filter(!col("redacted").contains("<EMAIL>")).count() == 0)
    assert(out.filter(!col("redacted").contains("<PHONE>")).count() == 0)
    spark.catalog.clearCache()
  }

  test("source mix keeps deterministic per-source fractions") {
    val out = Curation.sourceMix(spark, dir).cache()
    // every surviving row respects its own rate
    assert(out.filter(col("bucket") >= col("rate_pct")).count() == 0)
    // src19 keeps everything (rate 100)
    val total19 = Tables.table(spark, dir, "documents")
      .filter(col("source") === "src19").count()
    assert(out.filter(col("source") === "src19").count() == total19)
    // determinism: two runs agree exactly
    val again = Curation.sourceMix(spark, dir)
    assert(out.exceptAll(again).count() == 0 && again.exceptAll(out).count() == 0)
    spark.catalog.clearCache()
  }

  test("temperature mix flattens the source distribution (α=0.5 semantics)") {
    val out = Curation.sourceMixTemperature(spark, dir).cache()
    val bySrc = Tables.table(spark, dir, "documents")
      .filter(col("source").rlike("src[0-9]+"))
      .groupBy("source").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val rates = out.select("source", "keep_bp", "mix_weight").distinct()
      .collect().map(r => r.getString(0) -> ((r.getInt(1), r.getDouble(2)))).toMap
    // surviving sources' weights are a subset of a normalized distribution
    assert(rates.values.map(_._2).sum <= 1.0 + 1e-4)
    rates.foreach { case (s, (bp, w)) =>
      assert(bp >= 0 && bp <= 10000, s"$s keep_bp out of range: $bp")
      assert(w > 0.0 && w <= 1.0, s"$s weight out of range: $w")
    }
    // temperature flattening: a strictly larger source never gets a
    // strictly larger keep rate (keep_bp ∝ n^(α-1) = 1/sqrt(n))
    for {
      (s1, (bp1, _)) <- rates; (s2, (bp2, _)) <- rates
      if bySrc(s1) < bySrc(s2)
    } assert(bp1 >= bp2,
      s"$s1 (n=${bySrc(s1)}) keeps $bp1 bp < $s2 (n=${bySrc(s2)}) at $bp2 bp")
    // kept counts track the advertised rates (md5 buckets are uniform;
    // allow binomial slack)
    val kept = out.groupBy("source").agg(count(lit(1)).as("k")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    rates.foreach { case (s, (bp, _)) =>
      val expected = bySrc(s) * bp / 10000.0
      val slack = 4 * math.sqrt(expected) + 3
      assert(math.abs(kept.getOrElse(s, 0L) - expected) <= slack,
        s"$s kept ${kept.getOrElse(s, 0L)} vs expected $expected ± $slack")
    }
    // determinism: two runs agree exactly
    val again = Curation.sourceMixTemperature(spark, dir)
    assert(out.exceptAll(again).count() == 0 && again.exceptAll(out).count() == 0)
    spark.catalog.clearCache()
  }

  test("curation pipeline: every output row passed every stage") {
    import graft.llm.TextAnalysis
    val out = Curation.pipelineCurate(spark, dir).cache()
    val ids = out.select("doc_id")
    // stage 1: no contaminated (or benchmark) docs survive
    val dirty = Curation.decontaminate(spark, dir).filter(!col("keep"))
      .select("doc_id")
    assert(ids.intersect(dirty).count() == 0, "contaminated doc in output")
    assert(out.filter(col("doc_id") % Curation.BenchmarkModulus === 0).count() == 0)
    // stage 2: scores equal the standalone scorer's AND respect the
    // survivor-calibrated floor — recompute the P25 cutoff over the
    // decontaminated population and assert no output row sits below it
    val scores = TextAnalysis.modelQualityScore(spark, dir)
      .select(col("doc_id"), col("raw_score").as("full_raw"))
    assert(out.join(scores, "doc_id")
      .filter(col("raw_score") =!= col("full_raw")).count() == 0,
      "pipeline raw_score must equal the standalone scorer's")
    val survivors = scores.join(
      Curation.decontaminate(spark, dir).filter(col("keep")).select("doc_id"),
      "doc_id")
    val cutoff = survivors.agg(
      round(percentile(col("full_raw"), lit(TextAnalysis.CutPercentile)), 4))
      .head().getDouble(0)
    assert(out.filter(col("raw_score") < cutoff).count() == 0,
      s"output contains scores below the survivor-calibrated cutoff $cutoff")
    // stage 3: only src<N> sources at their deterministic keep rate
    assert(out.filter(!col("source").rlike("src[0-9]+")).count() == 0)
    // stage 4: split values well-formed and deterministic across runs
    assert(out.filter(!col("split").isin("train", "val")).count() == 0)
    val again = Curation.pipelineCurate(spark, dir)
    assert(out.exceptAll(again).count() == 0 && again.exceptAll(out).count() == 0)
    out.unpersist()
    spark.catalog.clearCache()
  }

  test("epoch shuffle: per-epoch permutations that decorrelate across epochs") {
    val rows = Curation.epochShuffle(spark, dir).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getLong(3)))
    val allDocs = Tables.table(spark, dir, "documents")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val byEpoch = rows.groupBy(_._1)
    assert(byEpoch.keySet == (1 to Curation.ShuffleEpochs).toSet)
    byEpoch.foreach { case (e, es) =>
      // every doc exactly once per epoch — a permutation, not a sample
      assert(es.map(_._4).toSet == allDocs && es.length == allDocs.size,
        s"epoch $e is not a permutation")
      // positions are contiguous 1..n within each (epoch, shard)
      es.groupBy(_._2).foreach { case (sh, ss) =>
        assert(ss.map(_._3).sorted.toSeq == (1 to ss.length),
          s"epoch $e shard $sh positions not contiguous")
      }
    }
    // epochs genuinely reshuffle: the (shard, pos) layout of epoch 1 is
    // not the layout of epoch 2
    def layout(e: Int) = byEpoch(e).sortBy(r => (r._2, r._3)).map(_._4).toSeq
    assert(layout(1) != layout(2) && layout(2) != layout(3),
      "epochs must draw different orders")
    // reproducible: a second run is byte-identical
    val again = Curation.epochShuffle(spark, dir).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getLong(3)))
    assert(rows.toSeq == again.toSeq)
  }

  test("budget curation replays the greedy admit; the budget line is tight") {
    val rows = Curation.curateBudget(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3),
        r.getBoolean(4)))
    assert(rows.nonEmpty)
    // greedy replay: admit in (score DESC, doc_id ASC) order
    val order = rows.sortBy(r => (-r._2, r._1))
    var cum = 0L
    order.foreach { case (id, _, nt, cumTok, keep) =>
      cum += nt
      assert(cumTok == cum, s"doc $id cumulative")
      assert(keep == (cum <= Curation.CurateBudgetTokens), s"doc $id verdict")
    }
    val kept = rows.filter(_._5)
    val keptTokens = kept.map(_._3.toLong).sum
    assert(kept.nonEmpty && kept.length < rows.length,
      "budget must genuinely select a strict subset")
    assert(keptTokens <= Curation.CurateBudgetTokens)
    // tight: the first rejected doc would have burst the budget
    val firstRejected = order.find(!_._5).get
    assert(keptTokens + firstRejected._3 > Curation.CurateBudgetTokens)
    spark.catalog.clearCache()
  }

  test("bpe fertility: consistent with the per-doc tokenization, >= 1 piece/word") {
    val fert = graft.llm.TextAnalysis.bpeFertility(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val perDoc = graft.llm.TextAnalysis.bpeTokenizeCorpus(spark, dir)
      .join(Tables.table(spark, dir, "documents").select("doc_id", "lang"),
        "doc_id")
      .groupBy("lang")
      .agg(sum("n_words").as("w"), sum("n_bpe_tokens").as("t"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(fert.nonEmpty && fert.keySet == perDoc.keySet)
    fert.foreach { case (lang, (w, t, ppm)) =>
      assert((w, t) == perDoc(lang), s"$lang totals disagree with per-doc")
      assert(ppm == t * 1000000L / w && ppm >= 1000000L, s"$lang fertility")
    }
    spark.catalog.clearCache()
  }
}
