package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.llm.{Dedup, Similarity, TextAnalysis, TextHash}

/** Behavioral checks for the LLM-pipeline operators on the sf0.001 fixture
  * (the DuckDB oracle pins exact values; these pin semantics: recall of
  * planted near-dups, sketch locality, ranking sanity).
  */
class LlmOpsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sf = "/root/testdata/sf0.001"

  test("minhash LSH finds every near-dup pair of the unblocked ground truth") {
    // ground truth: unblocked all-pairs jaccard >= 0.5 (LSH is not
    // lang-blocked, unlike ngramJaccard, so compare against the full set)
    val docs = Tables.table(spark, sf, "documents")
      .select(col("doc_id"), TextHash.shingles3(TextHash.tokens(col("text"))).as("grams"))
    val truth = docs.as("a").join(docs.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        TextHash.jaccard(col("a.grams"), col("b.grams")).as("jac"))
      .filter(col("jac") >= 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLsh(spark, sf)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty, "fixture should contain planted near-dup pairs")
    // exact-verified candidates can only be true near-dups...
    assert(lsh.subsetOf(truth))
    // ...and at jaccard>=0.5 with 8 bands x 4 rows each pair is caught with
    // probability 1 - (1 - j^4)^8 ≈ 1 for the planted j≈0.96 pairs.
    assert(lsh == truth)
  }

  test("incremental dedup matches the unblocked delta-vs-base ground truth") {
    val docs = Tables.table(spark, sf, "documents")
      .select(col("doc_id"), TextHash.shingles3(TextHash.tokens(col("text"))).as("grams"))
    val isDelta = col("doc_id") % Dedup.IncrementModulus === 0
    // ground truth: per delta doc, the number of base docs at jaccard >= 0.5
    val truth = docs.filter(isDelta).as("d")
      .join(docs.filter(!isDelta).as("b"), expr("true"))
      .select(col("d.doc_id").as("doc_id"),
        TextHash.jaccard(col("d.grams"), col("b.grams")).as("jac"))
      .filter(col("jac") >= Dedup.JaccardThreshold)
      .groupBy("doc_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = Dedup.incrementalDedup(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(truth.nonEmpty, "fixture should plant delta-base near-dups")
    for ((id, n, keep) <- got) {
      assert(n == truth.getOrElse(id, 0L),
        s"delta doc $id: got $n base dups, ground truth ${truth.getOrElse(id, 0L)}")
      assert(keep == (n == 0L))
    }
  }

  test("minhash estimator: bounded in [0,1] and calibrated on planted near-dups") {
    val est = Dedup.minhashEstimate(spark, sf).cache()
    assert(est.filter(col("est_jac") < 0 || col("est_jac") > 1).count() == 0)
    // every exact near-dup candidate (jac >= 0.5) must be estimated within
    // the k=32 estimator's tail: 4σ ≈ 0.36 at j=0.5 — a loose bound whose
    // violation means broken arithmetic, not bad luck
    assert(est.filter(col("jac") >= 0.5 && col("abs_err") > 0.36).count() == 0,
      "estimator diverged from exact Jaccard beyond the k=32 error bound")
    est.unpersist()
  }

  test("simhash: near-identical docs collide within hamming<=6") {
    import spark.implicits._
    val docs = Seq(
      (1L, "en", "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "en", "the quick brown fox jumps over the lazy dog again and again tonight"),
      (3L, "en", "completely different words about spark shuffles and broadcast joins")
    ).toDF("doc_id", "lang", "text")
    val sk = docs.select(col("doc_id"), TextHash.simhash32(TextHash.tokens(col("text"))).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    assert(ham(sk(1L), sk(2L)) <= 6)
    assert(ham(sk(1L), sk(3L)) > 6)
  }

  test("retrieve+rerank: results drawn from the cosine candidates, ranked by overlap") {
    import graft.llm.Similarity
    import graft.functions.DotProduct
    import org.apache.spark.sql.expressions.Window
    // recompute the stage-1 candidate set independently (k=10 by cosine,
    // same rounding and tie-break) — every reranked pair must come from it
    val c = Tables.table(spark, sf, "embeddings")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("nv", sqrt(DotProduct(col("v"), col("v"))))
    val q = c.filter(col("vec_id") < Similarity.NQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nv").as("nq"))
    val cand = c.join(q, col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        round(DotProduct(col("qv"), col("v")) / (col("nq") * col("nv")), 9).as("cos"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rk") <= Similarity.RerankCandidates)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val got = Similarity.retrieveRerank(spark, sf).collect()
    assert(got.nonEmpty)
    for (r <- got) {
      assert(cand.contains((r.getLong(0), r.getLong(2), r.getDouble(3))),
        s"reranked pair (${r.getLong(0)}, ${r.getLong(2)}) not a stage-1 candidate")
    }
    for (qid <- got.map(_.getLong(0)).distinct) {
      val rows = got.filter(_.getLong(0) == qid).sortBy(_.getInt(1))
      assert(rows.map(_.getInt(1)).toSeq == (1 to rows.length),
        s"ranks not contiguous for query $qid")
      // final order is by overlap (desc) first — cosine only tie-breaks
      val overlaps = rows.map(_.getDouble(4)).toSeq
      assert(overlaps == overlaps.sorted.reverse, s"overlap order broken for $qid")
    }
    assert(got.forall(r => r.getLong(0) != r.getLong(2)))
  }

  test("langid confusion cells replay from the detector output") {
    import graft.llm.TextAnalysis
    val preds = TextAnalysis.langId(spark, sf).collect()
      .map(r => (r.getString(1), r.getString(2)))
    val want = preds.groupBy(identity).map { case ((l, p), xs) =>
      (l, p) -> xs.length.toLong }
    val totals = preds.groupBy(_._1).map { case (l, xs) => l -> xs.length.toLong }
    val got = TextAnalysis.langIdConfusion(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4), r.getLong(5)))
    assert(got.nonEmpty)
    assert(got.map(g => (g._1, g._2) -> g._3).toMap == want)
    got.foreach { case (l, p, n, tot, correct, ppm) =>
      assert(tot == totals(l) && correct == (l == p)
        && ppm == n * 1000000L / tot, s"cell ($l,$p)")
    }
    // non-vacuous: the detector gets some right and some wrong
    assert(got.exists(_._5) && got.exists(!_._5))
    // cells sum back to the corpus
    assert(got.map(_._3).sum == preds.length.toLong)
  }

  test("containment pairs replay plain-Scala; truncation dups surface") {
    import graft.llm.{Dedup, TextHash}
    val sh = Tables.table(spark, sf, "documents")
      .select(col("doc_id"),
        TextHash.shingles3(TextHash.tokens(col("text"))).as("g"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    val df = sh.values.toSeq.flatten.groupBy(identity)
      .map { case (g, os) => g -> os.size }
    val banded: Map[Long, Set[String]] =
      sh.map { case (id, gs) => id -> gs.filter(df(_) <= Dedup.ContainMaxDf) }
    val thr = math.round(Dedup.ContainThreshold * 100)
    val want = (for {
      (a, ga) <- sh.toSeq; (b, gb) <- sh.toSeq
      if a != b && sh(a).size <= sh(b).size
      // candidates only through df-banded shared shingles (declared
      // semantics: boilerplate grams cannot create a pair)
      if banded(a).intersect(banded(b)).nonEmpty
      inter = ga.intersect(gb).size
      if inter * 100 >= ga.size * thr
    } yield (a, b, inter, ga.size, gb.size,
      inter.toLong * 1000000L / ga.size)).sortBy(t => (t._1, t._2))
    val got = Dedup.containmentPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3),
        r.getInt(4), r.getLong(5))).toSeq
    spark.catalog.clearCache()
    assert(got == want)
    // the corpus really contains truncation dups: full-containment pairs
    // with strictly larger outers exist (the fixture's truncations are
    // shallow, so Jaccard also sees them — the operator's value is the
    // deep-truncation case, pinned by semantics rather than this corpus)
    assert(got.exists(p => p._6 == 1000000L && p._4 < p._5))
    assert(got.forall(p => p._6 >= thr * 10000L))
  }

  test("mmr: plain-Scala greedy over the candidate/pair frames replays exactly") {
    import graft.llm.Similarity
    import graft.functions.DotProduct
    import org.apache.spark.sql.expressions.Window
    // stage-1 candidates and the pairwise sim matrix, derived with the
    // same rounding/tie-break as the operator's own fragments — the REPLAY
    // target is the sequential greedy itself
    val c = Tables.table(spark, sf, "embeddings")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("nv", sqrt(DotProduct(col("v"), col("v"))))
    val q = c.filter(col("vec_id") < Similarity.NQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nv").as("nq"))
    val cand = c.join(q, col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        round(DotProduct(col("qv"), col("v")) / (col("nq") * col("nv")), 9)
          .as("rel"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("rel").desc, col("vec_id"))))
      .filter(col("rk") <= Similarity.MmrCandidates)
      .select("q_id", "vec_id", "rel").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val vecs = c.select("vec_id", "v", "nv").collect()
      .map(r => r.getLong(0) -> (r.getSeq[Double](1), r.getDouble(2))).toMap
    def cos(a: Long, b: Long): Double = {
      val ((va, na), (vb, nb)) = (vecs(a), vecs(b))
      val d = va.zip(vb).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y }
      BigDecimal(d / (na * nb))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    // greedy MMR per query in plain Scala
    val want = cand.groupBy(_._1).toSeq.flatMap { case (qid, cs) =>
      var remaining = cs.map(t => (t._2, t._3)).toSeq
      var sel = Vector.empty[(Long, Int, Long, Double, Double, Double)]
      (1 to Similarity.MmrK).foreach { r =>
        val scored = remaining.map { case (id, rel) =>
          val maxsim = if (sel.isEmpty) 0.0
            else sel.map(s => cos(id, s._3)).max
          (id, rel, maxsim, 2 * rel - maxsim)
        }
        val pick = scored.minBy { case (id, _, _, mmr) => (-mmr, id) }
        sel :+= ((qid, r, pick._1, pick._2, pick._3, pick._4))
        remaining = remaining.filterNot(_._1 == pick._1)
      }
      sel
    }.sortBy(t => (t._1, t._2))
    val got = Similarity.mmrDiversify(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5))).toSeq
    assert(got == want)
    // diversification BITES on the fixture: for some query the selection
    // order departs from the pure-relevance order
    val departed = got.groupBy(_._1).exists { case (_, rs) =>
      val byRank = rs.sortBy(_._2).map(_._3).toSeq
      val byRel = rs.sortBy(r => (-r._4, r._3)).map(_._3).toSeq
      byRank != byRel
    }
    assert(departed, "MMR never re-ordered anything — the fixture is vacuous")
    // at the declared pool (candidates > k) every round picks — no skip
    assert(Similarity.lastMmrRounds.get == Similarity.MmrK)
    // convergence-skip: with the candidate pool SMALLER than k, the
    // greedy exhausts and the remaining rounds must be skipped — output
    // is the complete per-query pool, rank-contiguous
    val small = Similarity.mmrDiversify(spark, sf, k = Similarity.MmrK,
        candidates = 2).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    // 2 productive rounds + the empty probing round that detects
    // exhaustion (the GraphOps counting convention) — rounds 4..5 skip
    assert(Similarity.lastMmrRounds.get == 3,
      s"executed ${Similarity.lastMmrRounds.get} rounds on an exhausted pool")
    val perQ = small.groupBy(_._1)
    assert(perQ.nonEmpty && perQ.values.forall(rs =>
      rs.map(_._2).sorted.toSeq == (1 to 2).toSeq),
      "exhausted-pool selection is not the complete rank-contiguous pool")
    spark.catalog.clearCache()
  }

  test("rrf: fusion replays from independent rank lists; both lists contribute") {
    import graft.llm.{Similarity, TextHash}
    import graft.functions.DotProduct
    import org.apache.spark.sql.expressions.Window
    // independent dense list
    val c = Tables.table(spark, sf, "embeddings")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("nv", sqrt(DotProduct(col("v"), col("v"))))
    val q = c.filter(col("vec_id") < Similarity.NQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nv").as("nq"))
    val dense = c.join(q, col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("id"),
        round(DotProduct(col("qv"), col("v")) / (col("nq") * col("nv")), 9).as("sc"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("sc").desc, col("id"))))
      .filter(col("rk") <= Similarity.RrfDepth)
      .select("q_id", "id", "rk").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    // independent sparse list
    val sh = Tables.table(spark, sf, "documents")
      .select(col("doc_id"), TextHash.shingles3(TextHash.tokens(col("text"))).as("g"))
    val qg = sh.filter(col("doc_id") < Similarity.NQueries)
      .select(col("doc_id").as("q_id"), col("g").as("qg"))
    val sparse = sh.join(qg, col("doc_id") =!= col("q_id"))
      .select(col("q_id"), col("doc_id").as("id"),
        round(TextHash.jaccard(col("qg"), col("g")), 9).as("sc"))
      // zero-overlap docs carry no lexical signal and get no sparse rank
      .filter(col("sc") > 0)
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("sc").desc, col("id"))))
      .filter(col("rk") <= Similarity.RrfDepth)
      .select("q_id", "id", "rk").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    // plain-Scala fusion
    val want = (dense.keySet ++ sparse.keySet).groupBy(_._1).flatMap {
      case (qid, keys) =>
        val fused = keys.toSeq.map { k =>
          val rrf = dense.get(k).map(r => 1000000L / (Similarity.RrfC + r))
            .getOrElse(0L) +
            sparse.get(k).map(r => 1000000L / (Similarity.RrfC + r))
              .getOrElse(0L)
          (k._2, dense.get(k), sparse.get(k), rrf)
        }.sortBy { case (id, _, _, rrf) => (-rrf, id) }
          .take(Similarity.RrfTopK)
        fused.zipWithIndex.map { case ((id, dr, sr, rrf), i) =>
          (qid, i + 1, id, dr, sr, rrf)
        }
    }.toSet
    val got = Similarity.rrfFusion(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getInt(3)),
        if (r.isNullAt(4)) None else Some(r.getInt(4)),
        r.getLong(5))).toSet
    assert(got == want)
    // the fixture must exercise genuine hybrid behavior: results that only
    // one of the two retrievers surfaced
    assert(got.exists(_._4.isEmpty) && got.exists(_._5.isEmpty),
      "fusion never saw a single-list result — the two rankings are identical")
  }

  test("maxsim: late-interaction replays plain Scala and re-orders vs flat cosine") {
    import graft.llm.Similarity
    val vecs = Tables.table(spark, sf, "embeddings")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toVector).toMap
    def r9(x: Double): Double =
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    def cos(a: Vector[Double], b: Vector[Double]): Double = {
      val d = a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y }
      def n(v: Vector[Double]) =
        math.sqrt(v.foldLeft(0.0)((acc, x) => acc + x * x))
      // zero-norm slice cosine is DEFINED as 0 (the operator's guard)
      if (n(a) * n(b) == 0.0) 0.0 else r9(d / (n(a) * n(b)))
    }
    val partLen = 64 / Similarity.MaxSimParts
    def parts(v: Vector[Double]) =
      (0 until Similarity.MaxSimParts).map(p =>
        v.slice(p * partLen, (p + 1) * partLen))
    def maxsim(qv: Vector[Double], dv: Vector[Double]): Double =
      parts(qv).map(qp => parts(dv).map(dp => cos(qp, dp)).max)
        .reduceLeft(_ + _)
    val got = Similarity.maxSimLate(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4)))
    assert(got.nonEmpty)
    got.foreach { case (qid, _, id, ms, cs) =>
      assert(ms == maxsim(vecs(qid), vecs(id)), s"maxsim($qid,$id)")
      assert(cs == cos(vecs(qid), vecs(id)), s"cos($qid,$id)")
    }
    // full replay of the per-query top-k ranking
    for ((qid, rows) <- got.groupBy(_._1)) {
      val want = vecs.keys.filter(_ != qid).toSeq
        .map(id => (id, maxsim(vecs(qid), vecs(id))))
        .sortBy { case (id, ms) => (-ms, id) }
        .take(Similarity.MaxSimTopK).map(_._1)
      assert(rows.sortBy(_._2).map(_._3).toSeq == want, s"query $qid ranking")
    }
    // late interaction genuinely re-orders: for some query the maxsim
    // order differs from the flat-cosine order of the same rows
    val departed = got.groupBy(_._1).exists { case (_, rs) =>
      val byMs = rs.sortBy(_._2).map(_._3).toSeq
      val byCos = rs.sortBy(r => (-r._5, r._3)).map(_._3).toSeq
      byMs != byCos
    }
    assert(departed, "maxsim never departed from flat cosine — vacuous fixture")
  }

  test("brute-force top-k: ranks are 1..5, self excluded, cosine in [-1,1]") {
    val rows = Similarity.bruteForceTopK(spark, sf).collect()
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.size == Similarity.NQueries)
    byQ.foreach { case (q, rs) =>
      assert(rs.map(_.getInt(1)).sorted.toList == List(1, 2, 3, 4, 5))
      assert(rs.forall(_.getLong(2) != q))
      assert(rs.forall(r => math.abs(r.getDouble(3)) <= 1.0 + 1e-9))
      // ranked by descending cosine
      val cs = rs.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b })
    }
  }

  test("ivf top-k: results come from the probed cluster, ranked by cosine") {
    val corpus = Tables.table(spark, sf, "embeddings")
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rows = Similarity.ivfTopK(spark, sf).collect()
    assert(rows.nonEmpty)
    val byQ = rows.groupBy(_.getLong(0))
    byQ.foreach { case (q, rs) =>
      val probe = rs.head.getInt(1)
      // every result is a member of the probed cluster, never the query itself
      assert(rs.forall(r => r.getInt(1) == probe))
      assert(rs.forall(r => corpus(r.getLong(3)) == probe))
      assert(rs.forall(_.getLong(3) != q))
      assert(rs.map(_.getInt(2)).sorted.toList == List(1, 2, 3))
      val cs = rs.sortBy(_.getInt(2)).map(_.getDouble(4))
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b })
    }
    // NOTE: agreement with brute force depends on how well `label` clusters
    // the space — the harness labels are arbitrary, so recall is ~1/n_labels
    // by construction; the oracle pins exactness of the computation instead.
  }

  test("language ID: profile overlap scoring is deterministic") {
    // a doc made only of 'en' marker text maximizes the en profile overlap
    val enText = TextAnalysis.langMarkers("en").mkString(" ")
    val score = size(array_intersect(
      TextAnalysis.charTrigrams(lit(enText)),
      array(TextAnalysis.langProfile("en").map(lit): _*)))
    val got = spark.range(1).select(score.as("s")).collect()(0).getInt(0)
    assert(got == TextAnalysis.langProfile("en").size)
  }

  test("pre-tokenizer: GPT-2-style pieces on hand-tokenized goldens") {
    def pieces(text: String): Seq[String] =
      spark.range(1)
        .select(regexp_extract_all(lit(text),
          lit(TextAnalysis.PretokPattern), lit(0)).as("p"))
        .collect()(0).getSeq[String](0)
    // contraction split + space-prefix convention
    assert(pieces("don't stop") == Seq("don", "'t", " stop"))
    // category runs: letters / symbol / digits each their own piece
    assert(pieces("Customer#000000042 2095.23 FURNITURE") ==
      Seq("Customer", "#", "000000042", " 2095", ".", "23", " FURNITURE"))
    // the operator's own counts on the synthesized customer text
    val row = TextAnalysis.preTokenize(spark, sf)
      .filter(col("txt") === "Customer#000000000 2095.23 FURNITURE")
      .collect()
    assert(row.length == 1, "expected the known customer-0 text")
    val r = row(0)
    assert(r.getInt(2) == 7 && r.getInt(3) == 7, s"pretok counts: $r")
    assert(r.getInt(4) == 3, s"digit runs: $r") // 000000000, 2095, 23
    assert(r.getInt(5) == 2, s"symbol runs: $r") // '#' and '.'
    assert(r.getDouble(6) == BigDecimal(7.0 / 3)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("bpe merge step: greedy non-overlapping semantics, wired to the top pair") {
    val out = TextAnalysis.bpeMergeStep(spark, sf).cache()
    val top = TextAnalysis.bpePairs(spark, sf).limit(1).collect()(0).getString(0)
    val rows = out.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (term, pair, nm, merged) =
        (r.getString(0), r.getString(2), r.getInt(3), r.getString(4))
      assert(pair == top, s"merge must use the top-weighted pair, got $pair")
      // Java String.replace IS greedy left-to-right non-overlapping — the
      // same contract the operator's replace() relies on
      assert(merged == term.replace(pair,
        pair.toUpperCase(java.util.Locale.ROOT)),
        s"$term merged to $merged")
      assert(nm == (term.length - term.replace(pair, "").length) / 2,
        s"$term merge count $nm")
    }
    assert(rows.exists(_.getInt(3) > 0),
      "no vocabulary term contains the top pair — the check is vacuous")
    spark.catalog.clearCache()
  }

  test("oov rate replays as plain-Scala membership against the same vocab cut") {
    val got = TextAnalysis.oovRate(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(got.nonEmpty)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .selectExpr("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split("\\s+").toSeq)
    val vocab = docs.flatMap(_._2).groupBy(identity).view.mapValues(_.length)
      .toSeq.sortBy { case (t, f) => (-f, t) }.take(TextAnalysis.OovVocabK)
      .map(_._1).toSet
    val byDoc = docs.toMap
    got.foreach { case (id, n, inV, bp) =>
      val toks = byDoc(id)
      val in = toks.count(vocab)
      assert(n == toks.length && inV == in, s"doc $id counts")
      assert(bp == ((n - in) * 10000L / n).toInt, s"doc $id oov_bp")
    }
    // the K=20 cut leaves real OOV mass AND real coverage
    assert(got.exists(_._4 > 0) && got.exists(g => g._3 > 0))
  }

  test("bpe training replays as a plain-Scala loop; encode equals its end state") {
    // independent vocabulary rebuild (term -> corpus frequency)
    val vocab = Tables.table(spark, sf, "documents")
      .select(explode(split(col("text"), "\\s+")).as("term"))
      .groupBy("term").count()
      .collect().map(r => (r.getString(0), r.getLong(1)))
    // plain-Scala trainer over the same space-bounded symbol strings:
    // count EVERY adjacent pair, argmax (weight desc, pair asc), rewrite
    // via String.replace — the identical greedy non-overlapping contract
    var state = vocab.map { case (t, f) =>
      (t, " " + t.map(c => s"$c ").mkString, f)
    }
    val rules = (1 to TextAnalysis.BpeTrainK).map { r =>
      val counts = scala.collection.mutable.Map.empty[String, Long]
      state.foreach { case (_, ss, f) =>
        val syms = ss.trim.split(" ")
        for (i <- 0 until syms.length - 1) {
          val p = syms(i) + " " + syms(i + 1)
          counts(p) = counts.getOrElse(p, 0L) + f
        }
      }
      val (pair, w) = counts.toSeq.minBy { case (p, wt) => (-wt, p) }
      state = state.map { case (t, ss, f) =>
        (t, ss.replace(s" $pair ", " " + pair.replace(" ", "") + " "), f)
      }
      (r, pair, w)
    }
    val got = TextAnalysis.bpeTrain(spark, sf).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    assert(got.toSeq == rules,
      s"rule table diverged:\n got ${got.toSeq}\nwant $rules")
    assert(rules.map(_._2).distinct.length == TextAnalysis.BpeTrainK,
      "degenerate training: a pair was learned twice")
    // the fold-encoder must reproduce the training loop's final
    // segmentation exactly (same rules, same order, same replace())
    val byTerm = state.map { case (t, ss, _) => t -> ss.trim }.toMap
    val enc = TextAnalysis.bpeEncode(spark, sf).collect()
    assert(enc.nonEmpty)
    enc.foreach { r =>
      val (term, e, ns) = (r.getString(0), r.getString(2), r.getInt(3))
      assert(e == byTerm(term), s"$term: encoded '$e' vs trained '${byTerm(term)}'")
      assert(ns == (if (e.isEmpty) 0 else e.split(" ", -1).length),
        s"$term: n_syms $ns vs '$e'")
    }
    // at least one top term must actually contain a merged (multi-char)
    // symbol, or the whole check is vacuous
    assert(enc.exists(r => r.getString(2).split(" ", -1).exists(_.length > 1)),
      "no merged symbol in any encoded top term")
    // the corpus application: per-doc word + BPE-token counts from the
    // same trained vocabulary (the join is total — the vocabulary IS the
    // corpus's distinct tokens)
    val nSyms = state.map { case (t, ss, _) =>
      t -> (if (ss.trim.isEmpty) 0L else ss.trim.split(" ").length.toLong)
    }.toMap
    val wantDocs = Tables.table(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map { r =>
        val toks = r.getString(1).split("\\s+", -1).toSeq
        (r.getLong(0), toks.length.toLong, toks.map(nSyms).sum)
      }.sortBy(_._1).toSeq
    val gotDocs = TextAnalysis.bpeTokenizeCorpus(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(gotDocs == wantDocs)
    spark.catalog.clearCache()
  }

  test("bpe training reads the corpus as it is now: a rewrite at the same path retrains") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_bpe_rewrite").toString
    def rules(dir: String) = TextAnalysis.bpeTrain(spark, dir).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    Tables.table(spark, sf, "documents").write.mode("overwrite")
      .parquet(s"$tmp/documents.parquet")
    val full = rules(tmp)
    assert(full == rules(sf))
    // rewriting the data at the same path: the next training run must see
    // the rewritten corpus, not a table learned from the old one
    Tables.table(spark, sf, "documents")
      .filter(col("doc_id") % 2 === 0).write.mode("overwrite")
      .parquet(s"$tmp/documents.parquet")
    val half = rules(tmp)
    assert(half != full, "rewritten corpus served the old rule table")
    assert(half.length == TextAnalysis.BpeTrainK)
    spark.catalog.clearCache()
  }

  test("bpe training keeps a vocabulary the caller pinned") {
    spark.catalog.clearCache()
    // bpeMergeStep pins the vocabulary through Reuse outside any scope,
    // so the pin is the caller's; bpePairs reads that same plan unpinned
    TextAnalysis.bpeMergeStep(spark, sf)
    def pinned = TextAnalysis.bpePairs(spark, sf)
      .queryExecution.executedPlan.toString.contains("InMemoryTableScan")
    assert(pinned)
    assert(TextAnalysis.bpeTrain(spark, sf).collect().nonEmpty)
    assert(pinned, "training dropped the caller's vocabulary pin")
    spark.catalog.clearCache()
  }

  /** A `documents` table holding `texts` in a fresh directory. */
  private def corpusOf(texts: Seq[String]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_bpe_corpus").toString
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t, "en") }
      .toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("bpe on an empty corpus learns no rules and encodes nothing") {
    val dir = corpusOf(Seq.empty)
    assert(TextAnalysis.bpeTrain(spark, dir).collect().isEmpty)
    assert(TextAnalysis.bpeEncode(spark, dir).collect().isEmpty)
    spark.catalog.clearCache()
  }

  test("bpe on single-letter tokens learns no rules and encodes each term as itself") {
    val dir = corpusOf(Seq("a b a c", "b a", "c"))
    assert(TextAnalysis.bpeTrain(spark, dir).collect().isEmpty)
    val enc = TextAnalysis.bpeEncode(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getInt(3))).toSeq
    assert(enc == Seq(("a", 3L, "a", 1), ("b", 2L, "b", 1), ("c", 2L, "c", 1)))
    spark.catalog.clearCache()
  }

  test("bm25: matches a plain-Scala recompute of the exact-rational scores") {
    val out = TextAnalysis.bm25TopDocs(spark, sf).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    spark.catalog.clearCache()
    assert(out.nonEmpty)

    // independent recompute: same arithmetic, plain collections
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .selectExpr("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split("\\s+").toSeq)
    val nDocs = docs.length.toLong
    val sumDl = docs.map(_._2.length.toLong).sum
    val expected = TextAnalysis.Bm25Queries.flatMap { case (qid, terms) =>
      val scored = docs.flatMap { case (id, toks) =>
        val dl = toks.length.toLong
        val s = terms.map { t =>
          val tf = toks.count(_ == t).toLong
          if (tf == 0L) BigDecimal(0)
          else {
            val df = docs.count(_._2.contains(t)).toLong
            val odds = (2 * nDocs - 2 * df + 1).toDouble / (2 * df + 1).toDouble
            val sat = (22 * tf * sumDl).toDouble /
              (10 * tf * sumDl + 3 * sumDl + 9 * dl * nDocs).toDouble
            BigDecimal(odds * sat)
              .setScale(9, BigDecimal.RoundingMode.HALF_UP)
          }
        }.sum
        if (s == BigDecimal(0)) None else Some((id, s))
      }
      scored.sortBy { case (id, s) => (-s, id) }
        .take(TextAnalysis.Bm25TopK).zipWithIndex
        .map { case ((id, s), i) => (qid, i + 1, id, s.toDouble) }
    }
    assert(out.toSeq == expected,
      s"bm25 mismatch: got ${out.take(3).toSeq} expected ${expected.take(3)}")
    // the rare term must reorder query 2: its top doc is not just the
    // longest tf winner — it contains 'dup'
    val topQ2 = out.filter(_._1 == 2).minBy(_._2)._3
    assert(docs.toMap.apply(topQ2).contains("dup"),
      "rare-term idf should put a dup-containing doc on top of query 2")
  }

  test("row-local minhashSig fold equals the explode+aggregate signature") {
    // two formulations of the same signature must agree (the fold is the
    // zero-shuffle variant; Dedup uses the codegen'd explode form)
    val docs = Tables.table(spark, sf, "documents").limit(50)
      .select(col("doc_id"), TextHash.shingles3(TextHash.tokens(col("text"))).as("grams"))
    val folded = docs
      .select(col("doc_id"), TextHash.minhashSig(col("grams"), 8).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
    val exploded = docs
      .select(col("doc_id"), explode(col("grams")).as("g"))
      .select(col("doc_id"), TextHash.md5Long(col("g")).as("h"))
      .groupBy("doc_id")
      .agg(
        (0 until 8).map(s =>
          min((col("h") * (2 * s + 1) + s * 12582917L) % TextHash.MinhashPrime).as(s"m$s")).head,
        (1 until 8).map(s =>
          min((col("h") * (2 * s + 1) + s * 12582917L) % TextHash.MinhashPrime).as(s"m$s")): _*)
      .collect().map(r => r.getLong(0) -> (1 to 8).map(i => r.getLong(i)).toList).toMap
    assert(folded == exploded)
  }

  test("bm25Indexed probe reproduces the in-query bm25 retrieval exactly") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    val direct = rows(TextAnalysis.bm25TopDocs(spark, sf))
    val probed = rows(TextAnalysis.bm25Indexed(spark, sf))
    assert(direct.nonEmpty && probed == direct,
      s"index probe diverged: ${probed.take(3)} vs ${direct.take(3)}")
    spark.catalog.clearCache()
  }

  test("inverted index postings carry exact tf/df/dl and corpus scalars") {
    // plain-Scala replay of the whole index over the corpus
    val docs = Tables.table(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split("\\s+", -1).toSeq)
    val nDocs = docs.length.toLong
    val sumDl = docs.map(_._2.length.toLong).sum
    val tf = docs.flatMap { case (id, ts) =>
      ts.groupBy(identity).map { case (t, o) => ((t, id), (o.length.toLong, ts.length.toLong)) }
    }.toMap
    val dfm = tf.keys.groupBy(_._1).map { case (t, ks) => t -> ks.size.toLong }
    val got = TextAnalysis.invertedIndex(spark, sf).collect()
      .map(r => ((r.getString(0), r.getLong(2)),
        (r.getLong(1), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))))
    assert(got.length == tf.size, s"posting count ${got.length} vs ${tf.size}")
    for (((term, id), (df, tfv, dl, n, sdl)) <- got) {
      val (wantTf, wantDl) = tf((term, id))
      assert(tfv == wantTf && dl == wantDl && df == dfm(term)
        && n == nDocs && sdl == sumDl,
        s"posting ($term, $id): ($df,$tfv,$dl,$n,$sdl)")
    }
    spark.catalog.clearCache()
  }

  test("collocations replay against plain-Scala lift ranking") {
    import java.math.{BigDecimal => JBD, RoundingMode}
    val texts = Tables.table(spark, sf, "documents")
      .select("text").collect().map(_.getString(0).split("\\s+", -1).toSeq)
    val uc = texts.flatten.groupBy(identity).map { case (w, o) => w -> o.length.toLong }
    val t = texts.map(_.length.toLong).sum
    val bc = texts.flatMap(ts => ts.zip(ts.drop(1)))
      .groupBy(identity).map { case (p, o) => p -> o.length.toLong }
    val want = bc.toSeq
      .filter(_._2 >= TextAnalysis.CoocMin)
      .map { case ((a, b), cooc) =>
        // JBD.valueOf (decimal-string semantics) mirrors Spark's
        // round-on-double, which goes through BigDecimal.decimal
        val lift = JBD.valueOf((cooc * t).toDouble / (uc(a) * uc(b)).toDouble)
          .setScale(9, RoundingMode.HALF_UP).doubleValue
        (a, b, cooc, uc(a), uc(b), lift)
      }
      .sortBy { case (a, b, _, _, _, lift) => (-lift, a, b) }
      .take(TextAnalysis.CoocTopK)
    val got = TextAnalysis.collocations(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5))).toSeq
    assert(want.nonEmpty && got == want,
      s"collocations diverge: ${got.take(2)} vs ${want.take(2)}")
    spark.catalog.clearCache()
  }

  test("bigramCommonness replay against plain-Scala corpus counts") {
    val docs = Tables.table(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split("\\s+", -1).toSeq)
    val perDoc = docs.map { case (id, ts) =>
      id -> ts.zip(ts.drop(1)).groupBy(identity)
        .map { case (p, o) => p -> o.length.toLong }
    }.toMap
    val cc = perDoc.values.flatten
      .groupBy(_._1).map { case (p, os) => p -> os.map(_._2).sum }
    val got = TextAnalysis.bigramCommonness(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3)))
    assert(got.length == docs.length)
    for ((id, nBg, sumF, avg) <- got) {
      val m = perDoc(id)
      val wantN = m.values.sum
      val wantS = m.map { case (p, c) => c * cc(p) }.sum
      val wantAvg = if (wantN == 0) -1L else (1000L * wantS) / wantN
      assert(nBg == wantN && sumF == wantS && avg == wantAvg,
        s"doc $id: ($nBg,$sumF,$avg) vs ($wantN,$wantS,$wantAvg)")
    }
    spark.catalog.clearCache()
  }

  test("merge-maintained index equals the full rebuild row-for-row") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    val full = rows(TextAnalysis.invertedIndex(spark, sf))
    val merged = rows(TextAnalysis.ivmIndex(spark, sf))
    assert(merged == full, "incremental maintenance diverged from rebuild")
    // the delta-rule check is non-vacuous: both sides contribute postings
    val deltaDocs = merged.map(_._3)
      .count(_ % graft.llm.Dedup.IncrementModulus == 0)
    assert(deltaDocs > 0 && deltaDocs < merged.length)
    spark.catalog.clearCache()
  }

  test("random projection replays in plain Scala and preserves distances JL-style") {
    import java.math.{BigDecimal => JBD, RoundingMode}
    val planes = Similarity.planeComponents(Similarity.EmbedDims)
    val vecs = Tables.table(spark, sf, "embeddings")
      .selectExpr("vec_id", "cast(embedding as array<double>) v").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def fold(v: Array[Double], w: Seq[Double]): Double = {
      // the same left-to-right IEEE summation as the dot fold
      var acc = v(0) * w(0)
      for (i <- 1 until v.length) acc += v(i) * w(i)
      acc
    }
    val got = Similarity.randomProjection(spark, sf).collect()
      .map(r => r.getLong(0) -> (1 to Similarity.HyperPlanes)
        .map(i => r.getDouble(i)).toSeq).toMap
    assert(got.size == vecs.size)
    for ((id, ps) <- got; (p, i) <- ps.zipWithIndex) {
      val want = JBD.valueOf(fold(vecs(id), planes(i)))
        .setScale(9, RoundingMode.HALF_UP).doubleValue
      assert(p == want, s"vec $id plane $i: $p vs $want")
    }
    // JL distortion: uniform[-1,1) components give E||P(a-b)||^2 =
    // (k/3)||a-b||^2; the AVERAGE ratio over sampled pairs must sit near
    // k/3 (loose band - 8 planes is a high-variance estimator per pair)
    def l2sq(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val ids = vecs.keys.toSeq.sorted.take(40)
    val ratios = for {
      i <- ids.indices; j <- (i + 1) until ids.length
      a = ids(i); b = ids(j)
      d = l2sq(vecs(a), vecs(b)) if d > 0
    } yield l2sq(got(a).toArray, got(b).toArray) / d
    val mean = ratios.sum / ratios.length
    val expect = Similarity.HyperPlanes / 3.0
    assert(mean > expect * 0.5 && mean < expect * 2.0,
      s"mean distortion ratio $mean vs expected ~$expect")
  }

  test("leakage-safe split never lets a near-dup component straddle splits") {
    val rows = TextAnalysis.leakageSafeSplit(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getString(3), r.getBoolean(4)))
    // covers the whole corpus
    assert(rows.length == Tables.table(spark, sf, "documents").count())
    // one split per component - the leakage-safety invariant itself
    for ((comp, members) <- rows.groupBy(_._2))
      assert(members.map(_._3).distinct.length == 1,
        s"component $comp straddles splits")
    // the component split is the naive split OF THE LABEL doc (the
    // smallest member), and moved flags exactly the disagreements
    val naiveOf = rows.map(r => r._1 -> r._4).toMap
    for ((id, comp, split, naive, moved) <- rows) {
      assert(split == naiveOf(comp),
        s"doc $id: component split $split != label ${naiveOf(comp)}")
      assert(moved == (split != naive))
    }
    // the fixture's planted near-dups make at least one multi-doc
    // component; the invariant must be non-vacuous
    assert(rows.groupBy(_._2).exists(_._2.length > 1))
  }

  test("fingerprint is order-sensitive") {
    val a = spark.range(1).select(
      TextHash.fingerprint(TextHash.tokens(lit("alpha beta gamma"))).as("fp"))
      .collect()(0).getLong(0)
    val b = spark.range(1).select(
      TextHash.fingerprint(TextHash.tokens(lit("gamma beta alpha"))).as("fp"))
      .collect()(0).getLong(0)
    assert(a != b)
  }

  test("skipgrams replay the windowed pair counts; the matrix is symmetric") {
    val got = TextAnalysis.skipgrams(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val docs = Tables.table(spark, sf, "documents")
      .select(col("text")).collect().map(_.getString(0).split("\\s+").toSeq)
    val full = scala.collection.mutable.Map[(String, String), Long]()
    for (ts <- docs; off <- 1 to TextAnalysis.SkipgramWindow;
         i <- 0 until ts.length - off) {
      full((ts(i), ts(i + off))) = full.getOrElse((ts(i), ts(i + off)), 0L) + 1
      full((ts(i + off), ts(i))) = full.getOrElse((ts(i + off), ts(i)), 0L) + 1
    }
    val want = full.toSeq.map { case ((w, c), n) => (w, c, n) }
      .sortBy { case (w, c, n) => (-n, w, c) }
      .take(TextAnalysis.SkipgramTopK)
    assert(got.toSeq == want)
    // symmetric by construction over the FULL matrix
    for (((w, c), n) <- full) assert(full((c, w)) == n)
    assert(got.nonEmpty && got.head._3 > 1)
  }

  test("negative samples resolve probes through the exact cumulative ranges") {
    val got = TextAnalysis.negativeSamples(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2), r.getLong(3)))
      .toMap
    val toks = Tables.table(spark, sf, "documents")
      .select(col("text")).collect().flatMap(_.getString(0).split("\\s+"))
    val uni = toks.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val ordered = uni.toSeq.sortBy(_._1)
    val starts = ordered.scanLeft(0L)(_ + _._2).init
    val ranges = ordered.zip(starts).map { case ((t, c), s0) => (t, c, s0) }
    val tot = toks.length.toLong
    def md5Long(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(4).map("%02x".format(_)).mkString, 16)
    }
    assert(got.size == TextAnalysis.NegSampleK)
    for (j <- 0L until TextAnalysis.NegSampleK.toLong) {
      val h = md5Long(s"neg:$j") % tot
      val (term, cnt, _) = ranges.find { case (_, c, s0) =>
        h >= s0 && h < s0 + c }.get
      assert(got(j) == ((h, term, cnt)), s"probe $j: got ${got(j)}")
    }
    // the table actually samples WITH replacement: vocab < K probes, so
    // some term must repeat (pigeonhole — deterministic, unlike any
    // per-term frequency expectation on this near-uniform closed vocab)
    val drawn = got.values.groupBy(_._2).view.mapValues(_.size).toMap
    assert(uni.size < TextAnalysis.NegSampleK && drawn.values.max > 1)
  }

  test("tfidf neighbors replay the banded integer dot product exactly") {
    val got = TextAnalysis.docNeighbors(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    spark.catalog.clearCache()
    val docs: Seq[(Long, Seq[String])] = Tables.table(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect().toSeq
      .map(r => (r.getLong(0), r.getString(1).split("\\s+").toSeq))
    val n = docs.size.toLong
    val tf: Map[(String, Long), Long] = docs.flatMap { case (id, ts) =>
      ts.groupBy(identity).map { case (t, o) => (t, id) -> o.size.toLong }
    }.toMap
    val df = tf.keys.toSeq.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val band = df.filter { case (_, d) =>
      d >= 2 && d <= math.max(TextAnalysis.NeighborMaxDf.toLong,
        n / TextAnalysis.NeighborRareFrac) }
    val w = tf.collect { case ((t, id), f) if band.contains(t) =>
      (t, id) -> f * (n / band(t))
    }
    val byTerm = w.keys.toSeq.groupBy(_._1)
    val pairs = scala.collection.mutable.Map[(Long, Long), (Long, Long)]()
    for ((t, keys) <- byTerm; a <- keys; b <- keys if a._2 < b._2) {
      val k = (a._2, b._2)
      val (d0, s0) = pairs.getOrElse(k, (0L, 0L))
      pairs(k) = (d0 + w(a) * w(b), s0 + 1)
    }
    val want = pairs.toSeq.map { case ((a, b), (d, sh)) => (a, b, d, sh) }
      .sortBy { case (a, b, d, _) => (-d, a, b) }
      .take(TextAnalysis.NeighborTopK)
    assert(got.toSeq == want.toSeq)
    // non-vacuous: the ranking actually differentiates (tf and df vary —
    // this synthetic corpus has no pair sharing two banded terms, so the
    // multi-term sum is covered by the exact equality above, vacuously
    // at this SF but structurally by the same fold)
    assert(got.nonEmpty && got.map(_._3).distinct.size > 1)
    // and the band did prune: some vocabulary fell outside [2, MaxDf]
    assert(band.size < df.size)
  }

  test("vocab coverage knees replay against the sorted cumulative curve") {
    val freqs = Tables.table(spark, sf, "documents")
      .select(col("text")).collect().map(_.getString(0))
      .flatMap(_.split("\\s+", -1)) // -1: Spark's split keeps empties
      .groupBy(identity).map { case (t, xs) => (t, xs.length.toLong) }
    val ranked = freqs.toSeq.sortBy { case (t, f) => (-f, t) }
    val tot = ranked.map(_._2).sum
    val cums = ranked.scanLeft(0L)(_ + _._2).tail
    val got = TextAnalysis.vocabCoverage(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.map(_._1).toSeq == TextAnalysis.CoveragePcts)
    got.foreach { case (pct, vs, cov, t) =>
      assert(t == tot, s"pct $pct: total")
      val idx = cums.indexWhere(c => c * 100 >= tot * pct)
      assert(vs == idx + 1, s"pct $pct: knee at ${idx + 1}, got $vs")
      assert(cov == cums(idx), s"pct $pct: coverage")
      // minimality: one fewer vocabulary entry misses the target
      if (idx > 0) assert(cums(idx - 1) * 100 < tot * pct)
    }
    // the curve is a real curve: strictly fewer entries cover 50% than 99%
    val bySize = got.map(g => g._1 -> g._2).toMap
    assert(bySize(50) < bySize(99))
  }

  test("byte-level media near-dup matches the unblocked byte ground truth") {
    // ground truth: all-pairs Jaccard over the byte shingle sets, no LSH
    def grams(text: String): Set[String] = {
      val hx = text.getBytes("UTF-8").map("%02X".format(_)).mkString
      if (hx.length >= 16) (1 to hx.length - 15 by 2)
        .map(i => hx.substring(i - 1, i + 15)).toSet
      else Set(hx)
    }
    val docs = Tables.table(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), grams(r.getString(1))))
    val truth = (for {
      (a, ga) <- docs; (b, gb) <- docs if a < b
      jac = (ga & gb).size.toDouble / (ga | gb).size if jac >= 0.5
    } yield (a, b, jac)).toSet
    val got = graft.ops.MultimodalOps.mmNearDup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(truth.nonEmpty, "planted near-dup texts must be byte near-dups")
    // verified candidates are exact, and at j>=0.5 the 8x4 banding catches
    // every fixture pair (miss probability (1 - j^4)^8, ~0 at planted j)
    assert(got == truth, s"got ${got.size} vs truth ${truth.size}")
    spark.catalog.clearCache()
  }
}
