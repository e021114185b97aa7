package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.Similarity

/** Int8 quantization invariants (the DuckDB oracle pins exact values; this
  * pins the properties that make the codes a usable compressed corpus).
  */
class QuantizeSpec extends AnyFunSuite with SharedSpark {

  private val dir = "/root/testdata/sf0.001"

  test("codes stay in int8 range and reconstruction error is small") {
    val qz = Similarity.quantizedCorpus(spark, dir).cache()
    // qv is serialized as a comma-joined string (harness compare cannot
    // hash array cells) — split it back for the range property
    val outOfRange = qz.filter(
      exists(split(col("qv"), ","),
        q => q.cast("int") < -128 || q.cast("int") > 127)).count()
    assert(outOfRange == 0, "every code must fit int8")
    assert(qz.filter(col("err") < 0).count() == 0)
    // per-component quantization step is maxabs/127, so the squared error
    // is bounded by dims * (maxabs/127)^2; with unit-ish vectors err stays
    // far below the raw norm — sanity-bound it loosely
    val worst = qz.agg(max(col("err"))).head().getDouble(0)
    assert(worst < 1.0, s"reconstruction error suspiciously large: $worst")
    spark.catalog.clearCache()
  }

  test("pq: full code words in range, codebooks actually used, deterministic") {
    val out = Similarity.pqQuantize(spark, dir).cache()
    val n = Tables.table(spark, dir, "embeddings").count()
    assert(out.count() == n, "every vector must get a code word")
    val rows = out.collect().map(r =>
      (r.getLong(0), r.getString(1).split(",").map(_.toInt), r.getDouble(2)))
    rows.foreach { case (id, codes, err) =>
      assert(codes.length == Similarity.PqM, s"vec $id: ${codes.length} codes")
      assert(codes.forall(c => c >= 0 && c < Similarity.PqK),
        s"vec $id: code out of range: ${codes.mkString(",")}")
      assert(err >= 0.0, s"vec $id: negative reconstruction error $err")
    }
    // the refined codebooks must stay plural per subspace — a collapse to
    // one surviving code would make the quantizer vacuous
    (0 until Similarity.PqM).foreach { m =>
      val used = rows.map(_._2(m)).distinct.length
      assert(used > 1, s"subspace $m collapsed to a single code")
    }
    // determinism: two runs agree exactly
    val again = Similarity.pqQuantize(spark, dir)
    assert(out.exceptAll(again).count() == 0 && again.exceptAll(out).count() == 0)
    spark.catalog.clearCache()
  }

  test("pq Lloyd refinement does not increase total reconstruction error") {
    import graft.llm.Similarity.{PqM, PqSub, PqK}
    val vecs = Tables.table(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def dot(a: Array[Double], b: Array[Double]): Double =
      a.indices.foldLeft(0.0)((acc, i) => acc + a(i) * b(i))
    def d9(a: Array[Double], b: Array[Double]): BigDecimal =
      BigDecimal(dot(a, a) + dot(b, b) - 2.0 * dot(a, b))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP)
    def subv(v: Array[Double], m: Int): Array[Double] =
      v.slice(m * PqSub, m * PqSub + PqSub)
    // total error against the SEED codebooks (first PqK vectors), computed
    // independently of the engine
    val seedErr = vecs.values.map { v =>
      (0 until PqM).map { m =>
        (0L until PqK.toLong).map(c => d9(subv(v, m), subv(vecs(c), m))).min
      }.sum
    }.sum
    // total error after the refinement = sum of the emitted err column
    val refinedErr = graft.llm.Similarity.pqQuantize(spark, dir)
      .agg(sum(col("err"))).head().getDouble(0)
    // Lloyd: update minimizes within the fixed assignment, reassignment
    // only improves — monotone up to the 9dp per-subspace rounding
    assert(refinedErr <= seedErr.toDouble + 1e-4,
      s"refined $refinedErr > seed $seedErr")
    spark.catalog.clearCache()
  }

  test("pq ADC distances equal brute-force table lookups on the emitted codes") {
    import graft.llm.Similarity._
    val results = Similarity.pqSearch(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    assert(results.nonEmpty)
    val books = Similarity.pqCodebooks(spark, dir).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2).toArray).toMap
    val codes = Similarity.pqQuantize(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(",").map(_.toInt)).toMap
    val vecs = Tables.table(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    // replicate the engine's arithmetic exactly: left-fold dots, the dot
    // identity, 9dp HALF_UP rounding per subspace, exact-decimal sum
    def dot(a: Array[Double], b: Array[Double]): Double =
      a.indices.foldLeft(0.0)((acc, i) => acc + a(i) * b(i))
    def d9(a: Array[Double], b: Array[Double]): BigDecimal =
      BigDecimal(dot(a, a) + dot(b, b) - 2.0 * dot(a, b))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP)
    results.foreach { case (qId, vecId, adist) =>
      val qv = vecs(qId)
      val expected = (0 until PqM).map { m =>
        val qsv = qv.slice(m * PqSub, m * PqSub + PqSub)
        d9(qsv, books((m, codes(vecId)(m))))
      }.sum.toDouble
      assert(adist == expected,
        s"q=$qId vec=$vecId: adist $adist != table-lookup sum $expected")
    }
    // approximation sanity (NOT a quality bar at this code budget): the
    // ADC top-3 overlaps the exact-L2 top-3 for at least some queries
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("d"), col("vec_id"))
    val c = Tables.table(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val q = c.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    def dc(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
      graft.functions.DotProduct(x, y)
    val exact = c.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        (dc(col("v"), col("v")) + dc(col("qv"), col("qv"))
          - lit(2.0) * dc(col("v"), col("qv"))).as("d"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= PqTopK)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val approx = results.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val hits = exact.map { case (k, ts) =>
      approx.getOrElse(k, Set.empty).intersect(ts).size }.sum
    assert(hits > 0, "ADC retrieved none of the exact neighbors — vacuous")
  }

  test("pq rerank recovers >= 0.8 recall@3 vs exact cosine top-3") {
    // the composition that makes the PQ tier a usable retriever: the ADC
    // shortlist (10·k from codes alone) re-scored exactly — quantization
    // error then only costs recall, and the 10·k shortlist recovers most
    // of it (raw ADC top-3 sits at ~0.22 on this fixture; honesty note
    // on Similarity.pqQuantize)
    def topSet(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select(col("q_id"), col("vec_id")).collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val truth = topSet(Similarity.bruteForceTopK(spark, dir)
      .filter(col("rk") <= Similarity.PqTopK))
    val reranked = topSet(Similarity.pqSearchRerank(spark, dir))
    val per = truth.map { case (q, ts) =>
      reranked.getOrElse(q, Set.empty).intersect(ts).size.toDouble / ts.size }
    val recall = per.sum / per.size
    assert(recall >= 0.8, s"reranked recall@3 too low: $recall")
    spark.catalog.clearCache()
  }

  test("quantize_int8 is SQL-registered; all-zero vectors take zero codes") {
    GraftCatalog.registerFunctions(spark)
    import spark.implicits._
    val r = spark.sql(
      """SELECT quantize_int8(array(0.0d, 0.0d)) AS qz,
                quantize_int8(array(1.0d, -0.5d)) AS qz2""")
      .select(col("qz.q"), col("qz.err"), col("qz2.q"), col("qz2.err"))
      .as[(Seq[Int], Double, Seq[Int], Double)].head()
    assert(r._1 == Seq(0, 0) && r._2 == 0.0)
    assert(r._3.head == 127, s"max component must map to 127, got ${r._3}")
  }

  test("a null element poisons the result to NULL on both eval paths") {
    GraftCatalog.registerFunctions(spark)
    val r = spark.sql(
      "SELECT quantize_int8(array(1.0d, CAST(NULL AS DOUBLE))) AS qz")
      .collect()
    assert(r.head.isNullAt(0), "null element must yield NULL, not crash")
  }

  test("incremental ivfpq: maintenance never rewrites base rows, covers the delta") {
    import graft.llm.{Dedup, Similarity}
    // the base-trained artifacts and the merged incremental index
    val (cents, books, baseIdx) = Similarity.ivfPqBase(spark, dir)
    val baseCodes = baseIdx
      .groupBy(col("vec_id"), col("cid"))
      .agg(array_sort(collect_list(struct(col("m"), col("code")))).as("mc"))
      .select(col("vec_id"), col("cid"),
        concat_ws(",",
          transform(col("mc"), e => e.getField("code").cast("string")))
          .as("codes"))
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getString(2)))).toMap
    val merged = Similarity.ivfPqAppend(spark, dir, cents, books, baseIdx)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    spark.catalog.clearCache()
    val mod = Dedup.IncrementModulus
    // every corpus vector appears exactly once
    val total = Tables.table(spark, dir, "embeddings").count()
    assert(merged.length.toLong == total && merged.map(_._1).distinct.length == merged.length)
    // base rows ride through maintenance UNCHANGED (history is stable)
    merged.filter(_._1 % mod != 0).foreach { case (id, cid, codes) =>
      assert(baseCodes(id) == ((cid, codes)), s"base row $id rewritten")
    }
    // the delta batch is really present and really encoded
    val delta = merged.filter(_._1 % mod == 0)
    assert(delta.nonEmpty)
    delta.foreach { case (id, _, codes) =>
      assert(codes.split(",").length == Similarity.PqM, s"delta row $id code width")
    }
    // and the maintenance half equals the declared query end to end
    val declared = Similarity.ivfPqIncremental(spark, dir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    spark.catalog.clearCache()
    assert(merged.toSeq == declared.toSeq)
  }
}
