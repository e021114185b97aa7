package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the third-decade text construction (GenText): encoder
  * injectivity/disjointness — the null-hypothesis arithmetic — plus an
  * end-to-end 3-copy generation asserting the properties the SCALE.md
  * argument rests on: pairwise-disjoint vocabularies, within-variant
  * isomorphism of the duplicate structure, and embedding isometry with
  * randomized cross-variant products.
  */
class GenTextSpec extends AnyFunSuite with SharedSpark {

  val src = "/root/testdata/sf0.001"

  test("synth tokens are injective within a variant, disjoint across") {
    val lens = Seq(1, 3, 5, 8)
    val toks = for (k <- 1 to 60; r <- 0 until 200; l <- lens)
      yield ((k, r, l), GenText.synth(k, r, l))
    // within a variant: distinct (rank, srcLen) pairs may share a token
    // only when the padding makes them equal — the injectivity claim is
    // per RANK (the remap maps each distinct source token, with its own
    // fixed length, by rank), so group by (k, srcLen)
    for (((k, l), g) <- toks.groupBy { case ((k, _, l), _) => (k, l) }) {
      val vals = g.map(_._2)
      assert(vals.distinct.size === vals.size,
        s"variant $k len $l: rank collision")
    }
    // across variants: token sets disjoint for every pair — prefix tags
    // differ
    val byVariant = toks.groupBy(_._1._1).view.mapValues(_.map(_._2).toSet)
    for (j <- 1 to 60; k <- (j + 1) to 60) {
      assert(byVariant(j).intersect(byVariant(k)).isEmpty,
        s"variants $j and $k share a synthetic token")
    }
    // and every synthetic token is disjoint from any all-lowercase source
    assert(toks.forall { case (_, t) => t.exists(_.isUpper) })
    // length preservation: code-shorter-than-source is padded to source
    assert(GenText.synth(1, 0, 8).length === 8)
    assert(GenText.synth(1, 0, 1).length === 2) // code longer than source
  }

  test("signedPerm is deterministic and orthogonal") {
    val (p1, s1) = GenText.signedPerm(7, 64)
    val (p2, s2) = GenText.signedPerm(7, 64)
    assert(p1 === p2 && s1 === s2)
    assert(p1.sorted === (0 until 64).toVector) // a permutation
    assert(s1.forall(s => s == 1.0f || s == -1.0f))
    val (q1, _) = GenText.signedPerm(8, 64)
    assert(p1 !== q1)
  }

  test("end-to-end 3-copy tier: disjoint vocab, isomorphic dups, isometric embeddings") {
    val dst = java.nio.file.Files.createTempDirectory("gentext").toString
    GenText.run(spark, src, dst, 3)
    val docs = spark.read.parquet(s"$dst/documents.parquet").cache()
    val srcN = spark.read.parquet(s"$src/documents.parquet").count()
    assert(docs.count() === 3 * srcN)
    val D = docs.agg(max(col("doc_id"))).head().getLong(0)
    // offsets: variant = doc_id / offsetAbove(src max) — recompute it
    var off = 10L
    val srcMax = spark.read.parquet(s"$src/documents.parquet")
      .agg(max(col("doc_id"))).head().getLong(0)
    while (off <= srcMax) off *= 10
    val withVar = docs.withColumn("variant", (col("doc_id") / off).cast("int"))
    // vocabularies pairwise disjoint across variants
    val shared = withVar
      .select(col("variant"), explode(split(col("text"), " ")).as("w"))
      .groupBy(col("w")).agg(countDistinct(col("variant")).as("nv"))
      .filter(col("nv") > 1).count()
    assert(shared === 0, s"$shared tokens shared across variants")
    // duplicate structure isomorphic: per-variant (docs - distinct texts)
    // identical for all variants
    val dupCounts = withVar.groupBy(col("variant"))
      .agg((count(lit(1)) - countDistinct(col("text"))).as("dups"))
      .select("dups").collect().map(_.getLong(0)).toSeq
    assert(dupCounts.distinct.size === 1,
      s"per-variant exact-dup mass diverged: $dupCounts")
    // n-gram near-dup pairs never cross variants (token shingles disjoint)
    val pairs = graft.llm.Dedup.ngramJaccard(spark, dst)
    val cross = pairs.filter(
      (col("a_id") / off).cast("int") =!= (col("b_id") / off).cast("int")).count()
    assert(cross === 0, s"$cross cross-variant ngram pairs")
    // embeddings: isometry within a variant — cosine of a fixed vector
    // pair equals the source corpus's, for each variant
    val embs = spark.read.parquet(s"$dst/embeddings.parquet")
      .withColumn("variant", (col("vec_id") / off).cast("int"))
    def cosOf(df: org.apache.spark.sql.DataFrame, a: Long, b: Long): Double = {
      val rows = df.filter(col("vec_id").isin(a, b))
        .orderBy("vec_id")
        .select(col("embedding").cast("array<double>")).collect()
      val (x, y) = (rows(0).getSeq[Double](0), rows(1).getSeq[Double](0))
      val dot = x.zip(y).map { case (u, v) => u * v }.sum
      dot / (math.sqrt(x.map(u => u * u).sum) * math.sqrt(y.map(v => v * v).sum))
    }
    val vOff = {
      var o = 10L
      val m = spark.read.parquet(s"$src/embeddings.parquet")
        .agg(max(col("vec_id").cast("long"))).head().getLong(0)
      while (o <= m) o *= 10
      o
    }
    val base = cosOf(embs, 1L, 2L)
    for (k <- 1 to 2) {
      val ck = cosOf(embs, k * vOff + 1L, k * vOff + 2L)
      assert(math.abs(ck - base) < 1e-6,
        s"variant $k broke isometry: $ck vs $base")
    }
    // cross-variant same-source cosine is NOT preserved (randomized)
    val cross01 = {
      val rows = embs.filter(col("vec_id").isin(1L, vOff + 1L))
        .orderBy("vec_id")
        .select(col("embedding").cast("array<double>")).collect()
      val (x, y) = (rows(0).getSeq[Double](0), rows(1).getSeq[Double](0))
      x.zip(y).map { case (u, v) => u * v }.sum /
        (math.sqrt(x.map(u => u * u).sum) * math.sqrt(y.map(v => v * v).sum))
    }
    assert(math.abs(cross01 - 1.0) > 0.1,
      s"same-source cross-variant cosine $cross01 is near 1 — variants " +
        "are not rotated apart")
    spark.catalog.clearCache()
  }
}
