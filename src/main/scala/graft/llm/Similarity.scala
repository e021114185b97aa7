package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Reuse
import graft.Tables.{table => t}

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (SURVEY.md §2.11): brute-force cosine top-k as the exact baseline, and an
  * IVF-style clustered variant as the scale path.
  *
  * Scale design: the query set is small and broadcast, so brute force is one
  * pass over the corpus with a row-local dot product (codegen'd higher-order
  * functions, no UDF) followed by a per-query top-k window — at 100 TB the
  * corpus never shuffles, only (n_queries × corpus) partial results feed the
  * window, and that input is pre-filtered by rank locality via the IVF
  * variant: centroids prune the corpus to one cluster before the expensive
  * scan, which is exactly how IVF indexes cut ANN cost.
  *
  * Determinism: cosine is computed in double and rounded to 9 dp *before*
  * ranking; centroid components are exact DECIMAL(38,10) sums (addition of
  * decimals is associative, so the result is independent of partitioning and
  * reproducible in any engine — double sums would be order-dependent).
  *
  * Cache lifecycle: a frame the returned plan reads more than once (the
  * bucketed corpus, centroids, codebooks, cluster membership) is pinned
  * through [[graft.Reuse]], which decides how long the pin lives.
  */
object Similarity {

  /** Left-to-right dot product of two double arrays (sequential fold —
    * matches any engine that folds a list in order). Native codegen'd
    * expression ([[graft.functions.DotProduct]]); the declarative fold it
    * replaced is kept as [[dotHof]] and pinned bit-identical by
    * DotProductSpec.
    */
  def dot(a: Column, b: Column): Column = graft.functions.DotProduct(a, b)

  /** The same fold as declarative higher-order functions — the executable
    * specification for the native expression.
    */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** Cosine with inlined norms — the executable DEFINITION the operators'
    * split form ([[norm]] once per vector + [[cosPre]] per pair) must equal,
    * and what the oracles' `cosSql` mirrors. Not used on hot paths: per-pair
    * norm recomputation is exactly the cost the split form eliminates.
    */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** Euclidean norm, precomputed once per vector: the higher-order fold is
    * interpreted (CodegenFallback), so evaluating `sqrt(dot(v,v))` once per
    * row instead of once per scored PAIR removes the dominant redundant work
    * from every cosine below. `norm(a)*norm(b)` multiplies the exact same
    * doubles the inlined form did — the scores stay bit-identical to the
    * oracle's `cosine`.
    */
  def norm(v: Column): Column = sqrt(dot(v, v))

  /** Cosine from a precomputed pair dot and precomputed norms (same value,
    * same operation order as [[cosine]]).
    */
  private def cosPre(dotAB: Column, normA: Column, normB: Column): Column =
    dotAB / (normA * normB)

  private def corpus(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nv", norm(col("v")))

  val NQueries = 20

  /** Brute-force cosine top-5 per query (first NQueries vec_ids are the
    * query set; self-matches excluded).
    */
  def bruteForceTopK(s: SparkSession, dir: String): DataFrame = {
    val c = corpus(s, dir)
    val queries = broadcast(
      c.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nv").as("nq")))
    val scored = c.join(queries, col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        round(cosPre(dot(col("qv"), col("v")), col("nq"), col("nv")), 9).as("cos"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("q_id"), col("rk").cast("int").as("rk"), col("vec_id"), col("cos"))
      .orderBy("q_id", "rk")
  }

  /** Candidates per query fed to the re-rank / final results kept. */
  val RerankCandidates = 10
  val RerankTopK = 3

  /** Two-stage retrieval (the RAG shape): CANDIDATE GENERATION over the
    * embedding space — cheap, high recall — then an exact text-overlap
    * RE-RANK of only those candidates, joining the embedding table to the
    * document table (vec_id ≡ doc_id in the harness corpus). The economics
    * are the same as every two-stage operator in this library (bloom →
    * exact verify, LSH bands → exact Jaccard): the expensive signal runs on
    * O(queries · [[RerankCandidates]]) rows, never on the corpus.
    *
    * Scale shape: stage 1 is [[bruteForceTopK]]'s broadcast-queries scan
    * (the IVF variants are the drop-in at corpus scale — same candidate
    * contract); stage 2 BROADCASTS the tiny candidate set back over the
    * document scan twice (query side, candidate side), so the corpus text
    * is streamed, never shuffled. Both scores are engine-exact: cosine
    * rounded at 9 dp before ranking, overlap an integer-ratio Jaccard.
    */
  def retrieveRerank(s: SparkSession, dir: String): DataFrame = {
    import TextHash.{jaccard, shingles3, tokens}
    val c = corpus(s, dir)
    val queries = broadcast(
      c.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nv").as("nq")))
    val scored = c.join(queries, col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        round(cosPre(dot(col("qv"), col("v")), col("nq"), col("nv")), 9).as("cos"))
    val wCand = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))
    val cands = scored.withColumn("crk", row_number().over(wCand))
      .filter(col("crk") <= RerankCandidates)
      .select(col("q_id"), col("vec_id"), col("cos"))
    val sh = t(s, dir, "documents")
      .select(col("doc_id"), shingles3(tokens(col("text"))).as("grams"))
    // candidate set is O(queries·k): broadcast it over the document scan,
    // once per side — the corpus text streams, it never shuffles
    val withC = sh.select(col("doc_id"), col("grams").as("c_grams"))
      .join(broadcast(cands), col("doc_id") === col("vec_id"))
      .drop("doc_id")
    // q_id < NQueries by construction: filter the query-side document scan
    // down to the query docs BEFORE shingling — without it this side would
    // tokenize+shingle the whole corpus again to recover 20 rows
    val withQ = sh.filter(col("doc_id") < NQueries)
      .select(col("doc_id"), col("grams").as("q_grams"))
      .join(broadcast(withC), col("doc_id") === col("q_id"))
      .drop("doc_id")
    val wFinal = Window.partitionBy(col("q_id"))
      .orderBy(col("overlap").desc, col("cos").desc, col("vec_id"))
    withQ
      .select(col("q_id"), col("vec_id"), col("cos"),
        round(jaccard(col("q_grams"), col("c_grams")), 9).as("overlap"))
      .withColumn("rk", row_number().over(wFinal))
      .filter(col("rk") <= RerankTopK)
      .select(col("q_id"), col("rk").cast("int").as("rk"),
        col("vec_id"), col("cos"), col("overlap"))
      .orderBy("q_id", "rk")
  }

  /** Candidates per query considered by [[mmrDiversify]] / selections kept. */
  val MmrCandidates = 10
  val MmrK = 5

  /** Maximal-marginal-relevance diversified top-k — the result-page
    * operator between retrieval and consumption: pure cosine top-k returns
    * near-duplicate neighbors (the corpus HAS near-dup embeddings —
    * [[embedNearDup]] exists because of them), so each greedy round picks
    * the candidate maximizing `2·rel − max_sim_to_already_selected`
    * (λ = 1/2, scaled ×2 so no fractional constant enters the arithmetic;
    * round 1 has no selected set and reduces to max relevance,
    * maxsim = 0 by convention). Ties break to the smallest vec_id.
    *
    * Scale shape: candidate generation is [[bruteForceTopK]]'s broadcast-
    * queries corpus scan (the IVF variants are the drop-in at corpus
    * scale); everything after it runs on O(queries·[[MmrCandidates]])
    * rows — the pairwise-sim table ([[MmrCandidates]]² per query) is
    * computed ONCE and cached, and each greedy round is two broadcast
    * joins plus a per-query argmax window over that tiny frame. The
    * inherently sequential part of MMR never touches the corpus; rounds
    * for ALL queries advance simultaneously inside one window per round
    * (no per-query driver loop).
    *
    * Determinism: rel and sim are cosines rounded to 9 dp before any
    * comparison; `2·rel − maxsim` is one exact IEEE subtract of those
    * rounded doubles — identical in any engine.
    */
  def mmrDiversify(s: SparkSession, dir: String, k: Int = MmrK,
      candidates: Int = MmrCandidates): DataFrame =
    mmrDiversifyCounted(s, dir, k, candidates)._1

  /** [[mmrDiversify]] with the greedy rounds it executed (convergence-skip
    * observability, as `GraphOps.kCoreCounted`).
    */
  private[graft] def mmrDiversifyCounted(s: SparkSession, dir: String,
      k: Int = MmrK, candidates: Int = MmrCandidates)
      : (DataFrame, Int) = Reuse.released {
    val c = corpus(s, dir)
    val queries = broadcast(
      c.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nv").as("nq")))
    val cand = Reuse(c.join(queries, col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        round(cosPre(dot(col("qv"), col("v")), col("nq"), col("nv")), 9).as("rel"))
      .withColumn("crk", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("rel").desc, col("vec_id"))))
      .filter(col("crk") <= candidates)
      .select(col("q_id"), col("vec_id"), col("rel")))
    // candidate-pair similarity matrix: MmrCandidates² rows per query,
    // vectors re-attached by broadcast of the tiny candidate set — the
    // corpus streams, it never shuffles
    val cv = c.select(col("vec_id"), col("v"), col("nv"))
      .join(broadcast(cand.select(col("q_id"), col("vec_id"))), "vec_id")
    val a = cv.select(col("q_id"), col("vec_id").as("a_id"),
      col("v").as("av"), col("nv").as("na"))
    val b = cv.select(col("q_id").as("bq"), col("vec_id").as("b_id"),
      col("v").as("bv"), col("nv").as("nb"))
    val pairs = Reuse(a.join(broadcast(b),
        col("q_id") === col("bq") && col("a_id") =!= col("b_id"))
      .select(col("q_id"), col("a_id"), col("b_id"),
        round(cosPre(dot(col("av"), col("bv")), col("na"), col("nb")), 9)
          .as("sim")))
    val wPick = Window.partitionBy(col("q_id"))
      .orderBy(col("mmr").desc, col("vec_id"))
    def pick(scored: DataFrame, rank: Int): DataFrame =
      scored.withColumn("rn", row_number().over(wPick))
        .filter(col("rn") === 1)
        .select(col("q_id"), lit(rank).as("rank"), col("vec_id"),
          col("rel"), col("maxsim"), col("mmr"))
    // per-round localCheckpoint (the BFS/kCore discipline): each round
    // reads `selected` THREE times (maxsim probe, left_anti, union), so an
    // uncheckpointed chain re-executes earlier rounds ~3^r times — 40s of
    // recompute on a 100-row frame; checkpointed, the loop is linear and
    // each round materializes ~queries rows eagerly
    var selected = pick(cand.select(col("q_id"), col("vec_id"), col("rel"),
      lit(0.0).as("maxsim"), (col("rel") * 2).as("mmr")), 1).localCheckpoint()
    // convergence probe: a greedy round picks at most one row per query,
    // and once EVERY query's candidate pool is exhausted a round picks
    // nothing — all later rounds are the identity, so the rest of the
    // unroll skips with byte-identical output (vacuous at the declared
    // MmrCandidates > MmrK, load-bearing for any caller that asks for
    // k ≥ the pool; spec-pinned). The probe reads the round's own
    // checkpointed pick — no extra job.
    var done = false
    var executed = 1
    (2 to k).foreach { r =>
      if (!done) {
        val selIds = selected.select(col("q_id").as("sq"), col("vec_id").as("b_id"))
        val maxsim = pairs.join(broadcast(selIds),
            col("q_id") === col("sq") && pairs("b_id") === selIds("b_id"))
          .groupBy(col("q_id"), col("a_id")).agg(max(col("sim")).as("maxsim"))
        val rem = cand.join(
          selected.select(col("q_id"), col("vec_id")), Seq("q_id", "vec_id"),
          "left_anti")
        val scored = rem.join(broadcast(maxsim),
            rem("q_id") === maxsim("q_id") && col("vec_id") === col("a_id"))
          .select(rem("q_id"), col("vec_id"), col("rel"), col("maxsim"),
            (col("rel") * 2 - col("maxsim")).as("mmr"))
        // the probing round COUNTS even when it picks nothing — it ran
        // the joins and the emptiness action (the GraphOps round counts'
        // convention: the fixpoint-detecting no-op round is executed)
        executed += 1
        val picked = pick(scored, r).localCheckpoint()
        if (picked.isEmpty) done = true
        else selected = selected.union(picked).localCheckpoint()
      }
    }
    (selected
      .select(col("q_id"), col("rank").cast("int").as("rank"),
        col("vec_id"), col("rel"), col("maxsim"), col("mmr"))
      .orderBy("q_id", "rank"), executed)
  }

  /** Per-list depth fed into [[rrfFusion]] / the standard RRF damping
    * constant / results kept per query.
    */
  val RrfDepth = 10
  val RrfC = 60
  val RrfTopK = 5

  /** Hybrid dense+sparse retrieval by reciprocal-rank fusion — the RAG
    * deployment shape: an embedding ranking and a lexical ranking each
    * see what the other misses (paraphrase vs exact-term queries), and
    * RRF fuses them WITHOUT score calibration (ranks only, so the two
    * incomparable score scales never meet):
    * `rrf = Σ_list 1000000 div (C + rank)` — integer parts-per-million,
    * engine-exact, absent-from-a-list contributes 0.
    *
    * Scale shape: the dense list is [[bruteForceTopK]]'s broadcast-
    * queries corpus scan (IVF is the at-scale drop-in); the sparse list
    * is a POSTING join — broadcast query gram postings meet one corpus
    * gram explode, |A∩B| falls out of a count (the inverted-index
    * economics; the LSH band index is the at-scale drop-in,
    * [[Dedup]]'s chain). The fusion itself touches only the two
    * O(queries·[[RrfDepth]]) rank lists: one full-outer join on
    * (q_id, doc_id) and one per-query top-k window. vec_id ≡ doc_id in
    * the harness corpus (the [[retrieveRerank]] contract).
    */
  def rrfFusion(s: SparkSession, dir: String): DataFrame = {
    import TextHash.{shingles3, tokens}
    val c = corpus(s, dir)
    val queries = broadcast(
      c.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nv").as("nq")))
    val wRank = Window.partitionBy(col("q_id"))
    val dense = c.join(queries, col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("doc_id"),
        round(cosPre(dot(col("qv"), col("v")), col("nq"), col("nv")), 9).as("cos"))
      .withColumn("d_rank", row_number().over(
        wRank.orderBy(col("cos").desc, col("doc_id"))).cast("int"))
      .filter(col("d_rank") <= RrfDepth)
      .select(col("q_id"), col("doc_id"), col("d_rank"))
    // sparse side as a POSTING join, not a per-pair array intersection:
    // the query gram sets broadcast as (gram → q_id, |Q|) postings, the
    // corpus explodes its grams once, and |A∩B| falls out of a count per
    // (q, doc) — the same integers the full jaccard() computes (grams are
    // distinct per doc, so |A∪B| = |Q|+|D|−∩), at a fraction of the work
    // (measured 4.4 s → the 20×corpus array_intersect was the bench line).
    // Docs sharing NO gram get no sparse rank (they carry no lexical
    // signal to fuse; the oracle applies the same jw > 0 cut).
    // pinned: the shingled corpus feeds BOTH the broadcast query postings
    // and the corpus-side explode — unpinned, tokenize+shingle runs twice
    val sh = Reuse(t(s, dir, "documents")
      .select(col("doc_id"), shingles3(tokens(col("text"))).as("grams")))
    val qPost = broadcast(sh.filter(col("doc_id") < NQueries)
      .select(col("doc_id").as("q_id"), size(col("grams")).as("qsz"),
        explode(col("grams")).as("gram")))
    val sparse = sh
      .select(col("doc_id"), size(col("grams")).as("dsz"),
        explode(col("grams")).as("gram"))
      .join(qPost, "gram")
      .filter(col("doc_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("doc_id"), col("qsz"), col("dsz"))
      .agg(count(lit(1)).as("inter"))
      .select(col("q_id"), col("doc_id"),
        round(col("inter").cast("double") /
          (col("qsz") + col("dsz") - col("inter")).cast("double"), 9)
          .as("jw"))
      .withColumn("s_rank", row_number().over(
        wRank.orderBy(col("jw").desc, col("doc_id"))).cast("int"))
      .filter(col("s_rank") <= RrfDepth)
      .select(col("q_id"), col("doc_id"), col("s_rank"))
    val fused = dense.join(sparse, Seq("q_id", "doc_id"), "full_outer")
      .withColumn("rrf_ppm",
        coalesce(expr(s"1000000 div ($RrfC + d_rank)"), lit(0L)) +
          coalesce(expr(s"1000000 div ($RrfC + s_rank)"), lit(0L)))
    fused
      .withColumn("rank", row_number().over(
        wRank.orderBy(col("rrf_ppm").desc, col("doc_id"))).cast("int"))
      .filter(col("rank") <= RrfTopK)
      .select(col("q_id"), col("rank"), col("doc_id"),
        col("d_rank").as("dense_rank"), col("s_rank").as("sparse_rank"),
        col("rrf_ppm"))
      .orderBy("q_id", "rank")
  }

  /** Sub-vectors per embedding for [[maxSimLate]] (64 dims → 4×16) /
    * results kept per query.
    */
  val MaxSimParts = 4
  val MaxSimTopK = 5

  /** Late-interaction scoring (the multi-vector/ColBERT shape): each
    * embedding is treated as [[MaxSimParts]] sub-vectors (contiguous
    * 16-dim slices — the harness corpus carries one vector per doc, so
    * the slicing is the documented synthetic stand-in for true per-token
    * vectors, the [[graft.ops.AnalyticsOps.rowWeight]] convention), and
    * `score(q,d) = Σ_i max_j cos(q_i, d_j)`: every query part finds its
    * best-matching document part instead of one global direction —
    * the match survives when only PART of a document answers the query.
    *
    * Determinism: each part cosine is rounded to 9 dp, the max-over-parts
    * is an exact comparison of those rounded doubles, and the final sum
    * adds the [[MaxSimParts]] maxima in fixed part order — the identical
    * IEEE chain in any engine. Scale shape: queries broadcast, the
    * [[MaxSimParts]]² part cosines are row-local scan arithmetic, and the
    * per-query top-k is one window — the corpus never shuffles. The flat
    * 64-dim cosine rides along so the spec can pin where late interaction
    * genuinely re-orders the ranking.
    */
  def maxSimLate(s: SparkSession, dir: String): DataFrame = {
    val partLen = 64 / MaxSimParts
    def parts(v: Column): Seq[Column] =
      (0 until MaxSimParts).map(p => slice(v, p * partLen + 1, partLen))
    val base = t(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val withParts = base.select(
      col("vec_id") +: col("v") +: norm(col("v")).as("nv") +:
        parts(col("v")).zipWithIndex.flatMap { case (p, i) =>
          Seq(p.as(s"p$i"), norm(p).as(s"np$i"))
        }: _*)
    val queries = broadcast(withParts.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id") +: col("v").as("qv") +:
        col("nv").as("nq") +:
        (0 until MaxSimParts).flatMap(i =>
          Seq(col(s"p$i").as(s"qp$i"), col(s"np$i").as(s"qnp$i"))): _*))
    // an all-zero 16-dim slice (possible for sparse/padded embeddings even
    // when the full-vector norm is nonzero) would make 0/0 = NaN here, and
    // Spark sorts NaN LAST-greatest while other engines differ — define
    // the zero-slice cosine as 0 (no direction, no similarity) instead
    def partCos(i: Int, j: Int): Column =
      when(col(s"qnp$i") * col(s"np$j") === 0.0, 0.0)
        .otherwise(round(cosPre(dot(col(s"qp$i"), col(s"p$j")),
          col(s"qnp$i"), col(s"np$j")), 9))
    val partMax = (0 until MaxSimParts).map { i =>
      greatest((0 until MaxSimParts).map(j => partCos(i, j)): _*)
    }
    val score = partMax.reduce(_ + _)
    val scored = withParts.join(queries, col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        score.as("maxsim"),
        round(cosPre(dot(col("qv"), col("v")), col("nq"), col("nv")), 9)
          .as("cos"))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(col("maxsim").desc, col("vec_id"))).cast("int"))
      .filter(col("rank") <= MaxSimTopK)
      .select(col("q_id"), col("rank"), col("vec_id"), col("maxsim"),
        col("cos"))
      .orderBy("q_id", "rank")
  }

  /** Per-label centroid directions as exact decimal sums (unnormalized —
    * cosine is scale-invariant, so the sum direction equals the mean
    * direction and no order-sensitive division is needed).
    */
  def centroids(s: SparkSession, dir: String): DataFrame =
    corpus(s, dir)
      .select(col("label"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("label"), col("pos"))
      .agg(sum(col("x").cast("decimal(38,10)")).as("sx"))
      .groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("pos"), col("sx").cast("double").as("cx"))))
        .as("ps"))
      .select(col("label").as("c_label"),
        transform(col("ps"), p => p.getField("cx")).as("centroid"))
      .withColumn("cnorm", norm(col("centroid")))

  val HyperPlanes = 8

  /** Deterministic random hyperplanes: component (p,d) derives from the md5
    * of "p:d" scaled to [-1, 1) — reproducible in any engine, like every
    * other hash in this library.
    */
  def planeComponents(dims: Int): Seq[Seq[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until HyperPlanes).map { p =>
      (0 until dims).map { d =>
        val hex = md.digest(s"$p:$d".getBytes("UTF-8"))
          .take(4).map(b => f"${b & 0xff}%02x").mkString
        java.lang.Long.parseLong(hex, 16) / 2147483648.0 - 1.0
      }
    }
  }

  /** Embedding near-dup pairs via sign-bit (random hyperplane) LSH:
    * bucket = sign pattern of 8 hyperplane dot products; only same-bucket
    * pairs pay the exact cosine, kept at cosine ≥ 0.4.
    *
    * The scale path for embedding dedup: bucketing replaces the quadratic
    * all-pairs with one groupBy-equal-bucket join; recall is tunable via
    * bands of planes exactly like MinHash-LSH.
    */
  def embedNearDup(s: SparkSession, dir: String): DataFrame = {
    val c = corpus(s, dir)
    val planes = planeComponents(64)
    val bucket = planes.zipWithIndex.map { case (w, p) =>
      when(dot(col("v"), typedLit(w)) >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
    val bucketed =
      Reuse(c.select(col("vec_id"), col("v"), col("nv"), bucket.as("bucket")))
    bucketed.as("a").join(bucketed.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"),
        round(cosPre(dot(col("a.v"), col("b.v")), col("a.nv"), col("b.nv")), 9).as("cos"))
      .filter(col("cos") >= 0.4)
      .orderBy("a_id", "b_id")
  }

  // ---- learned-centroid IVF (k-means + multi-probe) ----------------------

  val KmeansK = 8
  val KmeansIters = 2
  val Probes = 2

  /** Assign every corpus vector to its nearest centroid by cosine (rounded
    * to 9 dp BEFORE the argmax, ties to the smallest cid — deterministic in
    * any engine). The centroid TABLE rides in one broadcast row (an
    * O(k)-size collect_list array) and the argmax is the native
    * [[graft.functions.NearestCentroid]] loop — a scan-side projection:
    * zero exchanges, zero candidate fan-out, and the vector payload never
    * leaves its scan partition. The superseded aggregation form (broadcast
    * join fanning each vector to k candidate structs, collapsed by a
    * map-side-partial struct max — one Exchange per assignment, per Lloyd
    * round) is kept as [[assignAgg]], the executable spec NearestSpec pins
    * the native loop bit-identical against — on vectors without NULL
    * elements (a NULL dot product is skipped here, but competes in the
    * aggregation form's struct max). An empty centroid table assigns
    * nothing in both forms: its one empty-array row is not crossed.
    */
  private[graft] def assign(c: DataFrame, cents: DataFrame): DataFrame =
    c.crossJoin(broadcast(centsArr(cents).filter(size(col("cs")) > 0)))
      .select(col("vec_id"), col("v"), col("nv"),
        graft.functions.NearestCentroid(col("v"), col("nv"), col("cs"))
          .as("cid"))

  /** The centroid table as one array row: (cid, centroid, cnorm) structs. */
  private def centsArr(cents: DataFrame): DataFrame =
    cents.agg(collect_list(
      struct(col("cid").cast("int").as("cid"), col("centroid"), col("cnorm")))
      .as("cs"))

  /** The superseded aggregation-form assignment — the executable
    * specification of [[assign]]'s semantics (NearestSpec pins the native
    * expression bit-identical against this on fixture and adversarial
    * corpora).
    */
  private[graft] def assignAgg(c: DataFrame, cents: DataFrame): DataFrame =
    c.join(broadcast(cents))
      .select(col("vec_id"),
        struct(
          round(cosPre(dot(col("v"), col("centroid")), col("nv"), col("cnorm")), 9)
            .as("ccos"),
          (-col("cid")).as("ncid"), col("cid"), col("v"), col("nv")).as("cand"))
      .groupBy(col("vec_id"))
      .agg(max(col("cand")).as("best"))
      .select(col("vec_id"), col("best.v").as("v"), col("best.nv").as("nv"),
        col("best.cid").as("cid"))

  /** K-means centroid directions learned by Lloyd iterations with
    * deterministic seeding (the first KmeansK vec_ids): assignment by
    * rounded cosine, update as exact DECIMAL(38,10) component sums (cosine
    * is scale-invariant, so the sum direction IS the mean direction and no
    * order-sensitive division happens). Fully reproducible: the DuckDB
    * oracle replays the same iterations.
    *
    * Scale shape per iteration: one broadcast join + one window over
    * vec_id-partitions (the assignment) and one hash aggregation over
    * (cid, pos) — the corpus is scanned, never shuffled whole.
    */
  def kmeansCentroids(s: SparkSession, dir: String): DataFrame =
    kmeansCentroidsOf(corpus(s, dir))

  /** Cluster-count sizing for the within-cluster PAIR scanners
    * ([[semDedup]] / [[semDedupIndex]] / [[hardNegatives]]): their cost
    * is Σ n_c² — cluster SIZE, not cluster count, is the quadratic term —
    * so k scales with the corpus to hold the expected cluster near
    * [[PairClusterTarget]] and the pair scan at O(n·target). The round-10
    * full-inventory scale run measured the fixed-k=8 form at 25.7× for
    * 10× data (every cluster grew 10×, pairs 100×); scaled k restores
    * the linear bound. At the oracle fixtures (n ≤ 2000 embeddings) this
    * is exactly [[KmeansK]]; the pair-scanners' DuckDB oracles replay the
    * SAME formula (greatest(k, count/target) with rank seeding), so the
    * differential stays faithful at every scale it runs, sf1 included. The
    * routing/probe operators (IVF, IVFPQ) keep fixed k: their per-vector
    * cost is k dot products (linear in k), not a pair scan.
    */
  val PairClusterTarget = 250L

  private[graft] def pairClusterK(n: Long): Int =
    math.max(KmeansK.toLong, n / PairClusterTarget).toInt

  /** The FLAT single-level membership (one Lloyd chain at the full fine
    * budget k) — superseded by [[hierMembers]] on the query path, retained
    * as the recall reference the hierarchical form is pinned against
    * (IvfRecallSpec): the n·k assignment rounds are exactly the measured
    * n^1.5 term the two-level form exists to break.
    */
  private[graft] def flatMembers(c: DataFrame, k: Int): DataFrame =
    assign(c, kmeansCentroidsOf(c, k, rankSeed = true))

  /** Lloyd rounds for the COARSE routing level of [[hierMembers]] — one:
    * the fine level refines within cells, so extra coarse rounds buy only
    * marginal cell balance at two n-row stages each.
    */
  val CoarseIters = 1

  /** Fine budgets at or below this run the pair-scanner membership with a
    * SINGLE coarse cell — flat Lloyd economics, no coarse routing stages.
    * The two-level form trades ~6 extra small stages for an n·√k (vs n·k)
    * assignment term; that trade only pays once k dwarfs √k. Measured
    * crossover: at sf1 (n = 20 000, k = 80) the flat membership costs
    * 4.2 s vs the two-level's 7.9 s — stage overhead dominates; at sf5
    * (n = 100 000, k = 400) the two-level form wins 12.6 s vs 49.5 s
    * total — the exponent dominates. k = 200 (n = 50 000 at the
    * 250-vector target) sits between the two measured points.
    */
  val CoarseRouteMinK = 200

  /** Coarse-level cluster count for the two-level pair-scanner assignment:
    * 1 below [[CoarseRouteMinK]] (single cell — the flat regime; routing
    * to one cell is centroid-independent, so [[hierMembers]] skips the
    * coarse Lloyd entirely), else the smallest integer whose square
    * reaches the fine-cluster budget k (integer-corrected after a float
    * sqrt so both engines compute the identical value — the oracle
    * inlines the same gate and the same floor+correction).
    */
  private[graft] def coarseCount(k: Int): Int =
    if (k <= CoarseRouteMinK) 1
    else {
      val r = math.sqrt(k.toDouble).toInt
      if (r * r < k) r + 1 else r
    }

  /** Resolve the pair-scanners' cluster count: `Some(k)` is caller-fixed;
    * `None` sizes from the corpus (one metadata-cheap parquet count —
    * footer row counts, not a data scan).
    */
  private def resolvePairK(c: DataFrame, k: Option[Int]): Int =
    k.getOrElse(pairClusterK(c.count()))

  /** [[kmeansCentroids]] over an explicit corpus frame — the factor that
    * lets the incremental tier train on the BASE corpus only — with the
    * cluster count as a parameter. Two seeding regimes, selected by the
    * CALLER's oracle contract (not by k — a k-derived switch left the
    * regimes asymmetric with the pair-scanner oracles, which rank-seed at
    * EVERY scale; on an id-gapped corpus small enough that
    * [[pairClusterK]] returns [[KmeansK]], `vec_id < k` would seed
    * fewer/different vectors than the oracle's k-smallest):
    *
    *  - `rankSeed = false` (the IVF/IVFPQ routing tiers and the
    *    incremental tier): seeds are `vec_id < k` — the SET those
    *    unrolled-Lloyd SQL oracles replay, including over FILTERED base
    *    corpora where some ids below k are absent (the incremental
    *    tier's contract pins the seed set, not its size);
    *  - `rankSeed = true` (the pair scanners [[semDedup]] /
    *    [[semDedupIndex]] / [[hardNegatives]], whose oracles replay
    *    k-smallest-by-rank unconditionally): seeds are the k SMALLEST
    *    vec_ids — GenScale-style variant offsets leave id gaps, and a
    *    `< k` filter there would silently return fewer seeds once k
    *    outgrows the dense base range. cid = seed rank (0-based). On
    *    dense 0-based ids with k ≤ KmeansK the two regimes coincide,
    *    which is why the fixture differentials can't tell them apart.
    */
  private[graft] def kmeansCentroidsOf(c: DataFrame, k: Int = KmeansK,
      rankSeed: Boolean = false, iters: Int = KmeansIters): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    var cents =
      if (!rankSeed && k <= KmeansK)
        c.filter(col("vec_id") < k)
          .select(col("vec_id").cast("int").as("cid"), col("v").as("centroid"),
            col("nv").as("cnorm"))
      else
        c.orderBy("vec_id").limit(k)
          .withColumn("cid",
            (row_number().over(Window.orderBy(col("vec_id"))) - 1).cast("int"))
          .select(col("cid"), col("v").as("centroid"), col("nv").as("cnorm"))
    for (_ <- 0 until iters) {
      cents = assign(c, cents)
        .select(col("cid"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("cid"), col("pos"))
        .agg(sum(col("x").cast("decimal(38,10)")).as("sx"))
        .groupBy(col("cid"))
        .agg(array_sort(collect_list(struct(col("pos"), col("sx").cast("double").as("cx"))))
          .as("ps"))
        .select(col("cid"), transform(col("ps"), p => p.getField("cx")).as("centroid"))
        .withColumn("cnorm", norm(col("centroid")))
    }
    cents
  }

  /** IVF with learned centroids and multi-probe routing: queries route to
    * their `probes` nearest centroids and scan only those clusters' members
    * — the recall knob without any extra corpus cost (clusters are
    * disjoint, so multi-probe scans `probes/k` of the corpus).
    */
  def ivfKmeansTopK(s: SparkSession, dir: String, probes: Int = Probes): DataFrame = {
    val c = corpus(s, dir)
    // consumed twice (membership + routing); pinned per the class note
    val cents = Reuse(kmeansCentroids(s, dir))
    val members = assign(c, cents)
    val queries = c.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nv").as("nq"))
    val wq = Window.partitionBy(col("q_id"))
      .orderBy(col("ccos").desc, col("cid"))
    val routed = queries.join(broadcast(cents))
      .select(col("q_id"), col("qv"), col("nq"), col("cid"),
        round(cosPre(dot(col("qv"), col("centroid")), col("nq"), col("cnorm")), 9)
          .as("ccos"))
      .withColumn("crk", row_number().over(wq))
      .filter(col("crk") <= probes)
      .select(col("q_id"), col("qv"), col("nq"), col("cid").as("probe_cid"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))
    broadcast(routed).join(members,
        col("cid") === col("probe_cid") && col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        round(cosPre(dot(col("qv"), col("v")), col("nq"), col("nv")), 9).as("cos"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("q_id"), col("rk").cast("int").as("rk"), col("vec_id"), col("cos"))
      .orderBy("q_id", "rk")
  }

  /** Product-quantization geometry: [[PqM]] subspaces of [[PqSub]] dims
    * (M·sub = the 64-dim corpus), [[PqK]] codes per subspace — 8 bytes per
    * vector instead of 256, the compression tier between int8
    * ([[quantizedCorpus]]) and raw floats that real ANN indexes ship.
    */
  val PqM = 8
  val PqSub = 8
  val PqK = 16

  /** Squared L2 via the dot identity |a|²+|b|²−2a·b — three native
    * [[dot]] folds (codegen'd), rounded to 9 dp before any argmin so both
    * engines pick identical winners. This identity IS the metric's
    * definition here; the oracle mirrors the same three folds.
    */
  private def l2sq(a: Column, b: Column): Column =
    round(dot(a, a) + dot(b, b) - lit(2.0) * dot(a, b), 9)

  /** Explode the corpus into (vec_id, m, subvector) rows. `carry` names
    * extra per-vector columns to ride along (e.g. the IVF cluster id for
    * the fused index build).
    */
  private[graft] def pqSubvectors(c: DataFrame,
      carry: Seq[String] = Nil): DataFrame =
    c.select(col("vec_id") +: carry.map(col) :+ posexplode(
      transform(sequence(lit(0), lit(PqM - 1)),
        m => slice(col("v"), m * PqSub + lit(1), lit(PqSub))))
      .as(Seq("m", "sv")): _*)

  /** Nearest-code assignment per (vector, subspace): candidates scored
    * against the broadcast codebooks, winner picked by the same
    * min-of-struct map-side-partial trick as [[assign]] (ties to the
    * smallest code — the row_number winner the oracle replays).
    * `keepSv` carries the subvector through only for the Lloyd update;
    * the other call sites drop it so the partial-min shuffle moves
    * (d, code) and not a 64-byte dead payload (sv can never influence
    * the min — code is unique per candidate).
    */
  private[graft] def pqAssign(sub: DataFrame, books: DataFrame,
      keepSv: Boolean, carry: Seq[String] = Nil): DataFrame = {
    // the codebook of each subspace rides in one broadcast array row and
    // the argmin is the native NearestCode loop — a scan-side projection
    // (the assign/assignAgg evolution; NearestSpec pins it against
    // pqAssignAgg). keepSv no longer changes what moves: nothing shuffles,
    // and the winner's sv IS the row's own sv (every candidate of a
    // (vector, subspace) shares the probe subvector).
    val bm = books.groupBy(col("m"))
      .agg(collect_list(struct(col("code").cast("int").as("code"), col("cb")))
        .as("bs"))
    val out = Seq(col("vec_id"), col("m"), col("best.code").as("code"),
      col("best.d").as("d")) ++ carry.map(col) ++
      (if (keepSv) Seq(col("sv")) else Nil)
    sub.join(broadcast(bm), Seq("m"))
      .withColumn("best", graft.functions.NearestCode(col("sv"), col("bs")))
      .select(out: _*)
  }

  /** The superseded aggregation-form code assignment — the executable
    * specification of [[pqAssign]]'s semantics (NearestSpec).
    */
  private[graft] def pqAssignAgg(sub: DataFrame, books: DataFrame,
      keepSv: Boolean, carry: Seq[String] = Nil): DataFrame = {
    val cand = Seq(l2sq(col("sv"), col("cb")).as("d"), col("code")) ++
      (if (keepSv) Seq(col("sv")) else Nil)
    val out = Seq(col("vec_id"), col("m"), col("best.code").as("code"),
      col("best.d").as("d")) ++ carry.map(col) ++
      (if (keepSv) Seq(col("best.sv").as("sv")) else Nil)
    sub.join(broadcast(books), Seq("m"))
      // carried columns are functionally dependent on vec_id, so adding
      // them to the grouping keys changes nothing but keeps them in scope
      .select(col("vec_id") +: col("m") +: carry.map(col) :+
        struct(cand: _*).as("cand"): _*)
      .groupBy(col("vec_id") +: col("m") +: carry.map(col): _*)
      .agg(min(col("cand")).as("best"))
      .select(out: _*)
  }

  /** PQ training: seed codebooks from the first [[PqK]] vectors, one
    * Lloyd refinement (assign → exact-decimal component means). Returns
    * the refined codebooks (m, code, cb).
    */
  private[graft] def pqTrain(sub: DataFrame): DataFrame = {
    val seed = sub.filter(col("vec_id") < PqK)
      .select(col("m"), col("vec_id").cast("int").as("code"),
        col("sv").as("cb"))
    pqAssign(sub, seed, keepSv = true)
      .select(col("m"), col("code"), posexplode(col("sv")).as(Seq("pos", "x")))
      .groupBy(col("m"), col("code"), col("pos"))
      .agg(sum(col("x").cast("decimal(38,10)")).as("sx"),
        count(lit(1)).as("cnt"))
      .select(col("m"), col("code"), col("pos"),
        (col("sx").cast("double") / col("cnt")).as("cx"))
      .groupBy(col("m"), col("code"))
      .agg(array_sort(collect_list(struct(col("pos"), col("cx")))).as("ps"))
      .select(col("m"), col("code"),
        transform(col("ps"), p => p.getField("cx")).as("cb"))
  }

  /** The trained codebooks as a public surface — at deployment these
    * (M·K·sub doubles) are what ships to query nodes; the corpus keeps
    * only code words. The exploded corpus pqTrain reads twice (seed +
    * assignment) is pinned.
    */
  def pqCodebooks(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    pqTrain(Reuse(pqSubvectors(c)))
  }

  /** Product quantization: per-subspace codebooks seeded from the first
    * [[PqK]] vectors, one deterministic Lloyd refinement (assign →
    * exact-decimal component means → reassign), output = the [[PqM]]-byte
    * code word per vector plus its reconstruction error (left-fold over
    * the per-subspace distances in subspace order — a fixed fold order,
    * so the double sum is reproducible in any engine).
    *
    * Scale shape: codebooks are M·K rows and BROADCAST everywhere; the
    * corpus is scanned per Lloyd pass and shuffles only the (vec_id, m)
    * partial-min rows (same economics as [[kmeansCentroids]]); the update
    * aggregates (m, code, pos) cells — bounded by M·K·sub, corpus-size
    * independent. Unlike the int8 path this is the INDEXABLE compression:
    * asymmetric distance tables against the codebooks replace full dot
    * products at query time.
    */
  def pqQuantize(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    // consumed by seed + two assignment passes: pin the exploded form
    val sub = Reuse(pqSubvectors(c))
    pqAssign(sub, pqTrain(sub), keepSv = false)
      .groupBy(col("vec_id"))
      // err: the M-way sum of the 9dp-rounded per-subspace distances runs
      // as a DECIMAL(20,9) aggregate, the pqSearch discipline — a double
      // fold + round(…, 9) put one vector in 100k at sf5 on a rounding
      // boundary where the two engines' round() of the SAME double
      // disagree by 1 ulp of the 9th decimal; a 9dp-rounded double casts
      // to DECIMAL(20,9) exactly (it sits ~2^-30 from the true decimal,
      // never near the half-boundary), the decimal sum is exact, and no
      // second rounding exists to disagree on
      .agg(
        array_sort(collect_list(struct(col("m"), col("code")))).as("mc"),
        sum(col("d").cast("decimal(20,9)")).as("errd"))
      .select(col("vec_id"),
        concat_ws(",",
          transform(col("mc"), e => e.getField("code").cast("string")))
          .as("codes"),
        col("errd").cast("double").as("err"))
      .orderBy("vec_id")
  }

  /** Results kept per query by the PQ asymmetric-distance search. */
  val PqTopK = 3

  /** Asymmetric-distance (ADC) top-k over the PQ codes — the operation PQ
    * exists for: each query precomputes a distance TABLE against every
    * codebook entry (queries × M × K rows — tiny, broadcast), and a
    * corpus vector's approximate distance is the SUM of M table lookups
    * on its stored codes. The corpus side reads ONLY the 8-byte code
    * words — never the float vectors — which is the whole economics of a
    * PQ index at 100 TB.
    *
    * Determinism: per-subspace distances are 9dp-rounded doubles; the
    * M-way sum runs as a DECIMAL(20,9) aggregate (associative, partition-
    * order independent) and both engines cast the same decimal to double.
    * Shuffle carries one partial-summed row per (query, vector) — the
    * ADC scan pattern; the table join itself is broadcast.
    */
  def pqSearch(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("q_id")).orderBy(col("adist"), col("vec_id"))
    pqAdcScores(s, dir)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= PqTopK)
      .select(col("q_id"), col("rk").cast("int").as("rk"), col("vec_id"),
        col("adist"))
      .orderBy("q_id", "rk")
  }

  /** The shared ADC scoring stage: every (query, corpus vector) pair's
    * approximate distance from the code words (see [[pqSearch]] for the
    * economics and determinism notes).
    */
  private def pqAdcScores(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    // consumed by train + corpus-assign + query side: pin the explode
    val sub = Reuse(pqSubvectors(c))
    // codebooks feed the corpus assignment AND the distance tables
    val books = Reuse(pqTrain(sub))
    val codes = pqAssign(sub, books, keepSv = false)
      .select(col("vec_id"), col("m"), col("code"))
    val tables = sub.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("m"), col("sv").as("qsv"))
      .join(broadcast(books), Seq("m"))
      .select(col("q_id"), col("m"), col("code"),
        l2sq(col("qsv"), col("cb")).as("d"))
    codes.join(broadcast(tables), Seq("m", "code"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("d").cast("decimal(20,9)")).as("dsum"))
      .select(col("q_id"), col("vec_id"), col("dsum").cast("double").as("adist"))
  }

  /** ADC shortlist size fed to the exact re-rank: 20·k. Wider than the
    * textbook 10·k because the shortlist metric (L2 over code words) and
    * the final metric (cosine over raw vectors) disagree wherever norms
    * vary — the extra width buys back the neighbors the L2 cut would
    * drop (recall@3 0.68 at 10·k → ≥0.8 at 20·k on the fixture,
    * QuantizeSpec).
    */
  val PqRerankCandidates = 20 * PqTopK

  /** PQ candidates → EXACT re-rank — the composition that turns the PQ
    * index into a usable retriever: the ADC scan shortlists
    * [[PqRerankCandidates]] per query from the 8-byte codes alone, and
    * only the shortlist — O(queries · 20k) rows — is re-scored against
    * the RAW vectors by exact cosine (the [[retrieveRerank]] economics:
    * the expensive signal never touches the corpus). Quantization error
    * then only costs RECALL (a true neighbor missing from the
    * shortlist), not ranking precision; measured on this fixture the
    * re-rank lifts recall@3 vs [[bruteForceTopK]] from ≈0.22 (raw ADC,
    * the honesty note on [[pqQuantize]]) to ≥0.8 — pinned in
    * QuantizeSpec.
    *
    * Shape: the shortlist BROADCASTS back over the embedding scan (the
    * corpus streams, it never shuffles); query vectors broadcast as an
    * NQueries-row table; the final top-k is one window over
    * O(queries · 20k) rows.
    */
  def pqSearchRerank(s: SparkSession, dir: String): DataFrame = {
    val wa = Window.partitionBy(col("q_id")).orderBy(col("adist"), col("vec_id"))
    val shortlist = pqAdcScores(s, dir)
      .withColumn("ark", row_number().over(wa))
      .filter(col("ark") <= PqRerankCandidates)
      .select(col("q_id"), col("vec_id"), col("adist"))
    val c = corpus(s, dir)
    val queries = broadcast(
      c.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("qq"), col("v").as("qv"), col("nv").as("nq")))
    val wf = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))
    c.join(broadcast(shortlist), Seq("vec_id"))
      .join(queries, col("q_id") === col("qq"))
      .select(col("q_id"), col("vec_id"), col("adist"),
        round(cosPre(dot(col("qv"), col("v")), col("nq"), col("nv")), 9).as("cos"))
      .withColumn("rk", row_number().over(wf))
      .filter(col("rk") <= PqTopK)
      .select(col("q_id"), col("rk").cast("int").as("rk"), col("vec_id"),
        col("cos"), col("adist"))
      .orderBy("q_id", "rk")
  }

  /** Composed IVF × PQ retrieval — the production ANN stack at 100 TB,
    * multiplying the two prunings the tiers demonstrate separately:
    * [[ivfKmeansTopK]]'s cluster routing cuts WHICH vectors are scanned
    * (probes/k of the corpus, disjoint clusters) and PQ's code words cut
    * WHAT is read per vector (8 bytes, never the floats); the ADC scan
    * touches only probed clusters' codes, and only the
    * [[PqRerankCandidates]] shortlist ever reaches the raw vectors for
    * the exact re-rank. The persisted artifact is the classic IVFPQ
    * index: (vec_id, cid, code*) — membership joined onto codes once.
    *
    * Recall composes multiplicatively (IVF coverage × shortlist
    * coverage) — the honest ANN trade, bounded below by the spec against
    * the probed-cluster exhaustive search.
    *
    * Shape: centroids and codebooks broadcast; routing is an
    * NQueries-row broadcast pruning the index scan to probed clusters
    * BEFORE the distance-table join; the table join is a broadcast of
    * queries × M × K rows; one (q_id, vec_id) aggregation carries the
    * partial ADC sums; the re-rank is [[pqSearchRerank]]'s streaming
    * corpus join.
    */
  def ivfPqSearch(s: SparkSession, dir: String, probes: Int = Probes): DataFrame = {
    val (cents, books, index) = ivfPqIndex(s, dir)
    ivfPqProbe(s, dir, cents, books, index, probes)
  }

  /** Retrieval-quality EVALUATION of the IVFPQ index against exact
    * search — the monitoring query a serving pipeline runs after every
    * index build/merge: per query, recall@k (|ANN ∩ exact| over the
    * top-[[PqTopK]]) and MRR of the true nearest neighbor, both cleared
    * to exact ×1e6 integers (counts and ranks are integers; no float
    * enters the metric, so the differential oracle pins it bit-exactly).
    *
    * Scale shape: the metric join touches only the two top-k relations
    * (NQueries·k rows — trivial); the cost is the two retrieval passes
    * themselves, each already scale-shaped ([[ivfPqSearch]]'s routed
    * probe, [[bruteForceTopK]]'s broadcast-queries scan). The exact pass
    * is the ground-truth price of an eval — at 100 TB the query SAMPLE
    * (NQueries) is the knob, never the corpus side.
    */
  def annEval(s: SparkSession, dir: String): DataFrame = {
    val ann = ivfPqSearch(s, dir)
      .select(col("q_id"), col("rk").cast("bigint").as("ann_rk"),
        col("vec_id"))
    val exact = bruteForceTopK(s, dir).filter(col("rk") <= PqTopK)
      .select(col("q_id"), col("rk").cast("bigint").as("ex_rk"),
        col("vec_id"))
    val hits = exact.join(ann, Seq("q_id", "vec_id"))
      .groupBy(col("q_id"))
      .agg(count(lit(1)).as("n_hits"),
        min(when(col("ex_rk") === 1, col("ann_rk"))).as("top1_ann_rk"))
    exact.select(col("q_id")).distinct()
      .join(hits, Seq("q_id"), "left_outer")
      .selectExpr("q_id",
        "coalesce(n_hits, CAST(0 AS BIGINT)) AS n_hits",
        s"(1000000 * coalesce(n_hits, CAST(0 AS BIGINT))) div $PqTopK" +
          " AS recall_x1e6",
        "coalesce(1000000 div top1_ann_rk, CAST(0 AS BIGINT)) AS mrr_x1e6")
      .orderBy("q_id")
  }

  /** The BUILD half alone — the classic persisted IVFPQ artifact triple
    * (the bench's build/probe split freezes exactly these): learned
    * centroids, per-subspace codebooks, and the `(vec_id, cid, m, code)`
    * code-word index. One corpus pass: the cluster id attaches before
    * the subvector explode and rides the code assignment as a carried
    * grouping column — a corpus-sized codes ⨝ membership join (which
    * Spark would sort-merge) never exists. At rest the index would
    * persist bucketed by cid; here cid is simply a column of the frame.
    */
  def ivfPqIndex(s: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame) =
    ivfPqIndexOf(corpus(s, dir))

  /** [[ivfPqIndex]] over an explicit corpus frame (the incremental tier
    * builds its base-trained artifacts through this).
    */
  private def ivfPqIndexOf(c: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    // consumed twice (membership + routing); pinned per the class note
    val cents = Reuse(kmeansCentroidsOf(c))
    val sub = Reuse(pqSubvectors(
      assign(c, cents).select(col("vec_id"), col("v"), col("cid")),
      carry = Seq("cid")))
    val books = Reuse(pqTrain(sub))
    val index = pqAssign(sub, books, keepSv = false, carry = Seq("cid"))
      .select(col("vec_id"), col("cid"), col("m"), col("code"))
    (cents, books, index)
  }

  /** The ANN index's INCREMENTAL-maintenance tier — the IVM family's
    * delta rule ([[graft.ops.IncrementalOps]], `q_ivm_index`) applied to
    * the IVFPQ artifact: the centroids and codebooks train on the BASE
    * corpus only and FREEZE; a new embedding batch (every
    * [[graft.llm.Dedup.IncrementModulus]]-th vec_id, the library's
    * standing new-batch convention) routes and encodes against the
    * frozen params as pure row-local work — one broadcast of the
    * centroids + one of the codebooks over the delta scan — and its code
    * rows APPEND to the base index. The base vectors are NEVER re-read
    * at maintenance time, which is the entire point of maintaining an
    * ANN index instead of re-embedding/re-training a 100-TB corpus per
    * ingest batch. (Re-training cadence is a quality policy, not a
    * correctness one: frozen-param encode is exactly how IVF/PQ serving
    * systems absorb writes between periodic rebuilds.)
    *
    * Soundness identity (the ivm family's merged ≡ rebuilt proof shape):
    * routing and code assignment are row-local pure functions of
    * (vector, frozen params), so base-assign ∪ delta-assign is
    * BIT-IDENTICAL to assigning the full corpus against the same
    * base-trained params — which is what the DuckDB oracle rebuilds
    * flat. Output: the merged persisted index, one row per vector with
    * its routed cluster and its [[PqM]]-byte code word (csv).
    */
  def ivfPqIncremental(s: SparkSession, dir: String): DataFrame = {
    val (cents, books, baseIdx) = ivfPqBase(s, dir)
    ivfPqAppend(s, dir, cents, books, baseIdx)
  }

  /** The persisted base-trained artifact triple (the bench split's build
    * half for the incremental tier): centroids, codebooks, and the code
    * index of the base corpus alone.
    */
  def ivfPqBase(s: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame) =
    ivfPqIndexOf(
      corpus(s, dir)
        .filter(col("vec_id") % graft.llm.Dedup.IncrementModulus =!= 0))

  /** The MAINTENANCE half alone: encode the delta batch against a
    * (possibly frozen) artifact triple and append — O(delta) work, no
    * base-vector access.
    */
  def ivfPqAppend(s: SparkSession, dir: String, cents: DataFrame,
      books: DataFrame, baseIdx: DataFrame): DataFrame = {
    val delta = corpus(s, dir)
      .filter(col("vec_id") % graft.llm.Dedup.IncrementModulus === 0)
    val subDelta = pqSubvectors(
      assign(delta, cents).select(col("vec_id"), col("v"), col("cid")),
      carry = Seq("cid"))
    val deltaIdx = pqAssign(subDelta, books, keepSv = false, carry = Seq("cid"))
      .select(col("vec_id"), col("cid"), col("m"), col("code"))
    baseIdx.unionByName(deltaIdx)
      .groupBy(col("vec_id"), col("cid"))
      .agg(array_sort(collect_list(struct(col("m"), col("code")))).as("mc"))
      .select(col("vec_id"), col("cid"),
        concat_ws(",",
          transform(col("mc"), e => e.getField("code").cast("string")))
          .as("codes"))
      .orderBy("vec_id")
  }

  /** The SERVING half alone, over any (possibly frozen) artifact triple:
    * route queries to probed clusters against the broadcast centroids,
    * ADC-scan only the probed clusters' code words against the broadcast
    * distance tables, exact-re-rank the shortlist against the raw
    * vectors. The corpus floats are touched only by the query-side
    * projections and the final shortlist join — never the full index scan.
    */
  /** The IVF routing table alone — each query's `probes` nearest
    * centroids as (q_id, probe_cid), the same 9dp-rounded cosine argmax
    * [[ivfPqProbe]] prunes the index scan with. Public so the
    * recall-curve spec (`RecallCurveSpec`) can decompose measured
    * recall into the routing term (coverage of the exact top-k by probed
    * clusters — monotone in `probes` since probed sets are nested) and
    * the shortlist/quantization term, without re-deriving the argmax.
    */
  def ivfRouting(s: SparkSession, dir: String, cents: DataFrame,
      probes: Int): DataFrame = {
    val queries = corpus(s, dir).filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nv").as("nq"))
    val wq = Window.partitionBy(col("q_id")).orderBy(col("ccos").desc, col("cid"))
    queries.join(broadcast(cents))
      .select(col("q_id"), col("cid"),
        round(cosPre(dot(col("qv"), col("centroid")), col("nq"), col("cnorm")), 9)
          .as("ccos"))
      .withColumn("crk", row_number().over(wq))
      .filter(col("crk") <= probes)
      .select(col("q_id"), col("cid").as("probe_cid"))
  }

  def ivfPqProbe(s: SparkSession, dir: String, cents: DataFrame,
      books: DataFrame, index: DataFrame,
      probes: Int = Probes,
      shortlistPer: Int = PqRerankCandidates): DataFrame = {
    val c = corpus(s, dir)
    // query-side frames derive ONCE from the NQueries raw vectors —
    // O(queries·M) rows, the per-request work a serving tier always pays
    val qc = c.filter(col("vec_id") < NQueries)
    val sub = pqSubvectors(qc)
    val queries = qc
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nv").as("nq"))
    val routed = ivfRouting(s, dir, cents, probes)
    // sub is query-only here (built from qc) — no re-filter needed
    val tables = sub
      .select(col("vec_id").as("q_id"), col("m"), col("sv").as("qsv"))
      .join(broadcast(books), Seq("m"))
      .select(col("q_id"), col("m"), col("code"),
        l2sq(col("qsv"), col("cb")).as("d"))
    // routing prunes the index scan BEFORE the distance tables join
    val probed = index.join(broadcast(routed),
      col("cid") === col("probe_cid") && col("vec_id") =!= col("q_id"))
    val wa = Window.partitionBy(col("q_id")).orderBy(col("adist"), col("vec_id"))
    val shortlist = probed
      .join(broadcast(tables), Seq("q_id", "m", "code"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("d").cast("decimal(20,9)")).as("dsum"))
      .select(col("q_id"), col("vec_id"), col("dsum").cast("double").as("adist"))
      .withColumn("ark", row_number().over(wa))
      .filter(col("ark") <= shortlistPer)
      .select(col("q_id"), col("vec_id"), col("adist"))
    val wf = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))
    c.join(broadcast(shortlist), Seq("vec_id"))
      .join(broadcast(queries.select(col("q_id").as("qq"), col("qv"), col("nq"))),
        col("q_id") === col("qq"))
      .select(col("q_id"), col("vec_id"), col("adist"),
        round(cosPre(dot(col("qv"), col("v")), col("nq"), col("nv")), 9).as("cos"))
      .withColumn("rk", row_number().over(wf))
      .filter(col("rk") <= PqTopK)
      .select(col("q_id"), col("rk").cast("int").as("rk"), col("vec_id"),
        col("cos"), col("adist"))
      .orderBy("q_id", "rk")
  }

  /** Cosine at or above this within a cluster marks the larger vec_id a
    * semantic duplicate (same bar as [[embedNearDup]]'s exact-verify).
    */
  val SemDedupThreshold = 0.4

  /** The persisted artifacts an incremental semantic-dedup deployment
    * keeps between runs: the learned centroids and the clustered base
    * corpus — the semantic analog of the MinHash band index
    * ([[Dedup.minhashIndex]]). The streaming probe is
    * [[graft.streaming.StreamOps.semDedupStream]].
    */
  def semDedupIndex(s: SparkSession, dir: String,
      k: Option[Int] = None): (DataFrame, DataFrame) = {
    val c = corpus(s, dir)
    val cents = Reuse(kmeansCentroidsOf(c, resolvePairK(c, k), rankSeed = true))
    // the static side of a stream-static join re-evaluates per micro-batch:
    // without the pin every trigger re-runs Lloyd + the assignment scan
    (cents, Reuse(assign(c, cents)))
  }

  /** SemDeDup-style semantic deduplication: cluster the corpus with the
    * learned k-means centroids, compare pairs ONLY inside a cluster, and
    * keep the smallest vec_id of any pair at cosine ≥
    * [[SemDedupThreshold]]. Returns every vector with its cluster and keep
    * verdict (keep=false ⇒ a smaller-id in-cluster near-twin exists).
    *
    * Scale shape: this is exactly the published SemDeDup economics — the
    * within-cluster pair scan is the quadratic term, BOUNDED by cluster
    * size, and k grows with the corpus to hold that bound (n/k vectors per
    * cluster ⇒ n²/k pair work instead of n²). Membership comes from the
    * two-level [[hierMembers]] assignment (n·√k dots per round, not the
    * flat n·k). The corpus shuffles once on cid for the self-join;
    * centroids broadcast everywhere; cross-cluster near-twins are missed
    * by construction — the algorithm's documented recall trade, not an
    * implementation shortcut.
    */
  /** The within-cluster pair stream both [[semDedup]] and
    * [[hardNegatives]] scan: every (vec, other co-member) with the rounded
    * pair cosine — ONE definition of the cid equi-join and the cosine
    * expression, so the two consumers' thresholds cut the same values.
    */
  /** One fine-level assignment round: each vector goes to the
    * highest-cosine fine centroid WITHIN ITS COARSE CELL (rounded at 9 dp,
    * ties to the smallest fcid — the struct-max twin of [[assign]], with
    * the ccid equi-join bounding every vector's candidate set to its
    * cell's √k̄ centroids instead of all k).
    */
  private[graft] def assignFine(cm: DataFrame, cents: DataFrame): DataFrame =
    cm.join(broadcast(cents.groupBy(col("ccid"))
        .agg(collect_list(struct(col("fcid").cast("int").as("cid"),
          col("centroid"), col("cnorm"))).as("cs"))),
        Seq("ccid"))
      .select(col("vec_id"), col("ccid"),
        graft.functions.NearestCentroid(col("v"), col("nv"), col("cs"))
          .as("fcid"),
        col("v"), col("nv"))

  /** The superseded aggregation-form fine assignment — the executable
    * specification of [[assignFine]]'s semantics (NearestSpec).
    */
  private[graft] def assignFineAgg(cm: DataFrame, cents: DataFrame): DataFrame =
    cm.join(broadcast(cents), Seq("ccid"))
      .select(col("vec_id"), col("ccid"),
        struct(
          round(cosPre(dot(col("v"), col("centroid")), col("nv"), col("cnorm")), 9)
            .as("ccos"),
          (-col("fcid")).as("nfcid"), col("fcid"), col("v"), col("nv")).as("cand"))
      .groupBy(col("vec_id"), col("ccid"))
      .agg(max(col("cand")).as("best"))
      .select(col("vec_id"), col("ccid"), col("best.fcid").as("fcid"),
        col("best.v").as("v"), col("best.nv").as("nv"))

  /** Two-level (coarse → fine) cluster membership for the pair scanners —
    * the exponent drop the flat n·k assignment can't give, gated on the
    * measured crossover: fine budgets ≤ [[CoarseRouteMinK]] run with a
    * single coarse cell ([[coarseCount]] = 1), which skips the coarse
    * Lloyd chain entirely (routing to one cell is centroid-independent)
    * and leaves the flat global-rank-seeded Lloyd — the cheap
    * regime below the crossover, the two-level exponent above it, one
    * code path and one oracle replay for both. NOT a pure cost
    * equivalence at small n: the kc = 1 cell's fine budget is
    * max(1, n/target) — the per-CELL sizing rule, applied uniformly at
    * every level — where the pre-r12 flat form sized the whole corpus
    * through pairClusterK's max(KmeansK, n/target), so a corpus under
    * KmeansK·target vectors now clusters coarser (n = 500 → 2 effective
    * clusters, not KmeansK) and which near-twins/negatives the pair
    * scan surfaces shifts with it. Deliberate: one sizing rule for
    * every cell at every scale is what lets a single oracle replay both
    * regimes (the oracle inlines the same gate and the same div), and
    * the small-n regime is the one where callers wanting finer granularity
    * can afford the flat form outright. Flat Lloyd at
    * the scaled k = n/[[PairClusterTarget]] makes every assignment round
    * n·k = n²/target dot products (the measured n^1.5-at-the-balanced-
    * point term: 9.57× at 5× data). Above the gate:
    *
    *  1. COARSE: Lloyd over [[coarseCount]](k) ≈ √k rank-seeded centroids
    *     — n·√k dots per round — then assign each vector to its cell;
    *  2. FINE: within each coarse cell, k_f = max(1, |cell|/target)
    *     rank-seeded centroids (the k_f smallest vec_ids in the cell,
    *     fcid = rank−1), Lloyd rounds assign ONLY against the cell's own
    *     centroids (the ccid equi-join) — Σ|cell|·k_f(cell) ≈ n·√k̄ dots
    *     per round when cells balance.
    *
    * Total assignment work per round drops from n·k to ~2·n·√k; the pair
    * scan downstream keeps its linear n·target bound because expected
    * FINE cluster size is still the target. The published trade rides
    * along: cross-cell near-twins are invisible to the pair scan exactly
    * as cross-cluster ones were in the flat form (recall vs the flat
    * exact form is pinned in IvfRecallSpec).
    *
    * cid = ccid·(max k_f)+fcid — injective, computed from one broadcast
    * scalar; no global window, no distinct over the corpus. Everything is
    * deterministic (rank seeds, 9-dp rounding before every argmax, exact
    * DECIMAL component sums), so the DuckDB oracle replays both levels.
    *
    * The coarse membership is pinned: the fine chain references it from
    * every Lloyd round, the seed window, the cell sizing and the final
    * assignment — ~7 subtree occurrences in one lazy plan, each re-running
    * the coarse Lloyd chain without the pin (measured 2× wall clock at
    * sf1).
    */
  private def hierMembers(c: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val kc = coarseCount(k)
    // ONE coarse Lloyd round: the coarse level only routes vectors into
    // cells the fine Lloyd refines anyway — a second coarse round buys
    // marginal balance for two more n-row stages (the two-level form's
    // cost is stage overhead at mid scale, dot counts only at large).
    // Below CoarseRouteMinK the gate sets kc = 1, and assignment to a
    // single cell is centroid-INDEPENDENT (an argmax over one candidate)
    // — so the coarse Lloyd chain is skipped outright and the membership
    // degenerates to the flat global-rank-seeded form, erasing the
    // two-level stage constant exactly where it was the whole cost
    val cm = Reuse(
      if (kc == 1)
        c.select(col("vec_id"), col("v"), col("nv"), lit(0).as("ccid"))
      else
        assign(c, kmeansCentroidsOf(c, kc, rankSeed = true, iters = CoarseIters))
          .withColumnRenamed("cid", "ccid"))
    val cells = cm.groupBy(col("ccid"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("ccid"),
        greatest(lit(1L), expr(s"cnt div $PairClusterTarget")).cast("int").as("kf"))
    // per-cell rank seeding: a window PARTITIONED on ccid (parallel),
    // replacing the flat form's global sort-limit over the whole corpus
    val wcell = Window.partitionBy(col("ccid")).orderBy(col("vec_id"))
    val seeds = cm.withColumn("rn", row_number().over(wcell))
      .join(broadcast(cells), Seq("ccid"))
      .filter(col("rn") <= col("kf"))
      .select(col("ccid"), (col("rn") - 1).cast("int").as("fcid"),
        col("v").as("centroid"), col("nv").as("cnorm"))
    var cents = seeds
    for (_ <- 0 until KmeansIters) {
      cents = assignFine(cm, cents)
        .select(col("ccid"), col("fcid"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("ccid"), col("fcid"), col("pos"))
        .agg(sum(col("x").cast("decimal(38,10)")).as("sx"))
        .groupBy(col("ccid"), col("fcid"))
        .agg(array_sort(collect_list(struct(col("pos"), col("sx").cast("double").as("cx"))))
          .as("ps"))
        .select(col("ccid"), col("fcid"),
          transform(col("ps"), p => p.getField("cx")).as("centroid"))
        .withColumn("cnorm", norm(col("centroid")))
    }
    val kfMax = cells.agg(max(col("kf")).as("kfmax"))
    assignFine(cm, cents)
      .crossJoin(broadcast(kfMax))
      .select(col("vec_id"), col("v"), col("nv"),
        (col("ccid") * col("kfmax") + col("fcid")).cast("int").as("cid"))
  }

  private def clusterPairs(members: DataFrame): DataFrame = {
    val rhs = members.select(col("cid"), col("vec_id").as("b_id"),
      col("v").as("bv"), col("nv").as("bn"))
    members.join(rhs, Seq("cid"))
      .filter(col("b_id") =!= col("vec_id"))
      .select(col("vec_id"), col("cid"), col("b_id"),
        round(cosPre(dot(col("v"), col("bv")), col("nv"), col("bn")), 9)
          .as("cos"))
  }

  def semDedup(s: SparkSession, dir: String,
      k: Option[Int] = None): DataFrame = {
    val c = corpus(s, dir)
    // three consumers (both self-join sides + the verdict projection):
    // pin the assignment, not the lineage behind it
    val members = Reuse(hierMembers(c, resolvePairK(c, k)))
    val dups = clusterPairs(members)
      .filter(col("b_id") < col("vec_id") &&
        col("cos") >= SemDedupThreshold)
      .select(col("vec_id")).distinct()
    members
      .join(dups.withColumn("is_dup", lit(true)), Seq("vec_id"), "left_outer")
      .select(col("vec_id"), col("cid"), col("is_dup").isNull.as("keep"))
      .orderBy("vec_id")
  }

  /** Hard-negative mining for contrastive training — the flip side of
    * [[semDedup]] on the same cluster machinery: per vector, the MOST
    * similar other member of its k-means cluster whose cosine stays BELOW
    * the near-dup threshold — close enough to be a hard negative, far
    * enough to not be a duplicate. Vectors whose cluster offers no such
    * candidate (singleton cluster, or all co-members are near-dups) emit
    * no row — the honest answer; a trainer falls back to in-batch
    * negatives for those.
    *
    * Scale shape: identical to semDedup — the quadratic term is bounded
    * by cluster size (n²/k economics), the corpus shuffles ONCE on cid,
    * and the per-vector argmax is a struct-max aggregate (max on
    * (rounded cos, -b_id): highest cosine, smallest id on ties — the
    * row_number-equivalent the oracle uses), never a k×corpus window.
    */
  def hardNegatives(s: SparkSession, dir: String,
      k: Option[Int] = None): DataFrame = {
    val c = corpus(s, dir)
    val members = Reuse(hierMembers(c, resolvePairK(c, k)))
    clusterPairs(members)
      .filter(col("cos") < SemDedupThreshold)
      .select(col("vec_id"), col("cid"),
        struct(col("cos"), (-col("b_id")).as("nbid"), col("b_id")).as("cand"))
      .groupBy(col("vec_id"), col("cid"))
      .agg(max(col("cand")).as("best"))
      .select(col("vec_id"), col("cid"),
        col("best.b_id").as("neg_id"), col("best.cos").as("neg_cos"))
      .orderBy("vec_id")
  }

  /** Percent of each cluster dropped by [[prototypePrune]] — the "easy
    * example" fraction. Sorscher et al. report keep-hard as the right
    * policy when data is abundant (the 100 TB regime this engine
    * targets); the keep fraction is the knob a smaller-data run would
    * flip.
    */
  val PrunePct = 30

  /** Prototype-based data pruning (Sorscher et al. 2022, "Beyond neural
    * scaling laws" — the SSL-prototypes metric): cluster the corpus with
    * the same two-level membership the pair scanners ride, score every
    * vector by its 9dp-rounded cosine to its OWN cluster's centroid
    * direction (the exact-decimal component-sum direction — cosine is
    * scale-invariant, so the sum IS the mean direction, the
    * kmeansCentroids discipline), and drop the most prototypical
    * [[PrunePct]]% of every cluster (ties to the smaller vec_id): what
    * survives is the hard, informative tail the paper keeps when data is
    * abundant.
    *
    * Scale shape: ONE corpus shuffle on cid feeds the centroid-sum
    * aggregation, the centroid attach (an equi-join on the same key —
    * the exchange is reused), and the per-cluster rank window; cluster
    * sizes are held near [[PairClusterTarget]] by the scaled fine budget,
    * so every window partition is ~250 rows regardless of corpus size.
    * Nothing quadratic anywhere: this is semDedup's cluster machinery
    * with an O(n) scoring pass instead of the O(n·target) pair scan.
    */
  def prototypePrune(s: SparkSession, dir: String,
      k: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = corpus(s, dir)
    val members = Reuse(hierMembers(c, resolvePairK(c, k)))
    val cents = members
      .select(col("cid"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("cid"), col("pos"))
      .agg(sum(col("x").cast("decimal(38,10)")).as("sx"))
      .groupBy(col("cid"))
      .agg(array_sort(collect_list(struct(col("pos"), col("sx").cast("double").as("cx"))))
        .as("ps"))
      .select(col("cid"), transform(col("ps"), p => p.getField("cx")).as("centroid"))
      .withColumn("cnorm", norm(col("centroid")))
    val sizes = members.groupBy(col("cid")).agg(count(lit(1)).as("cnt"))
      .select(col("cid"), expr(s"(cnt * $PrunePct) div 100").as("ndrop"))
    val scored = members.join(cents, Seq("cid"))
      .select(col("vec_id"), col("cid"),
        round(cosPre(dot(col("v"), col("centroid")), col("nv"), col("cnorm")), 9)
          .as("proto"))
    val byProto = Window.partitionBy(col("cid"))
      .orderBy(col("proto").desc, col("vec_id"))
    scored
      .withColumn("rk", row_number().over(byProto))
      .join(broadcast(sizes), Seq("cid"))
      .select(col("vec_id"), col("cid"), col("proto"),
        (col("rk") > col("ndrop")).as("keep"))
      .orderBy("vec_id")
  }

  /** Vectors kept per fine cluster by [[diversitySample]]. */
  val DiversityQuota = 25

  /** Cluster-balanced diversity sampling (the inverse-propensity
    * flattening used to de-bias web-scale corpora toward coverage): at
    * most [[DiversityQuota]] vectors from EVERY fine cluster of the
    * two-level k-means membership, chosen uniformly within the cluster
    * by md5(vec_id) rank (deterministic on every run and engine — no RNG
    * state, the [[graft.llm.Curation.sourceMix]] discipline). Dense
    * regions are capped at the quota while sparse clusters survive
    * whole, so the sample's cluster-coverage is flat where the corpus
    * is arbitrarily peaked — the complement of [[prototypePrune]]'s
    * redundancy drop on the same membership (one clustering definition,
    * two curation rules).
    *
    * Scale shape: the membership chain is [[hierMembers]]'s n·√k work;
    * the sampling adds ONE window over (cid, md5, vec_id) — small
    * fixed-width rows, text and vectors never re-sorted — and the output
    * is bounded by quota × clusters ≈ n·quota/target regardless of how
    * the corpus skews.
    */
  def diversitySample(s: SparkSession, dir: String,
      k: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = corpus(s, dir)
    val members = hierMembers(c, resolvePairK(c, k))
    val w = Window.partitionBy(col("cid"))
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
    members
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= DiversityQuota)
      .select(col("vec_id"), col("cid"), col("rk").cast("int").as("rk"))
      .orderBy("vec_id")
  }

  /** Semantic decontamination (the embedding-space twin of
    * [[graft.llm.Curation.decontaminate]]'s n-gram rule): every corpus
    * vector outside the held-out set is scored by its maximum 9dp cosine
    * against the eval vectors (the first [[NQueries]] vec_ids — the
    * standing query-set convention), and kept only when that maximum
    * stays below [[SemDedupThreshold]] — a paraphrased benchmark item
    * that shares no 3-gram still lands inside the threshold ball and is
    * caught here. Emits the nearest eval id and the max cosine (ties to
    * the smallest eval id), so a curation run can audit WHY a document
    * was dropped.
    *
    * Scale shape: the eval set is benchmark-sized (fixed, tiny) and
    * broadcasts; the corpus streams ONCE through a broadcast
    * nested-loop join + struct-max argmax — linear in the corpus,
    * map-side-combined, nothing shuffles but (vec_id, 1-struct) rows.
    * The corpus side never materializes pairs: the max folds per
    * partition. (At an eval set too large to broadcast, the same
    * verdict rides the IVF route — bound each corpus vector's
    * candidates to its probed cells — but the exhaustive form IS the
    * contract here: decontamination must not miss by routing.)
    */
  def semanticDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val c = corpus(s, dir)
    val evals = broadcast(c.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("e_id"), col("v").as("ev"),
        col("nv").as("ne")))
    c.filter(col("vec_id") >= NQueries)
      .crossJoin(evals)
      .select(col("vec_id"), col("label"),
        struct(
          round(cosPre(dot(col("v"), col("ev")), col("nv"), col("ne")), 9)
            .as("cos"),
          (-col("e_id")).as("nid"), col("e_id")).as("cand"))
      .groupBy(col("vec_id"), col("label"))
      .agg(max(col("cand")).as("best"))
      .select(col("vec_id"), col("label"),
        col("best.cos").as("eval_cos"), col("best.e_id").as("eval_id"),
        (col("best.cos") < SemDedupThreshold).as("keep"))
      .orderBy("vec_id")
  }

  /** Int8-quantized corpus with per-vector reconstruction error — the
    * storage path for embeddings at scale (4× smaller before ANN
    * indexing). One native pass per row ([[graft.functions.QuantizeInt8]]);
    * row-local, zero shuffle.
    */
  def quantizedCorpus(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .select(col("vec_id"),
        graft.functions.QuantizeInt8(
          col("embedding").cast("array<double>")).as("qz"))
      // the quantized vector is emitted as a comma-joined string, not an
      // array column: the harness's pandas-side compare sorts every output
      // column and cannot hash array cells (numpy.ndarray is unhashable) —
      // and a delimited string pins every element just as exactly
      .select(col("vec_id"),
        concat_ws(",", col("qz.q").cast("array<string>")).as("qv"),
        round(col("qz.err"), 9).as("err"))
      .orderBy("vec_id")

  /** IVF-style ANN with GIVEN labels as clusters: route each query to its
    * nearest label centroid, then exact top-3 within that cluster only —
    * the corpus outside the probed cluster is never scanned. (The learned
    * variant above replaces the label shortcut with k-means + multi-probe.)
    */
  def ivfTopK(s: SparkSession, dir: String): DataFrame = {
    val c = corpus(s, dir)
    val queries = c.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nv").as("nq"))
    val cents = broadcast(centroids(s, dir))
    val wq = Window.partitionBy(col("q_id"))
      .orderBy(col("ccos").desc, col("c_label"))
    val routed = queries.join(cents)
      .select(col("q_id"), col("qv"), col("nq"), col("c_label"),
        round(cosPre(dot(col("qv"), col("centroid")), col("nq"), col("cnorm")), 9)
          .as("ccos"))
      .withColumn("crk", row_number().over(wq))
      .filter(col("crk") === 1)
      .select(col("q_id"), col("qv"), col("nq"), col("c_label").as("probe_label"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))
    broadcast(routed).join(c,
        col("label") === col("probe_label") && col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("probe_label"), col("vec_id"),
        round(cosPre(dot(col("qv"), col("v")), col("nq"), col("nv")), 9).as("cos"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("q_id"), col("probe_label"), col("rk").cast("int").as("rk"),
        col("vec_id"), col("cos"))
      .orderBy("q_id", "rk")
  }

  /** Embedding dimensionality of the harness corpus. */
  val EmbedDims = 64

  /** Johnson–Lindenstrauss random projection: every 64-dim embedding maps
    * to [[HyperPlanes]] coordinates — its dot products against the SAME
    * deterministic hash-derived planes [[embedNearDup]] takes only the
    * SIGNS of ([[planeComponents]], md5-seeded, reproducible in any
    * engine). The real-valued projection preserves pairwise distances up
    * to the JL distortion (uniform[-1,1) components ⇒
    * E‖P(a−b)‖² = (k/3)·‖a−b‖², spec-pinned on the fixture), where the
    * sign bucket only preserves angles coarsely.
    *
    * Row-local, zero shuffle — a scan-speed re-encode that shrinks every
    * downstream shuffle (ANN candidate generation, clustering) by
    * dims/k = 8× at 100 TB; each output coordinate is the plain
    * left-fold dot (engine-exact), rounded to 9 dp.
    */
  def randomProjection(s: SparkSession, dir: String): DataFrame = {
    val planes = planeComponents(EmbedDims)
    val cols = planes.zipWithIndex.map { case (w, p) =>
      round(dot(col("v"), typedLit(w)), 9).as(s"p$p")
    }
    corpus(s, dir)
      .select(col("vec_id") +: cols: _*)
      .orderBy("vec_id")
  }
}
