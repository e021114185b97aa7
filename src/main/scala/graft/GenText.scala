package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev tool: derive k FK-disjoint text/embedding variants of a harness
  * directory WITHOUT the 52-ring cap — the third-decade text construction
  * (r12 ask #3). Generates `documents` and `embeddings` only (the
  * relational tables have their own unbounded construction, GenScale).
  *
  * == Documents: token remap into per-variant disjoint wordlists ==
  *
  * Variant 0 is verbatim. Variant k ≥ 1 maps every distinct source token
  * w (frequency rank r, Zipf order: count desc, token asc) to the
  * synthetic token
  *
  *   synth(k, r, |w|) = encU(k) ++ encL(r) ++ 'a' * pad-to-|w|
  *
  * where encU is variable-length base-26 over A–Z and encL is
  * variable-length base-25 over b–z. Docs are re-assembled by joining
  * remapped tokens with single spaces (the corpus is verified
  * single-space-separated first — the reassembly identity
  * array_join(split(text)) = text must hold on ALL source docs or the
  * run aborts).
  *
  * Null hypothesis (the construction must not plant cross-variant
  * near-dup structure — argued at the same standard as GenScale's
  * 52-ring note):
  *
  *  - Token vocabularies are PAIRWISE DISJOINT across variants: every
  *    synthetic token starts with an uppercase letter and carries the
  *    variant id in its encU prefix (encU(j) ≠ encU(k) char-for-char at
  *    the first uppercase/lowercase type mismatch or digit difference),
  *    while variant 0 is all-lowercase — so no token, hence NO TOKEN
  *    SHINGLE of any order, collides across variants. Every near-dup
  *    operator in this library keys on token unigrams (SimHash),
  *    token 3-gram shingles (MinHash, n-gram Jaccard, containment), or
  *    token spans (C4 span dedup) — all cross-variant similarity is
  *    exactly zero, the same guarantee the 52-ring rotation gave, with
  *    no per-char-bijection cap (encU is unbounded).
  *  - WITHIN a variant the remap is injective (encL injective per rank;
  *    ranks bijective with the vocabulary; the 'a'-padding is
  *    unambiguous because encL never contains 'a', so (r, pad) pairs
  *    collide only if both agree), so within-variant token identity —
  *    and with it every shingle multiset, Jaccard value, span equality
  *    and duplicate cluster — is ISOMORPHIC to the source corpus.
  *    Hash-valued structure (MinHash signatures, SimHash fingerprints)
  *    is re-drawn per variant, as it is across any two real corpora.
  *  - Frequency shape is exactly preserved (bijection); token-length
  *    shape approximately (rank-by-frequency gives short codes to
  *    frequent tokens — the Zipf correlation — and the padding restores
  *    the source length wherever the code is shorter).
  *  - Chance SimHash collisions across variants exist at the same rate
  *    as between unrelated real documents (P[Hamming ≤ 3 of 64] ≈
  *    2.4e-12 per same-language pair) — that is the measurement's noise
  *    floor, not planted structure.
  *
  * The per-variant map is materialized as a map-literal expression —
  * bounded by MaxLiteralVocab; a corpus with a larger vocabulary needs
  * the explode → broadcast-join → re-aggregate form instead (not
  * implemented: the harness corpus vocabulary is 31).
  *
  * == Embeddings: per-variant signed permutation (isometry) ==
  *
  * Variant k ≥ 1 applies a deterministic signed permutation P_k
  * (dims shuffled + per-dim sign flips, seeded by k): v' = P_k v.
  * P_k is ORTHOGONAL, so all within-variant inner products, norms,
  * distances and cosines — and therefore every cluster, near-dup pair
  * and top-k set — are EXACTLY preserved. Cross-variant products
  * ⟨P_j v, P_k w⟩ = ⟨v, P_jᵀP_k w⟩ randomize like products against an
  * unrelated random rotation of the corpus (the supersession of
  * GenScale's single-axis sign flip, which repeats past dim variants
  * and leaves same-source pairs differing in ONE component — near-dups
  * whenever that component is small). Seeds are fixed, so regeneration
  * is byte-deterministic.
  *
  * Usage: runMain graft.GenText <srcDir> <dstDir> <copies>
  */
object GenText {

  /** Map-literal ceiling for the token remap — past this, building the
    * per-variant expression would blow codegen; see class note.
    */
  val MaxLiteralVocab = 1024

  private[graft] def encU(k: Int): String = {
    require(k >= 1)
    var n = k
    val sb = new StringBuilder
    while (n > 0) { sb += ('A' + n % 26).toChar; n /= 26 }
    sb.reverseInPlace().toString
  }

  private[graft] def encL(r: Int): String = {
    require(r >= 0)
    var n = r
    val sb = new StringBuilder
    sb += ('b' + n % 25).toChar; n /= 25
    while (n > 0) { sb += ('b' + n % 25).toChar; n /= 25 }
    sb.reverseInPlace().toString
  }

  private[graft] def synth(k: Int, r: Int, srcLen: Int): String = {
    val code = encU(k) + encL(r)
    if (code.length >= srcLen) code
    else code + ("a" * (srcLen - code.length))
  }

  /** Deterministic signed permutation for embedding variant k ≥ 1:
    * (perm, signs), seeded by k alone.
    */
  private[graft] def signedPerm(k: Int, dim: Int): (Vector[Int], Vector[Float]) = {
    val rng = new scala.util.Random(0x9E3779B97F4A7C15L ^ k.toLong)
    val perm = rng.shuffle((0 until dim).toVector)
    val signs = Vector.fill(dim)(if (rng.nextBoolean()) 1.0f else -1.0f)
    (perm, signs)
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.local(s"local[$cpus]", cpus.toInt)
    run(spark, args(0), args(1), args(2).toInt)
    spark.stop()
  }

  /** The generator body over a caller-owned session (the spec drives this
    * without a session stop poisoning the shared test JVM).
    */
  def run(spark: SparkSession, src: String, dst: String, copies: Int): Unit = {
    require(copies >= 1, s"copies=$copies")

    def t(n: String) = Tables.table(spark, src, n)
    def offsetAbove(mx: Long): Long = {
      var o = 10L
      while (o <= mx) o *= 10
      o
    }
    val docs = t("documents")
    val embs = t("embeddings")
    val D = offsetAbove(docs.agg(max(col("doc_id"))).head().getLong(0))
    val V = offsetAbove(embs.agg(max(col("vec_id").cast("long"))).head().getLong(0))
    require(D * copies <= graft.ops.MultimodalOps.ReingestOffset,
      s"doc_id offset $D x $copies crosses ReingestOffset")

    // ---- construction preconditions, checked loudly ----
    val nBadSep = docs.filter(col("text").isNull ||
      array_join(split(col("text"), " "), " ") =!= col("text")).count()
    require(nBadSep == 0,
      s"$nBadSep docs are not single-space token joins — the remap's " +
        "reassembly identity would not hold; extend the splitter first")
    val vocabRows = docs
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").count()
      .orderBy(col("count").desc, col("w"))
      .collect()
    require(vocabRows.forall(_.getString(0).matches("[a-z]+")),
      "source vocabulary must be all-lowercase letters — synthetic " +
        "tokens' uppercase variant tags would not be disjoint otherwise")
    require(vocabRows.length <= MaxLiteralVocab,
      s"vocabulary ${vocabRows.length} exceeds MaxLiteralVocab " +
        s"($MaxLiteralVocab) — implement the broadcast-join remap path")
    val vocab = vocabRows.zipWithIndex
      .map { case (r, rank) => (r.getString(0), rank) }

    val dim = embs.select(size(col("embedding"))).head().getInt(0)

    def variants(df: DataFrame)(f: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until copies).map(k => f(df, k)).reduce(_ unionByName _)
    def write(df: DataFrame, n: String): Unit = {
      GenWrite.write(df, s"$dst/$n.parquet", GenWrite.splitKey(n))
      println(s"[gentext] $n: ${spark.read.parquet(s"$dst/$n.parquet").count()} rows")
    }

    write(variants(docs) { (df, k) =>
      val text =
        if (k == 0) col("text")
        else {
          val m = map(vocab.flatMap { case (w, r) =>
            Seq(lit(w), lit(synth(k, r, w.length)))
          }: _*)
          array_join(transform(split(col("text"), " "),
            tok => element_at(m, tok)), " ")
        }
      df.select((col("doc_id") + k * D).as("doc_id"), text.as("text"),
        col("lang"), col("source"))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .select("doc_id", "text", "lang", "source", "n_chars")
    }, "documents")

    write(variants(embs) { (df, k) =>
      val emb =
        if (k == 0) col("embedding")
        else {
          val (perm, signs) = signedPerm(k, dim)
          array((0 until dim).map(i =>
            (col("embedding").getItem(perm(i)) * lit(signs(i))).cast("float")): _*)
        }
      df.select((col("vec_id") + k * V).as("vec_id"),
        emb.cast("array<float>").as("embedding"), col("label"))
    }, "embeddings")
  }
}
