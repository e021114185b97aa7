package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Reuse
import graft.Tables.{table => t}
import TextHash._

/** Text-analysis operators over the `documents` table (SURVEY.md §2.11):
  * quality scoring, token counting (whitespace + BPE-ish subword estimate),
  * marker-based language ID, and an order-sensitive document fingerprint.
  *
  * All row-local `Column` pipelines — zero shuffles, scan-speed at 100 TB;
  * ratios are exact integer divisions in double (identical in any engine).
  */
object TextAnalysis {

  private val stopwords = Seq("the", "a", "of", "and")

  /** The stopword list, shared with the training tier ([[Training]]) so
    * the distilled label and the heuristic gate cannot drift apart.
    */
  private[llm] def stopwordList: Seq[String] = stopwords

  /** Marker vocab per language, from which the char-trigram profiles are
    * derived (the harness corpus is a closed 31-word vocabulary, so real
    * language profiles would never fire; the MECHANISM is the point).
    */
  val langMarkers: Map[String, Seq[String]] = Map(
    "de" -> Seq("window", "batch", "group"),
    "en" -> Seq("the", "a", "data"),
    "es" -> Seq("query", "row", "filter"),
    "fr" -> Seq("table", "line", "merge"),
    "zh" -> Seq("vector", "stream", "hash"))

  /** Char-trigram profile of a language: the distinct trigrams of its
    * marker text — ONE pure-Scala definition feeds both the Spark literals
    * and the oracle SQL literals, so the two engines score identically.
    */
  def langProfile(lang: String): Seq[String] =
    langMarkers(lang).mkString(" ").toLowerCase.sliding(3).toSeq.distinct

  /** All distinct char trigrams of a document (the n-gram side of the
    * n-gram-heuristic language ID). Shares the slice-zip construction with
    * the word shingles (TextHash.slidingTriples).
    */
  def charTrigrams(text: Column): Column =
    graft.functions.CharTrigrams(text)

  /** The declarative form of [[charTrigrams]] — kept as the executable
    * specification the native expression is pinned against
    * (CharTrigramsSpec): per-character split + three zipped slices, all
    * interpreted lambdas, per document.
    */
  def charTrigramsHof(text: Column): Column =
    slidingTriples(split(lower(text), ""), "", array(lower(text)))

  /** Quality/statistics profile per document. */
  // shared per-document metric expressions over a tokenized `toks` column —
  // ONE definition feeds stats() and qualityFilter() (and their oracles
  // mirror the same arithmetic), so a tokenizer or stopword change has one
  // update site per engine
  private def nTokensCol: Column = size(col("toks")).cast("int")
  private def ttrCol: Column =
    round(size(array_distinct(col("toks"))).cast("double") /
      size(col("toks")).cast("double"), 6)
  private def stopRatioCol: Column =
    round(size(filter(col("toks"), w => w.isin(stopwords.map(x => x: Any): _*)))
      .cast("double") / size(col("toks")).cast("double"), 6)

  def stats(s: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    t(s, dir, "documents")
      .withColumn("toks", toks)
      .select(
        col("doc_id"),
        nTokensCol.as("n_tokens"),
        size(array_distinct(col("toks"))).cast("int").as("n_types"),
        // BPE-ish subword estimate: ceil(len/4) pieces per word
        aggregate(col("toks"), lit(0L),
          (acc, w) => acc + ((length(w) + 3) / 4).cast("long"))
          .cast("bigint").as("n_subwords"),
        ttrCol.as("ttr"),
        stopRatioCol.as("stop_ratio"),
        // BPE-ish pre-tokenizer piece count: word runs + lone non-space symbols
        size(regexp_extract_all(col("text"), lit("\\w+|[^\\w\\s]"), lit(0)))
          .cast("int").as("n_regex_tokens"))
      .orderBy("doc_id")
  }

  /** Quality FILTER (the Gopher-rule shape): each document gets a
    * keep/drop decision and the FIRST failing rule as the drop reason —
    * token-count bounds, type-token-ratio floor (boilerplate/repetition),
    * stopword-ratio band (gibberish below, filler above), mean token
    * length band. Thresholds are integer/exact-ratio comparisons on the
    * same arithmetic [[stats]] proves engine-exact; row-local, zero
    * shuffle — the first pass a 100 TB corpus takes before anything else
    * runs.
    */
  def qualityFilter(s: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    val base = t(s, dir, "documents")
      .withColumn("toks", toks)
      .select(
        col("doc_id"),
        nTokensCol.as("n_tokens"),
        ttrCol.as("ttr"),
        stopRatioCol.as("stop_ratio"),
        round(aggregate(col("toks"), lit(0L), (acc, w) => acc + length(w))
          .cast("double") / size(col("toks")).cast("double"), 6).as("mean_tok_len"))
    val reason = when(col("n_tokens") < 10, "too_short")
      .when(col("n_tokens") > 100000, "too_long")
      .when(col("ttr") < 0.1, "repetitive")
      .when(col("stop_ratio") < 0.01, "no_stopwords")
      .when(col("stop_ratio") > 0.6, "filler")
      .when(col("mean_tok_len") < 2.0, "fragmented")
      .when(col("mean_tok_len") > 12.0, "unnatural_tokens")
      .otherwise("kept")
    base.select(col("doc_id"), col("n_tokens"), col("ttr"),
        col("stop_ratio"), col("mean_tok_len"), reason.as("verdict"),
        (reason === "kept").as("keep"))
      .orderBy("doc_id")
  }

  /** Character-diversity quality signals — the gibberish/boilerplate
    * detector an entropy score usually provides, built on the Rényi
    * spectrum instead of Shannon so every value stays EXACT in integer
    * arithmetic (no libm log whose last ulp differs between engines — the
    * same determinism reasoning as [[tfidfTopTerms]]'s `tf·N/df` idf):
    *
    *  - `alphabet`       — distinct code points (Rényi order 0/Hartley)
    *  - `eff_alphabet`   — inverse Simpson `N²/Σn²` = exp(Rényi-2
    *                       entropy): how many chars the doc "effectively"
    *                       uses; ~1 flags single-char runs, low values
    *                       flag repetitive boilerplate
    *  - `top_char_ratio` — `max nᵢ/N` (the min-entropy/Rényi-∞ analog)
    *
    * Both ratios are ONE double division of exact integers — correctly
    * rounded, identical in any engine. Shape: the histogram moments come
    * from the one-pass native [[graft.functions.CharStats]] projection —
    * row-local, zero shuffle, no per-char explode (the oracle's explode
    * formulation would be ~5k rows per 5 KB document at corpus scale).
    */
  def charDiversity(s: SparkSession, dir: String): DataFrame = {
    val cs = graft.functions.CharStats(col("text"))
    val n = col("cs").getField("n_chars")
    t(s, dir, "documents")
      // guard on length(text), not cs.n_chars: the same predicate (n_chars
      // IS the code-point count) without re-running the histogram pass in
      // a Filter below the projection
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), cs.as("cs"))
      .select(
        col("doc_id"),
        n.as("n_chars"),
        col("cs").getField("n_distinct").as("alphabet"),
        round((n.cast("bigint") * n.cast("bigint")).cast("double") /
          col("cs").getField("sum_sq").cast("double"), 6).as("eff_alphabet"),
        round(col("cs").getField("top_count").cast("double") /
          n.cast("double"), 6).as("top_char_ratio"))
      .orderBy("doc_id")
  }

  /** Language ID (char-n-gram heuristic): score each language by how many
    * of its profile trigrams occur in the document's trigram set; argmax
    * with alphabetical tie-break (first-match CASE over sorted langs —
    * same rule in the oracle).
    *
    * Shape: trigram postings ⋈ broadcast(profile table) → pivot counts.
    * The trigram expression evaluates once per doc (explode input), the
    * join and counts are whole-stage codegen — versus five interpreted
    * array_intersects re-evaluating the trigrams per language. This is
    * also the formulation that scales to real profile sets (thousands of
    * n-grams per language): the profile stays a broadcast table, not an
    * inline literal per comparison.
    */
  def langId(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val langs = langMarkers.keys.toSeq.sorted
    val profDf = broadcast(
      langs.flatMap(l => langProfile(l).map(g => (l, g))).toDF("plang", "gram"))
    val docs = t(s, dir, "documents")
    val scores = docs
      .select(col("doc_id"), explode(charTrigrams(col("text"))).as("gram"))
      .join(profDf, "gram")
      .groupBy(col("doc_id"))
      .pivot("plang", langs)
      .agg(count(lit(1)))
    val sCols = langs.map(l => coalesce(col(s"`$l`"), lit(0L)))
    val smax = greatest(sCols: _*)
    val pred = langs.zip(sCols).tail.foldLeft(
      when(sCols.head === smax, langs.head)) {
      case (acc, (lang, sc)) => acc.when(sc === smax, lang)
    }
    docs.select(col("doc_id"), col("lang").as("labeled_lang"))
      .join(scores, Seq("doc_id"), "left_outer")
      .select(
        col("doc_id"), col("labeled_lang"),
        pred.as("pred_lang"), smax.cast("int").as("score"))
      .orderBy("doc_id")
  }

  /** Confusion matrix of the trigram language detector against the
    * labeled language — the evaluation half of [[langId]] (the prCurve
    * pattern applied to classification): one cell per (labeled,
    * predicted) pair with the count and the integer-ppm class recall
    * (`n·10^6 div class_total`). The detector output collapses from
    * O(corpus) rows to O(langs²) cells with map-side partials; class
    * totals ride a broadcast re-aggregation of the cells themselves, so
    * the corpus is scanned exactly once.
    */
  def langIdConfusion(s: SparkSession, dir: String): DataFrame = {
    val cells = langId(s, dir)
      .groupBy(col("labeled_lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
    val totals = cells.groupBy(col("labeled_lang"))
      .agg(sum(col("n")).as("class_total"))
    cells.join(broadcast(totals), "labeled_lang")
      .select(col("labeled_lang"), col("pred_lang"), col("n"),
        col("class_total"),
        (col("labeled_lang") === col("pred_lang")).as("is_correct"),
        expr("(n * 1000000) div class_total").as("recall_ppm"))
      .orderBy("labeled_lang", "pred_lang")
  }

  /** Deterministic train/val split: assignment derives from the md5 of the
    * salted doc_id, never from RNG state — reproducible across engines,
    * runs, and partitionings (the property a training pipeline needs so a
    * re-run or a different cluster layout cannot leak val docs into
    * train). Row-local, zero shuffle; ~`pctTrain`% land in train.
    */
  def trainValSplit(s: SparkSession, dir: String, pctTrain: Int = 90): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), splitCol(col("doc_id"), pctTrain))
      .orderBy("doc_id")

  /** The split-assignment column itself — ONE definition for the
    * standalone splitter and the composed curation pipeline.
    */
  private[llm] def splitCol(docId: Column, pctTrain: Int): Column =
    when(md5Long(concat(lit("split:"), docId.cast("string")))
      % 100 < pctTrain, "train").otherwise("val").as("split")

  /** Top-3 terms per document by TF-IDF. The score is `tf * N / df` as a
    * DOUBLE DIVISION OF EXACT INTEGERS — correctly rounded and identical
    * in any engine, unlike a log-based idf where libm implementations can
    * differ by an ulp and flip rankings. Shape: ONE explode + one
    * aggregation into the cached tf table, from which df derives (tf holds
    * exactly one row per (doc, term), so df = count per term) — the scan
    * and explode run once, and the df table joins per-term, never
    * per-document. The tf table is pinned through [[graft.Reuse]].
    */
  def tfidfTopTerms(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = t(s, dir, "documents")
    val nDocs = broadcast(docs.agg(countDistinct(col("doc_id")).as("n")))
    val tf = Reuse(docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf")))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term"))
    tf.join(df, "term")
      .crossJoin(nDocs)
      .select(col("doc_id"), col("term"),
        ((col("tf") * col("n")).cast("double") / col("df").cast("double"))
          .as("score"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("rk").cast("int").as("rk"),
        col("term"), col("score"))
      .orderBy("doc_id", "rk")
  }

  /** BM25 retrieval's fixed query workload: a handful of term sets over
    * the corpus vocabulary, with one deliberately rare term (`dup`,
    * df≈5% of docs) so the idf weighting visibly reorders results.
    */
  val Bm25Queries: Seq[(Int, Seq[String])] = Seq(
    1 -> Seq("hash", "join", "batch"),
    2 -> Seq("dup", "scan", "filter"),
    3 -> Seq("spark", "stream", "vector", "window"))
  val Bm25TopK = 10

  /** The exact integer-cleared BM25 per-term score over the denormalized
    * posting columns (tf, df, dl, n_docs, sum_dl) — ONE definition feeds
    * [[bm25TopDocs]], [[bm25Indexed]] and the stream probe
    * ([[graft.streaming.StreamOps.bm25ProbeStream]]), so a k1/b or idf
    * change has a single Scala update site (the oracle side is the one
    * `bm25OracleSql`). Row-local: two correctly-rounded divisions of
    * exact int64s and one exact double multiply, rounded to 9 dp into
    * DECIMAL(20,9) for the order-free per-doc sum.
    */
  private[graft] def bm25TermScore: Column = {
    val odds = (lit(2) * col("n_docs") - lit(2) * col("df") + lit(1))
      .cast("double") / (lit(2) * col("df") + lit(1)).cast("double")
    val sat = (lit(22) * col("tf") * col("sum_dl")).cast("double") /
      (lit(10) * col("tf") * col("sum_dl") + lit(3) * col("sum_dl") +
        lit(9) * col("dl") * col("n_docs")).cast("double")
    round(odds * sat, 9).cast("decimal(20,9)")
  }

  /** The per-(query, doc) sum → rank → top-k collapse shared by
    * [[bm25TopDocs]] and [[bm25Indexed]]: input rows carry (query_id,
    * doc_id, s9).
    */
  private def bm25Collapse(scored: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sd").desc, col("doc_id"))
    scored
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("s9")).as("sd"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= Bm25TopK)
      .select(col("query_id"), col("rk").cast("int").as("rk"),
        col("doc_id"), col("sd").cast("double").as("score"))
      .orderBy("query_id", "rk")
  }

  /** BM25-style top-k document retrieval for [[Bm25Queries]] — the
    * term-based retrieval path next to the embedding stack
    * ([[Similarity.bruteTopK]]/IVF/PQ), with every score EXACT:
    *
    *  - idf is the ODDS form `(2N−2df+1)/(2df+1)` — the argument of
    *    BM25's `ln` with numerator and denominator cleared to integers.
    *    Per-term it is the same monotone ordering as the log variant
    *    (which would hang the oracle on libm ulp agreement — the
    *    [[tfidfTopTerms]] reasoning); across terms it weighs rarity more
    *    aggressively, a documented variant trade.
    *  - the k1=1.2, b=0.75 saturation term is cleared to integers by
    *    10·Σdl: `22·tf·Σdl / (10·tf·Σdl + 3·Σdl + 9·dl·N)`.
    *
    * Each per-term score is two correctly-rounded divisions of exact
    * int64s and one exact double multiply, rounded to 9 dp; the per-doc
    * sum runs in DECIMAL(20,9) (order-free), and ranking compares the
    * DECIMAL. Shape: the explode is filtered by the broadcast query-term
    * list BEFORE the tf aggregation (only matching terms shuffle), dl
    * rides the exploded rows into `max(dl)` instead of joining a
    * corpus-sized length table back per doc, df derives from tf, and the
    * two corpus scalars (N, Σdl) broadcast from a single-row aggregate.
    * Top-k per query is the rank-limit window (WindowGroupLimit) with
    * doc_id tie-break.
    */
  def bm25TopDocs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents")
    val toks = tokens(col("text"))
    // corpus scalars over ALL docs (also those matching no query term) —
    // a second pruned scan of the text column, cheaper at any scale than
    // shuffling a corpus-sized per-doc length table into the score join
    val scal = broadcast(docs.select(size(toks).cast("bigint").as("dl0"))
      .agg(count(lit(1)).as("n_docs"), sum(col("dl0")).as("sum_dl")))
    val qterms = broadcast(
      Bm25Queries.flatMap { case (q, ts) => ts.map(t => (q, t)) }
        .toDF("query_id", "term"))
    // two consumers (df derivation + the score join)
    val tf = Reuse(docs
      .select(col("doc_id"), size(toks).cast("bigint").as("dl"),
        explode(toks).as("term"))
      .join(broadcast(qterms.select("term").distinct()), Seq("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl")))
    val dfT = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    bm25Collapse(
      tf.join(broadcast(dfT), Seq("term"))
        .join(qterms, Seq("term"))
        .crossJoin(scal)
        .select(col("query_id"), col("doc_id"), bm25TermScore.as("s9")))
  }

  /** The whole preprocessing chain composed — what a training-data run
    * actually executes, as one plan: quality-kept documents → near-dup
    * connected components → the smallest KEPT doc per cluster as the
    * canonical representative (so a cluster survives even when its global
    * minimum was dropped by quality) → deterministic train/val assignment.
    * Demonstrates the operators compose: each stage is the already-oracled
    * operator, and the composition is itself oracled end-to-end.
    */
  def preprocessCorpus(s: SparkSession, dir: String): DataFrame = {
    val kept = qualityFilter(s, dir).filter(col("keep")).select("doc_id")
    val comps = Dedup.nearDupComponents(s, dir)
    val reps = kept.join(comps, "doc_id")
      .groupBy(col("component"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    reps.join(trainValSplit(s, dir), "doc_id")
      .select(col("doc_id"), col("lang"), col("split"))
      .orderBy("doc_id")
  }

  /** Leakage-safe split assignment: every document inherits the split of
    * its near-dup COMPONENT (the md5 split keyed by the component label —
    * the smallest reachable doc_id), so near-duplicates can never straddle
    * train/val. That is the contamination mode the per-doc hash split
    * ([[trainValSplit]]) allows whenever duplicates are deliberately KEPT
    * (eval-set construction, multi-epoch oversampling) — dedup-then-split
    * ([[preprocessCorpus]]) sidesteps it only by dropping the duplicates.
    * `naive_split` and `moved` surface exactly where the two assignments
    * disagree.
    *
    * Scale shape: the component fixpoint is the already-audited
    * pointer-jumping loop ([[Dedup.connectedComponents]], O(log d)
    * rounds); the split derivation on top is row-local arithmetic on the
    * component label — no further joins, no extra shuffle beyond the
    * fixpoint's own.
    */
  def leakageSafeSplit(s: SparkSession, dir: String): DataFrame =
    Dedup.nearDupComponents(s, dir)
      .select(col("doc_id"), col("component"),
        splitCol(col("component"), 90),
        splitCol(col("doc_id"), 90).as("naive_split"))
      .withColumn("moved", col("split") =!= col("naive_split"))
      .orderBy("doc_id")

  /** Order-sensitive rolling-hash fingerprint per document — native
    * codegen'd pass ([[graft.functions.RollingFingerprint]]); the
    * declarative fold (TextHash.fingerprint) stays as the pinned spec.
    */
  def fingerprints(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        graft.functions.RollingFingerprint(tokens(col("text"))).as("fp"))
      .orderBy("doc_id")

  /** Duplicate-trigram ceiling for the [[repetition]] keep verdict. */
  val DupTrigramMax = 0.3

  /** Within-document repetition profile (the Gopher repetition rules that
    * [[qualityFilter]]'s TTR floor doesn't see): the fraction of word
    * 2-grams and 3-grams that are repeats of an earlier n-gram in the SAME
    * document — boilerplate loops and copy-paste stutter score high while
    * keeping a healthy token mix. `dup_frac = (|grams| - |distinct|) /
    * |grams|`, n-grams built from zipped shifted slices (the array
    * evaluates a constant number of times — the element_at-over-sequence
    * form re-splits per access, TextHash.slidingTriples). Row-local, zero
    * shuffle; ratios are exact integer divisions in double.
    */
  def repetition(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .withColumn("st", graft.functions.NgramDupStats(tokens(col("text"))))
      .select(col("doc_id"),
        col("st.n_tokens").as("n_tokens"),
        col("st.dup_bigram_frac").as("dup_bigram_frac"),
        col("st.dup_trigram_frac").as("dup_trigram_frac"))
      .withColumn("keep", col("dup_trigram_frac") <= DupTrigramMax)
      .orderBy("doc_id")

  /** The declarative (zipped-slices) form of the repetition profile — the
    * executable specification [[graft.functions.NgramDupStats]] is pinned
    * against (NgramDupStatsSpec). Every reference to the gram arrays
    * re-evaluates the interpreted chain after CollapseProject inlines it,
    * which is why the query runs the native expression.
    */
  def ngramDupStatsHof(toks: Column): Column = {
    val n = size(toks)
    val emptyS = slice(toks, lit(1), lit(0)) // empty array<string>
    val bigrams = when(n >= 2,
      zip_with(slice(toks, lit(1), n - 1),
        slice(toks, lit(2), n - 1),
        (a, b) => concat(a, lit(" "), b))).otherwise(emptyS)
    val trigrams = when(n >= 3,
      zip_with(slice(toks, lit(1), n - 2),
        zip_with(slice(toks, lit(2), n - 2),
          slice(toks, lit(3), n - 2),
          (b, c) => concat(b, lit(" "), c)),
        (a, bc) => concat(a, lit(" "), bc))).otherwise(emptyS)
    def dupFrac(g: Column) = when(size(g) > 0,
      round((size(g) - size(array_distinct(g))).cast("double") /
        size(g).cast("double"), 6)).otherwise(lit(0.0))
    struct(n.cast("int").as("n_tokens"),
      dupFrac(bigrams).as("dup_bigram_frac"),
      dupFrac(trigrams).as("dup_trigram_frac"))
  }

  /** Histogram bucket count for [[lengthHistogram]]. */
  val HistBuckets = 10

  /** Corpus length profiling: fixed-width histogram of document token
    * counts per language — the distribution check a pipeline runs before
    * choosing packing budgets and length filters. Bucket bounds come from
    * the GLOBAL [min, max+1) (one tiny pre-aggregation, broadcast), the
    * bucket index is `floor((n-lo)·k/(hi-lo)) + 1` — an exact-integer
    * numerator over one correctly-rounded double division, identical in
    * any engine (`width_bucket` builtins differ subtly across engines, so
    * the arithmetic is spelled out on both sides). Two scans, a 1-row
    * shuffle, one (lang, bucket) shuffle; nothing collects.
    */
  def lengthHistogram(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("lang"), size(tokens(col("text"))).cast("long").as("n"))
    val bounds = broadcast(docs.agg(
      min(col("n")).as("lo"), (max(col("n")) + 1).as("hi")))
    val bucket = (floor(
      (col("n") - col("lo")) * HistBuckets /
        (col("hi") - col("lo"))) + 1).cast("int")
    docs.crossJoin(bounds)
      .groupBy(col("lang"), bucket.as("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("n")).as("min_tokens"),
        max(col("n")).as("max_tokens"))
      .orderBy("lang", "bucket")
  }

  /** Vocabulary size cap for [[vocabulary]]. */
  val VocabTopN = 100

  /** Corpus vocabulary building: global token frequencies, top
    * [[VocabTopN]] by count with deterministic alphabetical tie-break —
    * the first step of tokenizer training. The canonical scale shape:
    * map-side partial counts mean the shuffle carries one row per
    * (partition, term), and the ordered limit plans as
    * TakeOrderedAndProject (per-partition top-N, never a global sort of
    * the vocabulary).
    */
  def vocabulary(s: SparkSession, dir: String): DataFrame =
    vocabTable(s, dir)
      .orderBy(col("freq").desc, col("term"))
      .limit(VocabTopN)

  /** Vocabulary size for the OOV-rate statistic: deliberately SMALLER than
    * [[VocabTopN]] so the fixture produces real out-of-vocabulary tokens.
    */
  val OovVocabK = 20

  /** Out-of-vocabulary rate per document against the top-[[OovVocabK]]
    * vocabulary — the tokenizer-sizing statistic (how much of the corpus
    * does a K-entry vocabulary cover?): per doc, total tokens, tokens
    * found in the vocabulary, and the OOV share in integer basis points
    * (exact rational, no doubles). Scale shape: the K-row vocabulary
    * BROADCASTS and membership marking is a broadcast hash join over the
    * exploded token stream — nothing vocabulary-sized shuffles. The
    * vocabulary branch does re-tokenize the corpus (a second scan+explode,
    * inherent to deriving the cut in-query); in production the cut is a
    * persisted K-row table and only the marking pass runs.
    */
  def oovRate(s: SparkSession, dir: String): DataFrame = {
    val vocab = broadcast(
      vocabTable(s, dir)
        .orderBy(col("freq").desc, col("term"))
        .limit(OovVocabK)
        .select(col("term"), lit(true).as("in_vocab")))
    t(s, dir, "documents")
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .join(vocab, Seq("term"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab"), 1L).otherwise(0L)).as("n_in_vocab"))
      .select(col("doc_id"), col("n_tokens"), col("n_in_vocab"),
        // integer div, not /: both engines' `/` is float division and
        // their double→int casts disagree (truncate vs round half-even)
        expr("CAST((n_tokens - n_in_vocab) * 10000 div n_tokens AS INT)")
          .as("oov_bp"))
      .orderBy("doc_id")
  }

  /** GPT-2-style pre-tokenizer pattern, restricted to the lookahead-free
    * subset so Java regex (Spark) and RE2 (DuckDB) match identically:
    * contractions, space-prefixed letter runs, space-prefixed digit runs,
    * space-prefixed symbol runs, residual whitespace. (The original GPT-2
    * pattern's `\s+(?!\S)` trailing-space lookahead is the one construct
    * RE2 lacks; dropping it only changes how runs of MULTIPLE spaces
    * split, which the fixture text does not contain.)
    */
  val PretokPattern =
    "'(?:s|t|re|ve|m|ll|d)| ?[\\p{L}]+| ?[\\p{N}]+| ?[^\\s\\p{L}\\p{N}]+|\\s+"

  /** Space-prefixed digit-run / symbol-run sub-patterns, counted as their
    * own extractions (each column is DEFINED as its own pattern's match
    * count over the raw text, not a classification of [[PretokPattern]]'s
    * output — identical here because the synthesized text has no
    * contraction apostrophes).
    */
  val PretokNum = " ?[\\p{N}]+"
  val PretokSym = " ?[^\\s\\p{L}\\p{N}]+"

  /** Pre-tokenization counts — the "BPE-ish regex" tier of token counting
    * (SURVEY §2.11) above [[stats]]' whitespace/`\w+` tiers: how many
    * pieces a GPT-2-style pre-tokenizer would hand the BPE merge loop,
    * how many are distinct, digit/symbol run counts, and pieces per
    * whitespace token (the subword inflation factor capacity planning
    * reads). Runs over text synthesized from customer columns
    * (name#digits balance segment — the documents fixture is single-
    * spaced lowercase words, which a pre-tokenizer splits trivially; the
    * planted-input pattern piiRedact established). The balance string is
    * rebuilt from integer cents so both engines format the SAME text —
    * double→string casts are not engine-portable.
    *
    * Scale shape: row-local regexp passes at scan speed, zero shuffle but
    * the output sort.
    */
  def preTokenize(s: SparkSession, dir: String): DataFrame = {
    val cents = round(col("c_acctbal") * 100).cast("long")
    val a = abs(cents)
    val balStr = concat(
      when(cents < 0, lit("-")).otherwise(lit("")),
      floor(a / 100).cast("long").cast("string"), lit("."),
      lpad((a % 100).cast("string"), 2, "0"))
    val pieces = regexp_extract_all(col("txt"), lit(PretokPattern), lit(0))
    t(s, dir, "customer")
      .select(col("c_custkey"),
        concat_ws(" ", col("c_name"), balStr, col("c_mktsegment")).as("txt"))
      .select(
        col("c_custkey"), col("txt"),
        size(pieces).cast("int").as("n_pretok"),
        size(array_distinct(pieces)).cast("int").as("n_pretok_distinct"),
        size(regexp_extract_all(col("txt"), lit(PretokNum), lit(0)))
          .cast("int").as("n_num"),
        size(regexp_extract_all(col("txt"), lit(PretokSym), lit(0)))
          .cast("int").as("n_sym"),
        round(size(pieces).cast("double") /
          size(split(col("txt"), "\\s+")).cast("double"), 6).as("pieces_per_ws"))
      .orderBy("c_custkey")
  }

  /** Feature buckets / weight range for [[modelQualityScore]]. */
  val ModelBuckets = 64

  /** The stand-in "trained" weight vector: one deterministic integer in
    * [-8, 8] per feature bucket, derived from md5 so BOTH engines (and the
    * reader) can reproduce it — this is the model-boundary stub, same
    * honesty contract as MultimodalOps.fakeDecode: a real pipeline drops in
    * actual trained weights here and NOTHING else changes. Everything
    * around it (hashed bag-of-words featurization, the weight vector
    * broadcast as a literal, row-local scoring at scan speed) is the real,
    * tested plumbing of a fastText-style quality classifier.
    */
  lazy val modelWeights: Seq[Long] = (0 until ModelBuckets).map { b =>
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"w:$b".getBytes("UTF-8"))
      .take(4).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex, 16) % 17 - 8
  }

  /** Model-based quality scoring: hash every token into one of
    * [[ModelBuckets]] feature buckets, look its weight up in the
    * [[modelWeights]] vector, and average — the application shape of a
    * linear text classifier (fastText / logistic quality filter) over a
    * corpus. The weight vector rides along as a LITERAL array (a real
    * model's coefficients broadcast the same way — model size is KBs
    * against TBs of text); scoring is one row-local fold at scan speed,
    * zero shuffle. Score arithmetic is an exact integer sum divided once,
    * so the oracle reproduces it bit-for-bit.
    */
  def modelQualityScore(s: SparkSession, dir: String): DataFrame =
    modelScored(s, dir)
      .select(col("doc_id"), col("n_tokens"), col("raw_score"),
        round(col("raw_score").cast("double") / col("n_tokens"), 6).as("score"),
        (col("raw_score") > 0).as("keep"))
      .orderBy("doc_id")

  /** (doc_id, n_tokens, raw_score) — the unsorted scoring pass shared by
    * [[modelQualityScore]] and [[calibratedQualityCut]].
    */
  private[llm] def modelScored(s: SparkSession, dir: String): DataFrame = {
    val weightsLit = array(modelWeights.map(w => lit(w)): _*)
    t(s, dir, "documents")
      .withColumn("toks", tokens(col("text")))
      .select(
        col("doc_id"),
        size(col("toks")).cast("int").as("n_tokens"),
        graft.functions.HashedScore(col("toks"), weightsLit, ModelSalt)
          .as("raw_score"))
  }

  /** Salt prefixing every feature hash (mirrored in the oracles' hexIntSql
    * calls).
    */
  val ModelSalt = "feat:"

  /** The declarative scoring fold — the executable specification the
    * native `hashed_score` expression is pinned against (HashedScoreSpec):
    * one interpreted lambda per token, a Column-expression md5 each.
    */
  private[graft] def modelScoreHof(toks: Column, weights: Column): Column =
    aggregate(toks, lit(0L),
      (acc, tk) => acc + element_at(weights,
        (md5Long(concat(lit(ModelSalt), tk)) % size(weights) + 1).cast("int")))

  /** Percentile dropped by [[calibratedQualityCut]]. */
  val CutPercentile = 0.25

  /** Sketch accuracy for [[approxQualityCut]]: rank error is bounded by
    * count/accuracy with O(accuracy·log(count)) aggregation state — the
    * bounded-memory replacement for the exact aggregate's buffer-everything
    * behavior. At the harness SFs count/accuracy < 1, so the sketch is
    * rank-EXACT and the DuckDB oracle can pin the discrete quantile value.
    */
  val CutApproxAccuracy = 10000

  /** Distribution-calibrated quality cut — the two-pass "calibrate, then
    * apply" pattern a corpus refresh runs when the keep policy is "drop the
    * worst quartile" rather than a fixed threshold (fixed thresholds drift
    * as the crawl mix changes; a percentile cut is self-adjusting): pass 1
    * reduces the score column to ONE scalar (the [[CutPercentile]]
    * percentile), pass 2 broadcasts it back over the corpus as a row-local
    * verdict. Exact `percentile` over the integer scores keeps the oracle
    * engine-exact (same contract as the quantile aggregations);
    * [[approxQualityCut]] is the bounded-state 100-TB form of the same
    * plan.
    */
  def calibratedQualityCut(s: SparkSession, dir: String): DataFrame =
    calibratedCut(s, dir, exact = true)

  /** The 100-TB form of [[calibratedQualityCut]]: identical two-pass plan
    * shape (reduce to one scalar, broadcast it back, verdict at scan
    * speed) with `approx_percentile` in place of the exact aggregate — the
    * exact `percentile` buffers every value in aggregation state, the
    * sketch carries O([[CutApproxAccuracy]]) mergeable state through the
    * shuffle. The cutoff is a discrete element of the score distribution
    * (rank ceil(q·n)), which DuckDB's `quantile_disc` selects identically
    * at every q·n alignment for q=0.25 — so this path is value-oracled,
    * not just differentially checked. Exact-vs-approx verdicts can differ
    * ONLY for documents sitting exactly on the discrete cutoff element
    * (the continuous quantile interpolates past it); CutEstimatorSpec pins
    * that boundary as the sole permitted divergence — anything further is
    * sketch error.
    */
  def approxQualityCut(s: SparkSession, dir: String): DataFrame =
    calibratedCut(s, dir, exact = false)

  private def calibratedCut(s: SparkSession, dir: String,
      exact: Boolean): DataFrame = {
    // both passes read the scored frame (percentile aggregate + verdict
    // projection) — uncached, the tokenize + per-token md5 scoring scan
    // would run twice
    val sc = Reuse(modelScored(s, dir))
    val cutoff =
      if (exact) round(percentile(col("raw_score"), lit(CutPercentile)), 4)
      else approx_percentile(col("raw_score"), lit(CutPercentile),
        lit(CutApproxAccuracy))
    val thr = sc.agg(cutoff.as("cutoff"))
    sc.crossJoin(broadcast(thr))
      .select(col("doc_id"), col("raw_score"), col("cutoff"),
        (col("raw_score") >= col("cutoff")).as("keep"))
      .orderBy("doc_id")
  }

  /** Merge candidates returned by [[bpePairs]]. */
  val BpeTopN = 100

  /** BPE merge-candidate counting — the inner loop of byte-pair-encoding
    * tokenizer training: the corpus-weighted frequency of every adjacent
    * CHARACTER pair, whose argmax is the next merge. Top [[BpeTopN]] by
    * weight with deterministic (pair) tie-break.
    *
    * The scale trick is the classic BPE one: pairs are counted over the
    * DISTINCT VOCABULARY weighted by word frequency, not over the corpus —
    * the corpus touches one aggregation (term → count, map-side partial
    * combine, one row per distinct term through the shuffle) and the
    * character-pair explode runs over the vocabulary table, which is orders
    * of magnitude smaller than 100 TB of text and independent of corpus
    * growth once the vocabulary saturates. A real trainer iterates
    * (re-segment, re-count) on that same vocabulary table without ever
    * rescanning the corpus.
    */
  def bpePairs(s: SparkSession, dir: String): DataFrame =
    pairWeights(vocabTable(s, dir))

  /** The term→frequency vocabulary table — the ONE corpus aggregation
    * every tokenizer-prep operator runs on ([[vocabulary]], [[bpePairs]],
    * [[bpeMergeStep]]).
    */
  private def vocabTable(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(explode(tokens(col("text"))).as("term"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("freq"))

  private def pairWeights(vocab: DataFrame): DataFrame = {
    // adjacent char pairs of a term: substr windows over 1..len-1 (terms
    // shorter than 2 chars contribute none). sequence(1, len-1) would step
    // DOWNWARD for a 1-char term (Spark defaults to step -1 when start >
    // stop), so the <2 case is guarded explicitly rather than left to the
    // sequence bounds.
    val pairs = when(length(col("term")) >= 2,
      transform(sequence(lit(1), length(col("term")) - 1),
        i => col("term").substr(i, lit(2))))
      .otherwise(array().cast("array<string>"))
    vocab
      .select(explode(pairs).as("pair"), col("freq"))
      .groupBy(col("pair"))
      .agg(sum(col("freq")).as("weight"))
      .orderBy(col("weight").desc, col("pair"))
      .limit(BpeTopN)
  }

  /** One BPE MERGE applied to the vocabulary — the mechanic the pair
    * counts exist to feed: the top-weighted pair is merged into a single
    * symbol in every term, greedily left-to-right on non-overlapping
    * occurrences — exactly `replace()`'s contract in every engine, so the
    * oracle needs no fold. Merged symbols surface uppercased in `merged`
    * (the vocabulary is lowercase, so the marking is collision-free).
    *
    * Scale shape: ONE corpus aggregation (the cached vocabulary table
    * feeds both the pair ranking and the merge projection), the top pair
    * rides in as a broadcast scalar, and the merge itself is row-local
    * string work over the vocabulary — a real BPE trainer loops exactly
    * this step on the vocabulary table without ever rescanning the
    * corpus.
    */
  def bpeMergeStep(s: SparkSession, dir: String): DataFrame = {
    val vocab = Reuse(vocabTable(s, dir))
    val top = broadcast(pairWeights(vocab).limit(1).select(col("pair")))
    vocab.crossJoin(top)
      .select(col("term"), col("freq"), col("pair"),
        ((length(col("term")) -
          length(replace(col("term"), col("pair"), lit("")))) / 2)
          .cast("int").as("n_merges"),
        replace(col("term"), col("pair"), upper(col("pair"))).as("merged"))
      .orderBy(col("freq").desc, col("term"))
      .limit(VocabTopN)
  }

  /** Training rounds for [[bpeTrain]] — the size of the learned merge
    * table (each round contributes one rule).
    */
  val BpeTrainK = 8

  /** Space-bounded symbol string of a term — `" l o w "` for `"low"`:
    * every symbol is flanked by single spaces, so a merge rule `"a b"`
    * rewrites as the substring `" a b " → " ab "` with no false match
    * inside a multi-character symbol (symbols never contain spaces — the
    * vocabulary is whitespace-split and merges concatenate).
    */
  private def symString(term: Column): Column =
    concat(lit(" "), regexp_replace(term, "(.)", "$1 "))

  /** Adjacent symbol pairs (`"a b"`) of a symbol string — EVERY adjacent
    * index pair, the standard BPE statistic (a run `a a a` contributes
    * `a a` twice). Built by zipping the two shifted slices (the
    * [[graft.functions]] trigram trick): indexed element_at over an
    * inlined split would re-evaluate the split per index — O(n²) per
    * term — while the slice zip evaluates it a constant number of times.
    */
  private def symPairs(ss: Column): Column = {
    val syms = split(trim(ss), " ")
    zip_with(
      slice(syms, lit(1), size(syms) - 1),
      slice(syms, lit(2), size(syms) - 1),
      (a, b) => concat(a, lit(" "), b))
  }

  /** Iterated BPE TRAINING — the loop that produces a real merge table,
    * not one ranking: each of [[BpeTrainK]] rounds counts adjacent-pair
    * weights over the CURRENT vocabulary segmentation, takes the argmax
    * (weight desc, pair asc — deterministic), rewrites the vocabulary
    * with it, and recounts. Output is the rule table `(round, pair,
    * weight)` in learned order — rules over multi-character symbols
    * (`"lo w"`) appear in later rounds as earlier merges feed them.
    *
    * Scale shape: the corpus is touched ONCE (the shared [[vocabTable]]
    * aggregation); every training round runs on the cached vocabulary
    * table — a pair explode + one aggregation whose key space is the
    * tiny symbol-pair domain, then a 1-row TakeOrdered argmax broadcast
    * back onto the vocabulary as a scalar. Per-round cost is independent
    * of corpus size once the vocabulary saturates, the same economics as
    * [[graft.ops.GraphOps]]'s fixpoints (one bounded shuffle per round,
    * K rounds). Training stops early, with fewer than K rules, once no
    * adjacent symbol pair is left to merge (an empty corpus, or one of
    * single-letter tokens, learns none).
    *
    * Each call is one training run: nothing is remembered across calls.
    * A caller that encodes many times trains once here and hands the
    * collected pairs to [[encodedVocabFrom]].
    */
  def bpeTrain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    train(s, dir)
      .toDF("round", "pair", "weight")
      .orderBy("round")
  }

  /** The training loop itself, over a `(term, freq)` vocabulary frame,
    * yielding the driver-local rule list. Each round's argmax is a
    * ONE-ROW collect — the learned rule is a scalar training artifact
    * the driver must see to build the next round's plan, the same
    * driver-boundary class as the streaming centroid table
    * ([[graft.streaming.StreamOps]]) and the components convergence
    * probe ([[Dedup]]); everything row-scale stays distributed. Rewrites
    * apply the rule as a LITERAL projection (no join, fully codegen'd):
    * `" a b " → " ab "`, greedily left-to-right on non-overlapping
    * occurrences — exactly `replace()`'s contract in every engine, so the
    * oracle needs no fold. The one documented edge: back-to-back
    * occurrences SHARE their boundary space (`" a b a b "`), and
    * `replace()` resumes scanning after the consumed region, so only the
    * first of the two merges in that pass — identically in Spark, DuckDB,
    * and the plain-Scala replay (all inherit the same non-overlapping
    * scan). Each round's segmentation is cached and the previous round's
    * cache unpersists as soon as the next materializes, so O(1)
    * vocabulary copies are live regardless of K; the last one unpersists
    * when the loop ends.
    */
  private def trainedRules(vocabFrame: DataFrame): Seq[(Int, String, Long)] = {
    var vocab = vocabFrame
      .select(col("freq"), symString(col("term")).as("ss"))
    val rules = Seq.newBuilder[(Int, String, Long)]
    var r = 1
    var more = true
    while (more && r <= BpeTrainK) {
      val top = vocab
        .select(explode(symPairs(col("ss"))).as("pair"), col("freq"))
        .groupBy(col("pair")).agg(sum(col("freq")).as("weight"))
        .orderBy(col("weight").desc, col("pair").asc)
        .limit(1).collect()
      more = top.nonEmpty // no pair left to merge: the table is complete
      if (more) {
        val pair = top(0).getString(0)
        rules += ((r, pair, top(0).getLong(1)))
        if (r < BpeTrainK) { // the last argmax needs no further rewrite
          val prev = vocab
          val next = vocab.select(col("freq"),
            replace(col("ss"), lit(s" $pair "),
              lit(" " + pair.replace(" ", "") + " ")).as("ss"))
          vocab = next.cache()
          vocab.count() // materialize before dropping the parent
          if (r > 1) prev.unpersist() // round 1 reads the shared vocabFrame
        }
      }
      r += 1
    }
    vocab.unpersist()
    rules.result()
  }

  /** One training run over the `dir` corpus's vocabulary. */
  private def train(s: SparkSession, dir: String): Seq[(Int, String, Long)] =
    Reuse.released(trainedRules(Reuse(vocabTable(s, dir))))

  /** The ENCODE half of the tokenizer story, consuming [[bpeTrain]]'s
    * rule table: each learned rule, in round order, rewrites every
    * non-overlapping occurrence of its pair left-to-right over the
    * space-bounded symbol string — so fold-encoding a term from scratch
    * reproduces EXACTLY the training loop's final segmentation of it
    * (same rules, same order, same `replace()` semantics; the replay
    * spec pins the identity and the oracle reads the training chain's
    * end state).
    *
    * Scale shape: encoding runs over the DISTINCT vocabulary, not the
    * corpus (the corpus re-join is a broadcast of this table when
    * needed); the K learned rules are driver-local scalars, so the fold
    * unrolls into ONE static K-step replace chain — a plain codegen'd
    * projection over the vocabulary, no join, no
    * higher-order-function state. Per-term work is a row-local K-step
    * string fold.
    */
  def bpeEncode(s: SparkSession, dir: String): DataFrame =
    encodedVocab(s, dir)
      .orderBy(col("freq").desc, col("term"))
      .limit(VocabTopN)

  /** The full encoded vocabulary (term, freq, encoded, n_syms) — the
    * trained tokenizer as a TABLE, unlimited and unordered; [[bpeEncode]]
    * declares its top slice, [[bpeTokenizeCorpus]] broadcasts all of it,
    * and [[graft.streaming.StreamOps.bpeTokenizeStream]] probes it
    * stream-static. Each call runs one training pass (eagerly, before
    * the returned plan exists), as every other index family rebuilds per
    * call; a caller that probes many times trains once with [[bpeTrain]]
    * and holds the rules for [[encodedVocabFrom]].
    */
  def encodedVocab(s: SparkSession, dir: String): DataFrame =
    encodedVocabFrom(s, dir, train(s, dir).map(_._2))

  /** [[encodedVocab]] from an EXPLICIT rule list (pair strings in learned
    * order) — the probe half a deployment runs against a rule table it
    * holds (the bench's build/probe split collects [[bpeTrain]]'s 8-row
    * artifact from parquet and hands the pairs here). The fold unrolls
    * into one static K-step replace chain — a plain codegen'd projection,
    * no join, no higher-order-function state.
    */
  def encodedVocabFrom(s: SparkSession, dir: String, pairs: Seq[String]): DataFrame = {
    // NO pin here: this projection reads the vocabulary exactly once
    // (training caches its own scan)
    val vocab = vocabTable(s, dir)
    val encoded = pairs
      .foldLeft(symString(col("term"))) { case (acc, pair) =>
        replace(acc, lit(s" $pair "),
          lit(" " + pair.replace(" ", "") + " "))
      }
    vocab
      .select(col("term"), col("freq"), trim(encoded).as("encoded"))
      .select(col("term"), col("freq"), col("encoded"),
        when(length(col("encoded")) === 0, lit(0))
          .otherwise(size(split(col("encoded"), " ")))
          .cast("int").as("n_syms"))
  }

  /** The trained tokenizer APPLIED to the corpus — the deployment step
    * the encode table exists for: per-document word and BPE-token counts
    * (the numbers a training-data pipeline budgets sequences by). Every
    * corpus token is in the vocabulary by construction (the vocabulary IS
    * the distinct corpus tokens), so the join is total.
    *
    * Scale shape: the per-term symbol counts ride the BROADCAST of the
    * encoded vocabulary back over the corpus token explode — the corpus
    * streams through one scan and aggregates per doc_id with map-side
    * partials; tokenization cost is paid once on the vocabulary (which
    * saturates), never re-paid per corpus row.
    */
  def bpeTokenizeCorpus(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .join(broadcast(encodedVocab(s, dir)
        .select(col("term"), col("n_syms"))), Seq("term"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_syms")).cast("long").as("n_bpe_tokens"))
      .orderBy("doc_id")

  /** Tokenizer FERTILITY per language — pieces-per-word of the trained
    * BPE rules, the standard tokenizer-evaluation statistic (a language
    * whose fertility runs high pays proportionally more sequence length
    * for the same text, which is a training-cost and context-budget
    * question, not a style one). Integer parts-per-million
    * (`pieces·10^6 div words`) so the ratio is engine-exact; always
    * ≥ 10^6 since every word is at least one piece.
    *
    * Scale shape: same economics as [[bpeTokenizeCorpus]] — the corpus
    * contributes one explode→join→aggregate pass against the BROADCAST
    * encoded vocabulary (per-term piece counts are a vocabulary-sized
    * artifact, not a corpus-sized one), collapsed to O(langs) rows with
    * map-side partials.
    */
  def bpeFertility(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("lang"), explode(tokens(col("text"))).as("term"))
      .join(broadcast(encodedVocab(s, dir)
        .select(col("term"), col("n_syms"))), Seq("term"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_syms")).cast("long").as("n_bpe_tokens"))
      .select(col("lang"), col("n_words"), col("n_bpe_tokens"),
        expr("(n_bpe_tokens * 1000000) div n_words").as("fertility_ppm"))
      .orderBy("lang")

  /** The inverted index as a TABLE — the persisted retrieval artifact
    * [[bm25TopDocs]] recomputes in-query: one posting row per (term,
    * doc_id) carrying tf, with df and the two corpus scalars (N, Σdl)
    * DENORMALIZED onto every row. Denormalization is deliberate: a probe
    * (batch [[bm25Indexed]] or stream
    * [[graft.streaming.StreamOps.bm25ProbeStream]]) scores row-locally
    * after ONE equi-join on term — no second lookup into a df table or a
    * scalars table from inside a stream, the same contract as
    * [[Dedup.minhashIndex]]'s denormalized signature.
    *
    * Scale shape: built in one corpus pass — explode → (term, doc_id)
    * aggregation with map-side partials (dl rides the exploded rows into
    * `max(dl)`, never a corpus-sized length-table join); df derives from
    * the postings by an O(vocab) re-aggregation that BROADCASTS back; the
    * scalars broadcast from a single-row aggregate over a second pruned
    * text scan. On a deployment the table is written bucketed by term, so
    * a probe prunes to its query terms' posting lists — the build cost is
    * paid once and amortized over every probe, which is the entire reason
    * an inverted index exists.
    */
  /** The posting aggregation of one document set — (term, doc_id, tf, dl),
    * ONE definition for the full build ([[bm25Index]]) and the per-side
    * builds of the incremental maintenance ([[ivmIndex]]).
    */
  private def postingsOf(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    docs
      .select(col("doc_id"), size(toks).cast("bigint").as("dl"),
        explode(toks).as("term"))
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
  }

  /** Skip-gram window radius and result size. */
  val SkipgramWindow = 2
  val SkipgramTopK = 100

  /** Skip-gram (center, context) pair counts within ±[[SkipgramWindow]]
    * tokens — the training-pair extraction a word2vec/contrastive
    * embedding run feeds on. Pair generation is ROW-LOCAL: one zipped
    * slice pass per offset (and its transpose for the negative offsets) —
    * never a positions self-join — so the only shuffle is the final
    * (w, c) count aggregation (map-side combined) and the top-K plans as
    * TakeOrderedAndProject. Directed counts: `n(w→c)` is the number of
    * times c appears within the window of center w; the ±off transpose
    * makes the matrix symmetric by construction (spec-pinned).
    */
  def skipgrams(s: SparkSession, dir: String): DataFrame = {
    val n = size(col("toks"))
    def fwd(off: Int) = when(n > off,
      zip_with(
        slice(col("toks"), lit(1), n - lit(off)),
        slice(col("toks"), lit(1 + off), n - lit(off)),
        (a, b) => struct(a.as("w"), b.as("c"))))
      .otherwise(array())
    def bwd(off: Int) = when(n > off,
      zip_with(
        slice(col("toks"), lit(1), n - lit(off)),
        slice(col("toks"), lit(1 + off), n - lit(off)),
        (a, b) => struct(b.as("w"), a.as("c"))))
      .otherwise(array())
    val offs = 1 to SkipgramWindow
    t(s, dir, "documents")
      .withColumn("toks", tokens(col("text")))
      .select(explode(concat(
        (offs.map(fwd) ++ offs.map(bwd)): _*)).as("p"))
      .select(col("p.w").as("w"), col("p.c").as("c"))
      .groupBy(col("w"), col("c")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("w"), col("c"))
      .limit(SkipgramTopK)
  }

  /** Negative-sampling probe count. */
  val NegSampleK = 100

  /** Frequency-proportional negative-sampling table + its probes — the
    * other half of the skip-gram training-data story: the unigram
    * distribution becomes a CUMULATIVE RANGE TABLE (term t owns
    * [start, start+cnt) over total T, ranges from one window sum under
    * the deterministic term order), and each of the K md5-seeded probes
    * `h_j = md5("neg:j") mod T` resolves to the owning term — sampling
    * term t with probability cnt(t)/T exactly. (word2vec raises counts to
    * 0.75 before normalizing; that needs libm `pow`, so this table uses
    * exponent 1.0 — the integer-exact trade, same family as the bm25
    * odds-idf clearing.)
    *
    * Shape: the range table is an O(vocab) window pass; the K probes
    * BROADCAST against it with the half-open containment predicate — a
    * K×V nested-loop whose small side is K rows (the j9 interval-join
    * economics: broadcast the tiny side, predicate-prune on the big one).
    */
  def negativeSamples(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val uni = t(s, dir, "documents")
      .select(explode(tokens(col("text"))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
    val w = Window.orderBy(col("term"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranges = uni
      .withColumn("start", coalesce(sum(col("cnt")).over(w), lit(0L)))
      .withColumn("tot", sum(col("cnt")).over(Window.partitionBy()))
    val probes = broadcast(
      s.range(0, NegSampleK).toDF("probe_id")
        .select(col("probe_id"),
          md5Long(concat(lit("neg:"), col("probe_id").cast("string")))
            .as("h0")))
    probes.join(ranges,
        col("h0") % col("tot") >= col("start") &&
          col("h0") % col("tot") < col("start") + col("cnt"))
      .select(col("probe_id"), (col("h0") % col("tot")).as("h"),
        col("term"), col("cnt"))
      .orderBy("probe_id")
  }

  /** Coverage targets for [[vocabCoverage]], in percent of corpus tokens. */
  val CoveragePcts = Seq(50, 90, 95, 99)

  /** Vocabulary-coverage curve — the tokenizer-sizing question ("how many
    * vocabulary entries cover 99% of the running corpus?") answered
    * exactly: terms rank by (freq desc, term asc) and each target
    * percentage reports the MINIMAL vocabulary size whose cumulative
    * frequency reaches it, with the coverage attained there and the
    * corpus total. The threshold test is the integer cross-multiply
    * (`cum·100 ≥ tot·pct`, the histQuantiles convention), and because
    * `cum` is monotone along the rank, `min(case when … then rn)` is the
    * exact knee — no join, no second pass.
    *
    * Shape: one vocab aggregation, one O(vocab) global-order window pass
    * (the negativeSamples range-table convention — vocab-bounded; the
    * CORPUS never sorts), then a |pcts|×vocab explode collapsed by one
    * aggregate.
    */
  def vocabCoverage(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("freq").desc, col("term").asc)
    vocabTable(s, dir)
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("cum", sum(col("freq")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("tot", sum(col("freq")).over(Window.partitionBy()))
      .select(explode(typedLit(CoveragePcts)).as("pct"), col("rn"),
        col("cum"), col("tot"))
      .groupBy(col("pct"))
      .agg(
        min(when(col("cum") * 100 >= col("tot") * col("pct"), col("rn")))
          .as("vocab_size"),
        min(when(col("cum") * 100 >= col("tot") * col("pct"), col("cum")))
          .as("covered_cnt"),
        max(col("tot")).as("total_cnt"))
      .orderBy("pct")
  }

  /** df band for the similarity join: terms in fewer than 2 documents
    * cannot create a pair; terms above the cap are stop-term noise AND
    * the quadratic hazard — the prune bounds every term's pair fanout at
    * cap², which is what keeps a posting self-join near-linear at corpus
    * scale (the same role the LSH band plays for MinHash). The cap is
    * SCALE-AWARE: `max(NeighborMaxDf, n_docs/NeighborRareFrac)` — an
    * absolute floor at fixture scale (where `n/20` would under-shoot the
    * whole vocabulary) joined to a relative arm, because "rare
    * vocabulary" is a fraction-of-corpus property: a term in 5% of
    * documents is exactly as discriminative at 10⁹ docs as at 10³, while
    * any fixed cap empties as the corpus grows (the round-10 sf0.1/sf1
    * runs returned 0 rows on BOTH engines — a check that could not
    * fail). The relative arm's worst-case fanout is (n/20)² per term;
    * the REAL bound at scale is the banded df distribution itself
    * (stop-terms with df ~ n stay excluded — the band tracks the rare
    * tail, not a fixed count). The hard ceiling the relative arm still
    * needed is the CHAMPION cap below: the round-12 sf5 run proved the
    * (n/20)² worst case real — the pair join spilled > 70 GB of shuffle
    * and exhausted local disk on the 52-ring corpus, whose per-variant
    * stopword-scale terms all fit under the widened band.
    */
  val NeighborMaxDf = 50
  /** Denominator of the relative df-band arm: rare = ≤ n_docs/20 (5%). */
  val NeighborRareFrac = 20
  /** Result size of the pair ranking. */
  val NeighborTopK = 50
  /** Champion-list cap (the classic IR champion/top-doc device): before
    * pairing, each banded term keeps only its [[NeighborChampions]]
    * highest-weight postings (ties to the smaller doc_id) — per-term pair
    * work is bounded at cap² ABSOLUTELY, so the join survives any df the
    * relative band admits, and the trimmed pairs are precisely the
    * weakest contributors to the idf-weighted dot. Equal to
    * [[NeighborMaxDf]], so below the absolute df floor (every fixture
    * scale: df ≤ 50 ⇒ posting list ≤ 50) the cap is a provable no-op —
    * the sf0.01/sf0.1 oracle hashes are unchanged by construction.
    */
  val NeighborChampions = NeighborMaxDf

  /** Sparse TF-IDF document-similarity join — "which documents cover the
    * same rare vocabulary": candidate pairs are generated ONLY through
    * shared terms (a posting-list self-equi-join on term — never all
    * pairs), scored by the idf-weighted dot product
    * `Σ_t tf_a·tf_b·(N div df)²` with the idf cleared to an exact integer
    * (`N div df` — the bm25/cooc odds-idf trade: log-free, so the ranking
    * is hash-exact cross-engine), and the global top-K plans as
    * TakeOrderedAndProject.
    *
    * Scale shape: the [[NeighborMaxDf]] band is the whole story — pair
    * fanout per term is ≤ MaxDf², the df table after the band is the
    * RARE vocabulary (broadcastable; at extreme scale the same plan holds
    * with a term-keyed shuffle join), and the corpus text is scanned once
    * into the shared [[postingsOf]] aggregation.
    */
  def docNeighbors(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val nDocs = broadcast(docs.agg(count(lit(1)).as("n_docs")))
    val post = Reuse(postingsOf(docs))
    // scale-aware rare band (the 1-row scalar rides the standard
    // crossJoin attach; df table is O(vocab), the greatest() cut is free)
    val dfT = post.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .crossJoin(nDocs)
      .filter(col("df") >= 2 && col("df") <=
        greatest(lit(NeighborMaxDf.toLong),
          expr(s"n_docs div $NeighborRareFrac")))
      .select(col("term"), col("df"), col("n_docs"))
    val w0 = post.join(broadcast(dfT), Seq("term"))
      .select(col("term"), col("doc_id"),
        (col("tf") * expr("n_docs div df")).as("w"))
    // champion cap: per term, only the NeighborChampions highest-weight
    // postings enter the pair join — the absolute per-term ceiling the
    // relative df band lacks (see the band scaladoc; round-12 sf5
    // evidence). One window exchange on term, which the term-keyed pair
    // join below reuses as its own partitioning.
    val wv = org.apache.spark.sql.expressions.Window
      .partitionBy(col("term")).orderBy(col("w").desc, col("doc_id"))
    val w = w0.withColumn("rn", row_number().over(wv))
      .filter(col("rn") <= NeighborChampions)
      .drop("rn")
    // the pair join is term-keyed SHUFFLED HASH by hint: the banded w is
    // small at fixture scale (where the estimate used to pick broadcast)
    // but grows with the rare vocabulary — the hash join is the form
    // that holds at both ends, and it keeps the estimate-dependent
    // BHJ/SMJ flip (the n_docs scalar attach inflated the estimates)
    // out of the plan; PlanSpec pins no-sort-merge
    w.as("a")
      .join(w.as("b").hint("shuffle_hash"),
        col("a.term") === col("b.term") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .agg(sum(col("a.w") * col("b.w")).as("dot"),
        count(lit(1)).as("n_shared"))
      .orderBy(col("dot").desc, col("a_id"), col("b_id"))
      .limit(NeighborTopK)
  }

  def bm25Index(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val toks = tokens(col("text"))
    val scal = broadcast(docs.select(size(toks).cast("bigint").as("dl0"))
      .agg(count(lit(1)).as("n_docs"), sum(col("dl0")).as("sum_dl")))
    // two consumers (df derivation + the final projection)
    val post = Reuse(postingsOf(docs))
    val dfT = post.groupBy(col("term")).agg(count(lit(1)).as("df"))
    post.join(broadcast(dfT), Seq("term"))
      .crossJoin(scal)
      .select(col("term"), col("df"), col("doc_id"), col("tf"), col("dl"),
        col("n_docs"), col("sum_dl"))
  }

  /** [[bm25Index]] declared: the full posting table in (term, doc_id)
    * order — what a user materializes before serving retrieval traffic.
    */
  def invertedIndex(s: SparkSession, dir: String): DataFrame =
    bm25Index(s, dir).orderBy("term", "doc_id")

  /** Incremental maintenance of the inverted index — the IVM tier
    * ([[graft.ops.IncrementalOps]]) applied to the retrieval artifact:
    * the base index and a new document batch merge by MONOID arithmetic —
    * posting rows APPEND (doc sets are disjoint), per-term df ADDS
    * (full-outer over the two O(vocab) df tables), the corpus scalars
    * (N, Σdl) ADD — and the denormalized columns rebroadcast over the
    * union. Maintenance cost is O(delta postings) + an O(vocab) df merge;
    * the base corpus text is NEVER rescanned — the entire point of
    * maintaining an index instead of rebuilding one at 100 TB.
    *
    * The oracle is [[invertedIndex]]'s full-recompute SQL, unchanged:
    * merged-incremental ≡ full-rebuild hash-exact IS the soundness proof
    * (the `q_ivm_agg`/`q_ivm_join` contract). The delta is every
    * [[Dedup.IncrementModulus]]-th doc_id, the library's standing
    * new-batch convention.
    */
  def ivmIndex(s: SparkSession, dir: String): DataFrame = {
    val (basePost, baseScal) = ivmBase(s, dir)
    ivmMerge(s, dir, basePost, baseScal)
  }

  /** Per-side (n_docs, Σdl) scalars of one document predicate. */
  private def dlOf(docs: DataFrame, pred: Column): DataFrame = {
    val toks = tokens(col("text"))
    docs.filter(pred).select(size(toks).cast("bigint").as("dl0"))
      .agg(count(lit(1)).as("n"), sum(col("dl0")).as("s"))
  }

  /** The PERSISTED base-side artifacts of the incremental index: the base
    * corpus's posting rows `(term, doc_id, tf, dl)` and its one-row
    * `(n, s)` scalars — what a deployment keeps on disk between batches
    * (the bench's build/probe split freezes exactly these two frames).
    */
  def ivmBase(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val docs = t(s, dir, "documents")
    val isBase = col("doc_id") % Dedup.IncrementModulus =!= 0
    (Reuse(postingsOf(docs.filter(isBase))), dlOf(docs, isBase))
  }

  /** The MAINTENANCE half alone: merge a (possibly frozen) base artifact
    * with the new-batch delta by monoid arithmetic — posting rows append,
    * per-term df adds, scalars add; the base corpus TEXT is never
    * rescanned (only its posting artifact is re-aggregated, O(postings)).
    */
  def ivmMerge(s: SparkSession, dir: String, basePost: DataFrame,
      baseScal: DataFrame): DataFrame = {
    val docs = t(s, dir, "documents")
    val isDelta = col("doc_id") % Dedup.IncrementModulus === 0
    val delta = Reuse(postingsOf(docs.filter(isDelta)))
    val dfMerged = basePost.groupBy(col("term")).agg(count(lit(1)).as("df_b"))
      .join(delta.groupBy(col("term")).agg(count(lit(1)).as("df_d")),
        Seq("term"), "full_outer")
      .select(col("term"),
        (coalesce(col("df_b"), lit(0L)) + coalesce(col("df_d"), lit(0L)))
          .as("df"))
    val scalMerged = broadcast(baseScal.crossJoin(dlOf(docs, isDelta)
        .withColumnRenamed("n", "nd").withColumnRenamed("s", "sd"))
      .select((col("n") + col("nd")).as("n_docs"),
        (coalesce(col("s"), lit(0L)) + coalesce(col("sd"), lit(0L)))
          .as("sum_dl")))
    basePost.unionByName(delta)
      .join(broadcast(dfMerged), Seq("term"))
      .crossJoin(scalMerged)
      .select(col("term"), col("df"), col("doc_id"), col("tf"), col("dl"),
        col("n_docs"), col("sum_dl"))
      .orderBy("term", "doc_id")
  }

  /** BM25 retrieval PROBING the prebuilt index — same queries, same
    * arithmetic, same output as [[bm25TopDocs]] (the oracle is literally
    * shared), but the serving-path shape: the corpus text is never
    * touched; the broadcast query-term list prunes the posting table
    * (bucket-pruned to the query terms' lists on a deployment), every
    * per-term score is row-local on the denormalized posting row, and
    * only O(matched postings) rows reach the per-(query, doc) sum.
    * This is the build-once/probe-many split that makes term retrieval
    * viable at 100 TB: [[bm25TopDocs]] pays two corpus scans per query
    * workload, this pays zero.
    */
  def bm25Indexed(s: SparkSession, dir: String): DataFrame =
    bm25Probe(s, bm25Index(s, dir))

  /** The PROBE half alone, over any prebuilt [[bm25Index]]-shaped frame —
    * what a serving tier runs against the PERSISTED index (the bench's
    * build/probe split hands it the frozen parquet): broadcast query
    * terms prune the posting table, row-local scoring
    * ([[graft.streaming.StreamOps.bm25ProbeStream]], the stream probe's
    * own join), one per-(query, doc) sum. Zero text scans.
    */
  def bm25Probe(s: SparkSession, index: DataFrame): DataFrame = {
    import s.implicits._
    val qterms = broadcast(
      Bm25Queries.flatMap { case (q, ts) => ts.map(t => (q, t)) }
        .toDF("query_id", "term"))
    bm25Collapse(graft.streaming.StreamOps.bm25ProbeStream(qterms, index))
  }

  /** Adjacent word pairs of a token array — the order-sensitive bigram
    * stream (zipped-slices, the [[repetition]] construction): n−1 pairs
    * for an n-token document, empty below two tokens.
    */
  private def bigramPairs(toks: Column): Column =
    zip_with(
      slice(toks, lit(1), size(toks) - 1),
      slice(toks, lit(2), size(toks) - 1),
      (a, b) => struct(a.as("a"), b.as("b")))

  /** Collocation floor and report size for [[collocations]]. */
  val CoocMin = 5L
  val CoocTopK = 50

  /** Collocation mining: the corpus's top adjacent-word pairs ranked by
    * LIFT — `cooc·T / (cnt_a·cnt_b)`, the argument of PMI's log with the
    * probabilities cleared to exact integer counts (same monotone ordering
    * as PMI for a fixed log base, same libm-avoidance as [[bm25TopDocs]]'s
    * odds idf). One exact double division per surviving pair, rounded to
    * 9 dp; exactness holds while cooc·T < 2^53 — comfortably true at any
    * benchmark SF, and at a genuine 100 TB the counts would come off the
    * CMS sketch tier anyway.
    *
    * Scale shape: bigrams explode adjacent pairs only (2× token count,
    * never within-document all-pairs); the pair aggregation is the one
    * real shuffle, map-side-combined and pre-pruned by the [[CoocMin]]
    * floor before the joins; the unigram count table is O(vocab) and
    * BROADCASTS onto the survivors; the top-K is an ordered limit —
    * TakeOrderedAndProject (per-partition heaps), never a global sort of
    * the bigram vocabulary.
    */
  def collocations(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val toks = tokens(col("text"))
    // two consumers (the T scalar + the two broadcast joins); O(vocab)
    // pinned — deriving T from the unigram table keeps the corpus at two
    // scans total (bigram explode + unigram count), not three
    val ucnt = Reuse(docs.select(explode(toks).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c")))
    val tot = broadcast(ucnt.agg(sum(col("c")).as("t")))
    docs.select(explode(bigramPairs(toks)).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("cooc"))
      .filter(col("cooc") >= CoocMin)
      .join(broadcast(ucnt.select(col("w").as("a"), col("c").as("ca"))), Seq("a"))
      .join(broadcast(ucnt.select(col("w").as("b"), col("c").as("cb"))), Seq("b"))
      .crossJoin(tot)
      .select(col("a"), col("b"), col("cooc"), col("ca"), col("cb"),
        round((col("cooc") * col("t")).cast("double") /
          (col("ca") * col("cb")).cast("double"), 9).as("lift"))
      .orderBy(col("lift").desc, col("a"), col("b"))
      .limit(CoocTopK)
  }

  /** Per-document bigram COMMONNESS — the KenLM-style corpus-frequency
    * quality signal with the log-probabilities cleared to exact integers:
    * for each document, how common are its adjacent word pairs in the
    * whole corpus? `sum_freq` is Σ over the document's bigram occurrences
    * of that bigram's corpus count; `avg_freq_x1000` is the exact integer
    * mean ×1000 (floor). Low = novel/atypical text, high = boilerplate —
    * the curation cut this feeds is the [[qualityFilter]] shape.
    *
    * Scale shape: ONE bigram explode feeds both sides — the per-document
    * pair counts (shuffle 1, keyed (doc_id, a, b)) re-aggregate to the
    * corpus counts (shuffle 2, keyed (a, b), input already one row per
    * doc-pair); the equi-join back on (a, b) and the final per-doc sum
    * are the remaining exchanges. The corpus bigram table genuinely can't
    * broadcast at 100 TB (it is O(observed pair vocabulary)), so the
    * (a, b) shuffle join is the honest shape; documents with fewer than
    * two tokens surface with zero bigrams via the left join, not silently
    * dropped.
    */
  def bigramCommonness(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    // two consumers (corpus re-agg + the score join)
    val dbc = Reuse(docs
      .select(col("doc_id"), explode(bigramPairs(tokens(col("text")))).as("p"))
      .groupBy(col("doc_id"), col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("dcnt")))
    val cc = dbc.groupBy(col("a"), col("b"))
      .agg(sum(col("dcnt")).as("cooc"))
    val per = dbc.join(cc, Seq("a", "b"))
      .groupBy(col("doc_id"))
      .agg(sum(col("dcnt")).cast("bigint").as("n_bigrams"),
        sum(col("dcnt") * col("cooc")).cast("bigint").as("sum_freq"))
    docs.select(col("doc_id"))
      .join(per, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("sum_freq"), lit(0L)).as("sum_freq"))
      // floor division of exact non-negative int64s (DuckDB `//`); the
      // product stays well under 2^53 so the floor(double) is exact
      .withColumn("avg_freq_x1000",
        when(col("n_bigrams") === 0, lit(null).cast("bigint"))
          .otherwise(floor((lit(1000) * col("sum_freq")).cast("double") /
            col("n_bigrams").cast("double")).cast("bigint")))
      .orderBy("doc_id")
  }
}
