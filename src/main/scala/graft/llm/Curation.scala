package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Reuse
import graft.Tables.{table => t}
import TextHash._

/** Corpus-curation operators — the steps a training-data pipeline runs
  * between raw ingestion and tokenization that are neither dedup nor
  * quality scoring: benchmark decontamination, PII redaction, and
  * source-mixture resampling.
  *
  * Scale design:
  *  - decontamination joins corpus shingle postings against the BENCHMARK
  *    shingle set — the benchmark suite is tiny relative to the corpus
  *    (thousands of eval documents vs 100 TB), so it broadcasts and the
  *    corpus is streamed once, never shuffled on text;
  *  - PII redaction is row-local regexp rewriting at scan speed;
  *  - mixture resampling is a row-local keep/drop on an md5-derived
  *    uniform, so a resample is reproducible across runs and machines —
  *    no RNG state, no sampling shuffle.
  */
object Curation {

  /** Every 97th doc_id plays the held-out benchmark set in the declared
    * queries (deterministic, so the DuckDB oracle can reproduce it).
    */
  val BenchmarkModulus = 97

  /** Benchmark decontamination (the n-gram-overlap rule used for training
    * corpora): a corpus document is contaminated when it shares ANY word
    * 3-gram shingle with a benchmark document. Returns every non-benchmark
    * document with its contaminated-shingle count and the keep verdict.
    *
    * The single-token fallback shingle `""` is excluded on both sides:
    * it would mark every short document as overlapping every short
    * benchmark doc without any shared content.
    */
  def decontaminate(s: SparkSession, dir: String): DataFrame = {
    val sh = t(s, dir, "documents")
      .select(col("doc_id"), shingles3(tokens(col("text"))).as("grams"))
    val bench = sh.filter(col("doc_id") % BenchmarkModulus === 0)
      .select(explode(col("grams")).as("gram"))
      .filter(col("gram") =!= "")
      .distinct()
    val corpus = sh.filter(col("doc_id") % BenchmarkModulus =!= 0)
    // grams are distinct within a document (shingles3 dedupes), so a plain
    // count after the posting join IS the distinct overlap count
    val hits = corpus.select(col("doc_id"), explode(col("grams")).as("gram"))
      .filter(col("gram") =!= "")
      .join(broadcast(bench), Seq("gram"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"))
    corpus.join(hits, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) === 0).as("keep"))
      .orderBy("doc_id")
  }

  /** Bloom sizing for [[bloomDecontaminate]]: 2^17 bits (16 KB) at 5
    * probes holds the harness benchmark shingle set (~10^3-10^4 grams) at a
    * false-positive rate well under 10^-3; a production run sizes bits to
    * ~1.44·k·|benchmark shingles| the same way.
    */
  val BloomBits = 1 << 17
  val BloomHashes = 5

  /** [[decontaminate]] with a Bloom-filter pre-filter — same output; the
    * bloom's job is to take the posting JOIN off the corpus-side critical
    * path: corpus grams are cut to the suspects at scan speed, inside
    * codegen, before any join runs. When the distinct benchmark set
    * outgrows the broadcast budget, the verify join (broadcast HERE,
    * matching harness scale) becomes a plain shuffled equi-join — whose
    * input is then only the pre-filtered SUSPECTS, not the corpus, which
    * is what keeps the operator viable in that regime.
    *
    * Three stages, all broadcast-light:
    *  1. BUILD: one [[graft.functions.BloomBuild]] aggregation over the
    *     benchmark shingle hashes — constant `BloomBits/64`-long state per
    *     partition through the shuffle, one fixed-size bitset out (16 KB
    *     here, sized up front; the distinct gram SET grows with the
    *     benchmark, the bitset doesn't).
    *  2. PRE-FILTER: the bitset cross-joins (single row, broadcast) onto
    *     the exploded corpus grams, and [[graft.functions.BloomContains]]
    *     drops every gram the filter cannot contain — row-local, no false
    *     negatives (build and probe share position arithmetic by
    *     construction), so nothing contaminated is lost.
    *  3. VERIFY: only the surviving suspects join the true benchmark set —
    *     false positives die here, making the bloom LOSSLESS end to end;
    *     the join input is ~|contaminated grams| instead of |corpus grams|.
    *
    * The oracle is decontaminate's own SQL, unchanged — the differential
    * harness proves the accelerated plan IS the exact semantics.
    */
  def bloomDecontaminate(s: SparkSession, dir: String): DataFrame =
    bloomVerdicts(s, dir).orderBy("doc_id")

  /** The unsorted verdict core of [[bloomDecontaminate]] — consumed
    * mid-pipeline by [[pipelineCurate]], where an interior sort would be
    * dead work.
    */
  private[llm] def bloomVerdicts(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.{BloomBuild, BloomContains}
    val sh = t(s, dir, "documents")
      .select(col("doc_id"), shingles3(tokens(col("text"))).as("grams"))
    // pinned: the benchmark shingle pipeline feeds BOTH the bloom build
    // and the verify join's distinct set — unpinned it would scan and
    // shingle the benchmark slice twice
    val bench = Reuse(sh.filter(col("doc_id") % BenchmarkModulus === 0)
      .select(explode(col("grams")).as("gram"))
      .filter(col("gram") =!= ""))
    // the bloom dedupes by construction — no distinct() before the build
    val bloom = bench
      .select(md5Long(col("gram")).as("h"))
      .agg(BloomBuild(col("h"), BloomBits, BloomHashes).as("bits"))
    val corpus = sh.filter(col("doc_id") % BenchmarkModulus =!= 0)
    val suspects = corpus
      .select(col("doc_id"), explode(col("grams")).as("gram"))
      .filter(col("gram") =!= "")
      .crossJoin(broadcast(bloom))
      .filter(BloomContains(col("bits"), md5Long(col("gram"))))
    val hits = suspects
      .join(broadcast(bench.distinct()), Seq("gram"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"))
    corpus.join(hits, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) === 0).as("keep"))
  }

  /** PII patterns redacted from text before training. RE2-compatible (no
    * backreferences / lookaround) so the Spark and DuckDB engines agree;
    * `(?i)` (also RE2-portable) keeps mixed-case addresses from slipping
    * through the generic primitive unredacted.
    */
  val EmailPattern = "(?i)[a-z0-9.#_-]+@[a-z0-9.-]+"
  val PhonePattern = "\\+[0-9]{6,}"

  /** PII redaction: mask email addresses and international phone numbers.
    * The corpus tables carry no real PII, so the declared query plants
    * synthetic PII derived from customer rows (name-based email, key-based
    * phone) and then strips it — the assertion is the rewrite, not the
    * detector's recall. Row-local, zero shuffle.
    */
  def redactPii(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_replace(
      regexp_replace(c, EmailPattern, "<EMAIL>"),
      PhonePattern, "<PHONE>")

  /** Declared query: synthesize a PII-bearing contact line per customer,
    * redact it, and return both (the planted raw line makes the oracle
    * self-documenting).
    */
  def piiRedact(s: SparkSession, dir: String): DataFrame = {
    val email = concat(lower(regexp_replace(col("c_name"), "#", ".")),
      lit("@example.com"))
    val phone = concat(lit("+3706"), lpad(col("c_custkey").cast("string"), 7, "0"))
    val raw = concat(
      col("c_name"), lit(" <"), email, lit("> tel "), phone,
      lit(" segment "), col("c_mktsegment"))
    t(s, dir, "customer")
      .select(col("c_custkey"), raw.as("raw"))
      .select(col("c_custkey"), col("raw"), redactPii(col("raw")).as("redacted"))
      .orderBy("c_custkey")
  }

  /** Documents drawn per language by [[stratifiedSample]]. */
  val StratumQuota = 40

  /** Stratified EXACT-quota sampling: the [[StratumQuota]] documents per
    * language that rank lowest by salted md5 — fixed per-stratum sample
    * sizes (balanced eval sets, per-domain audits), where the Bernoulli
    * splitter ([[TextAnalysis.trainValSplit]]) only hits quotas in
    * expectation. Determinism is the same anti-leak property: rank derives
    * from the key alone, so the sample survives re-runs, engine swaps, and
    * repartitioning. Scale shape: rank-per-stratum plans a partial
    * WindowGroupLimit — each map task forwards at most `quota` rows per
    * stratum, so the shuffle carries O(partitions · quota), not the corpus.
    */
  def stratifiedSample(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rankHash = md5Long(concat(lit("strat:"), col("doc_id").cast("string")))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("rank_hash"), col("doc_id"))
    t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), rankHash.as("rank_hash"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= StratumQuota)
      .select(col("doc_id"), col("lang"), col("rk").cast("int").as("rk"))
      .orderBy("doc_id")
  }

  /** Token budget selected by [[curateBudget]]. */
  val CurateBudgetTokens = 20000L

  /** Token-budget curation — "spend a fixed training budget on the best
    * documents": admit documents in descending model-score order until
    * [[CurateBudgetTokens]] tokens are claimed, the boundary score
    * admitting its documents in doc_id order until the budget line.
    * Every verdict is exact integer arithmetic on running token sums.
    *
    * Scale shape: NOT a global corpus sort — the corpus contributes the
    * scoring scan and one groupBy(raw_score) collapse; the descending
    * cumulative walk runs on the O(distinct scores) aggregate (the
    * prCurve economics) and broadcasts back as per-score offsets; the
    * only per-document ordering is WITHIN each score bucket (one window
    * partitioned by score), so no stage ever totally orders the corpus.
    */
  def curateBudget(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // pinned: the scored frame feeds BOTH the per-score collapse and the
    // verdict join — unpinned, the tokenize + per-token md5 scoring scan
    // runs twice
    val scored = Reuse(TextAnalysis.modelScored(s, dir))
    val g = scored.groupBy(col("raw_score"))
      .agg(sum(col("n_tokens")).cast("bigint").as("btoks"))
    val wDesc = Window.orderBy(col("raw_score").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offsets = g
      .withColumn("cum_before", sum(col("btoks")).over(wDesc) - col("btoks"))
      .select(col("raw_score"), col("cum_before"))
    val wIn = Window.partitionBy(col("raw_score")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    scored.join(broadcast(offsets), "raw_score")
      .withColumn("within_cum", sum(col("n_tokens")).over(wIn))
      .select(col("doc_id"), col("raw_score"), col("n_tokens"),
        (col("cum_before") + col("within_cum")).as("cum_tokens"),
        (col("cum_before") + col("within_cum") <= CurateBudgetTokens)
          .as("keep"))
      .orderBy("doc_id")
  }

  /** Epochs laid out / shards per epoch by [[epochShuffle]]. */
  val ShuffleEpochs = 3
  val ShuffleShards = 8

  /** Deterministic multi-epoch training order — the "shuffle each epoch"
    * a trainer needs, expressed as a reproducible query instead of a
    * stateful RNG: every (epoch, doc) gets an md5 priority, docs scatter
    * to [[ShuffleShards]] shards by priority and are position-numbered
    * within their (epoch, shard) — exactly the files-per-epoch +
    * order-within-file layout a data loader consumes. Same inputs → the
    * identical byte-for-byte order in any engine and on any cluster (the
    * property an RNG-seeded shuffle loses the moment partitioning
    * changes); different epochs draw different priorities, so orders
    * decorrelate across epochs (spec-pinned, not assumed).
    *
    * Scale shape: the epoch explode multiplies the (doc_id-only) scan by
    * [[ShuffleEpochs]] — a narrow projection, not the text; position
    * assignment windows over (epoch, shard), giving epochs×shards-way
    * parallelism with per-shard sorts (a single global order per epoch
    * would range-partition the whole corpus per epoch instead).
    */
  def epochShuffle(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pri = md5Long(concat(lit("ep:"), col("epoch").cast("string"),
      lit(":"), col("doc_id").cast("string")))
    t(s, dir, "documents")
      .select(col("doc_id"),
        explode(sequence(lit(1), lit(ShuffleEpochs))).as("epoch"))
      .withColumn("pri", pri)
      .withColumn("shard", (col("pri") % ShuffleShards).cast("int"))
      .withColumn("shard_pos", row_number().over(
        Window.partitionBy(col("epoch"), col("shard"))
          .orderBy(col("pri"), col("doc_id"))).cast("int"))
      .select(col("epoch").cast("int").as("epoch"), col("shard"),
        col("shard_pos"), col("doc_id"))
      .orderBy("epoch", "shard", "shard_pos")
  }

  /** Token window / stride for [[chunkDocuments]]. */
  val ChunkTokens = 24
  val ChunkStride = 16

  /** Overlapping token-window chunking — the embedding/RAG preparation
    * step ([[packSequences]] is its non-overlapping training twin): each
    * document yields windows of [[ChunkTokens]] tokens every
    * [[ChunkStride]], the final partial window kept iff it adds tokens
    * beyond the previous one (start < n). Row-local construction (the
    * explode is the row multiplier a chunker IS — at 100 TB the output is
    * deliberately ~1.5x the corpus and flows straight to the embedder,
    * never re-shuffled here).
    */
  def chunkDocuments(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val n = size(col("toks"))
    val nChunks = greatest(
      ceil((n - ChunkTokens).cast("double") / ChunkStride).cast("int") + 1,
      lit(1))
    docs
      .withColumn("toks", tokens(col("text")))
      .select(col("doc_id"), posexplode(
        transform(sequence(lit(0), nChunks - 1),
          i => struct(
            (i * ChunkStride + 1).as("start_tok"),
            array_join(slice(col("toks"), i * ChunkStride + 1, lit(ChunkTokens)), " ")
              .as("chunk")))))
      .select(col("doc_id"), col("pos").cast("int").as("chunk_id"),
        col("col.start_tok").as("start_tok"), col("col.chunk").as("chunk"))
      .orderBy("doc_id", "chunk_id")
  }

  /** Tokens per packed training sequence. */
  val PackBudget = 512

  /** Documents per packing shard: each (lang, shard) stream is packed by
    * its own window, so no reducer ever sees more than [[PackShardDocs]]
    * documents regardless of corpus size.
    */
  val PackShardDocs = 200

  /** Bin-namespace stride per shard: shard k owns bins
    * [k·stride, (k+1)·stride). 2^20 bins of [[PackBudget]] tokens is
    * ~5·10^8 tokens of namespace per shard — far above what
    * [[PackShardDocs]] documents can fill, so namespaces never collide.
    */
  val PackShardBins = 1L << 20

  /** Sequence packing: the tokenizer-adjacent step that concatenates the
    * document stream per language and cuts fixed [[PackBudget]]-token
    * training sequences — each document learns which sequence (bin) it
    * starts in and at which token offset. Pure window arithmetic over the
    * running token total: the exclusive prefix sum IS the document's token
    * position within its stream, so bin = position div budget and offset =
    * position mod budget — no iteration, no driver state, reproducible
    * from (lang, shard, doc_id) order alone.
    *
    * Scale shape: deterministic doc_id-range SHARDS within each language
    * ([[PackShardDocs]] docs per shard), window per (lang, shard), each
    * shard packing into its own bin namespace ([[PackShardBins]] stride).
    * A per-language window would serialize each language's whole corpus
    * through one reducer — the dominant language IS the corpus at 100 TB;
    * sharding bounds every window partition at a constant row count while
    * keeping the same arithmetic. The trade is declared, not hidden: the
    * last bin of each shard may be partially filled (bins never span a
    * shard boundary), the standard padding cost of parallel packing.
    */
  def packSequences(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val stream = Window.partitionBy(col("lang"), col("shard"))
      .orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    t(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        size(tokens(col("text"))).cast("long").as("n_tokens"),
        floor(col("doc_id") / PackShardDocs).cast("long").as("shard"))
      .withColumn("start_tok",
        coalesce(sum(col("n_tokens")).over(stream), lit(0L)))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("shard"),
        (col("shard") * PackShardBins + {
          // namespace-overflow guard: disjointness of per-shard bin ranges
          // assumes a shard's stream stays under PackShardBins·PackBudget
          // (~5·10^8) tokens; a shard of unusually large documents must
          // fail LOUDLY here, not silently pack into its neighbor's bins
          val binLocal = floor(col("start_tok") / PackBudget).cast("long")
          when(binLocal < PackShardBins, binLocal).otherwise(raise_error(
            format_string("pack shard overflow: start_tok=%d exceeds the " +
              s"$PackShardBins-bin namespace", col("start_tok"))))
        }).cast("long").as("bin"),
        (col("start_tok") % PackBudget).as("bin_offset"))
      .orderBy("doc_id")
  }

  /** Per-source keep rate and md5 percentile bucket — ONE definition for
    * the standalone mix query and the composed pipeline.
    */
  private[llm] def mixRatePct: org.apache.spark.sql.Column =
    (regexp_extract(col("source"), "src([0-9]+)", 1).cast("int") + 1) * 5
  private[llm] def mixBucket: org.apache.spark.sql.Column =
    md5Long(concat(lit("mix:"), col("doc_id").cast("string"))) % 100

  /** Source-mixture resampling: each source keeps a deterministic fraction
    * of its documents — the domain-reweighting step that turns raw corpus
    * proportions into a target training mixture. The keep/drop decision is
    * a salted-md5 percentile bucket of the doc_id (the train/val splitter's
    * mechanism — integer arithmetic, identical in any engine), so a
    * resample is reproducible from the key alone: no RNG state, no
    * sampling shuffle, row-local at scan speed.
    *
    * Here the per-source rate ramps linearly with the source index
    * ((idx+1)·5%, so src0 keeps 5% and src19 keeps all), exercising 20
    * distinct rates; a production run would broadcast-join the rates from
    * a mixture table instead.
    */
  def sourceMix(s: SparkSession, dir: String): DataFrame = {
    val ratePct = mixRatePct
    val bucket = mixBucket
    t(s, dir, "documents")
      // sources outside the src<N> naming get an explicit drop on BOTH
      // engines — without it Spark's '' → NULL cast silently filters while
      // DuckDB's CAST('' AS INT) errors, a confusing parity break
      .filter(col("source").rlike("src[0-9]+"))
      .select(col("doc_id"), col("source"),
        bucket.cast("int").as("bucket"), ratePct.as("rate_pct"))
      .filter(col("bucket") < col("rate_pct"))
      .orderBy("doc_id")
  }

  /** Fraction of the (mixable) corpus the temperature-weighted resample
    * targets, and the temperature itself. α = 0.5 is the square-root
    * temperature from multilingual-LM sampling (upweights small sources,
    * flattens the head); sqrt specifically because IEEE-754 sqrt is
    * correctly rounded in every engine, so the oracle needs no pow-ULP
    * apologies.
    */
  val MixTempBudgetFrac = 0.4

  /** Temperature-weighted source mixing: per-source sampling weights
    * `w_i = n_i^α / Σ n_j^α` (α = 0.5), a document budget of
    * [[MixTempBudgetFrac]]·N allocated proportional to `w_i`, and the
    * per-source keep rate `min(1, quota_i / n_i)` applied as a
    * deterministic md5-bucket keep/drop — the standard recipe for turning
    * raw corpus proportions into a temperature-flattened training mixture.
    *
    * Scale shape (what survives 100 TB): the only corpus-wide operations
    * are one per-source COUNT (a ~|sources|-row aggregate) and the final
    * scan-speed keep/drop; the weight normalization runs on the tiny
    * per-source frame (scalar crossJoin-broadcast, the repo's standard
    * single-row pattern) and the rates broadcast back — the corpus itself
    * is never shuffled and never sees a window.
    */
  def sourceMixTemperature(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamOps.mixTempStream(t(s, dir, "documents"),
        mixTempRates(s, dir))
      .orderBy("doc_id")

  /** The tiny per-source rate frame the temperature mix broadcasts:
    * (source, n_docs, mix_weight, keep_bp). Split out so the STREAMING
    * form can freeze rates from a corpus snapshot and probe them
    * stream-static ([[graft.streaming.StreamOps.mixTempStream]]).
    */
  def mixTempRates(s: SparkSession, dir: String): DataFrame = {
    // ~|sources| rows consumed twice (normalization scalar + rates): pin,
    // or the corpus-wide count scans the source column once per consumer
    val bySrc = Reuse(t(s, dir, "documents")
      .filter(col("source").rlike("src[0-9]+"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("w", sqrt(col("n_docs"))))
    // w_sum as an exact DECIMAL sum (the repo's standing cross-engine-sum
    // discipline): double addition is order-sensitive, and the partials'
    // merge order is not — one deterministic decimal→double conversion at
    // the end instead
    val totals = bySrc.agg(
      sum(col("n_docs")).as("n_total"),
      sum(col("w").cast("decimal(38,10)")).cast("double").as("w_sum"))
    bySrc.crossJoin(broadcast(totals))
      .select(col("source"), col("n_docs"),
        round(col("w") / col("w_sum"), 6).as("mix_weight"),
        // keep decision in basis points AFTER rounding, so both engines
        // compare the same integer (raw doubles would flip on ULP)
        round(least(lit(1.0),
          lit(MixTempBudgetFrac) * col("n_total") * col("w") / col("w_sum") /
            col("n_docs")) * 10000).cast("int").as("keep_bp"))
  }

  /** The row-local keep/drop decision of the temperature mix — ONE
    * definition for the batch and streaming forms (and the salt the
    * oracle mirrors).
    */
  private[graft] def mixTempKeep: org.apache.spark.sql.Column =
    md5Long(concat(lit("mixt:"), col("doc_id").cast("string"))) % 10000 <
      col("keep_bp")

  /** End-to-end CURATION chain composing this round's operators — the
    * proof the new pieces compose the way a corpus refresh would run them
    * (the preprocessing sibling, [[TextAnalysis.preprocessCorpus]], is the
    * dedup-centric chain):
    *
    *  1. bloom-accelerated DECONTAMINATION keeps only benchmark-clean
    *     corpus documents;
    *  2. model scoring with the quality cut CALIBRATED ON THE SURVIVORS
    *     (the percentile must describe the population it prunes —
    *     calibrating on the raw corpus would let contamination skew the
    *     threshold);
    *  3. source-MIXTURE resampling (row-local md5 keep/drop);
    *  4. train/val SPLIT assignment (row-local, leak-proof).
    *
    * Stages 3-4 are scan-speed column predicates; the chain's only wide
    * operations are stage 1's (broadcast-light) verify join and stage 2's
    * scalar percentile. Every stage's arithmetic is the declared single
    * definition of its standalone operator, so the composed oracle is
    * assembled from the same shared CTEs.
    */
  def pipelineCurate(s: SparkSession, dir: String): DataFrame = {
    val clean = bloomVerdicts(s, dir).filter(col("keep")).select("doc_id")
    // pinned: the surviving-population scores feed the percentile AND the
    // verdict projection
    val scored = Reuse(TextAnalysis.modelScored(s, dir)
      .join(clean, "doc_id")
      .select(col("doc_id"), col("raw_score")))
    val thr = scored.agg(
      round(percentile(col("raw_score"), lit(TextAnalysis.CutPercentile)), 4)
        .as("cutoff"))
    val kept = scored.crossJoin(broadcast(thr))
      .filter(col("raw_score") >= col("cutoff"))
    kept
      .join(t(s, dir, "documents").select(col("doc_id"), col("source")), "doc_id")
      .filter(col("source").rlike("src[0-9]+") && mixBucket < mixRatePct)
      .select(col("doc_id"), col("source"), col("raw_score"),
        TextAnalysis.splitCol(col("doc_id"), 90))
      .orderBy("doc_id")
  }

  // ---- DSIR-style importance resampling ---------------------------------

  /** Hashed-feature bucket count for [[dsirWeights]] — the DSIR paper
    * (Xie et al. 2023, "Data Selection for Language Models via Importance
    * Resampling") buckets hashed n-grams into a fixed-width feature space
    * (10k there); 1024 here, a knob. The bucket tables the estimator fits
    * are O(buckets) regardless of corpus size, so they broadcast at any
    * scale.
    */
  val DsirBuckets = 1024L

  /** The trusted target domain: documents from this source play the small
    * curated corpus (the paper's "target distribution") that the rest of
    * the pool — the raw distribution — is scored against.
    */
  val DsirTargetSource = "src0"

  /** Quantization constants: bucket probabilities are floored to an
    * integer ×1e9 grid, per-bucket likelihood ratios to ×1e6. Clearing
    * the paper's log-probability arithmetic to exact int64 floor-division
    * keeps every weight bit-reproducible by the differential oracle (no
    * libm, no double rounding). Exactness bounds: `1e9·(cnt+1)` and the
    * per-document weight sum must stay inside int64 — true through every
    * benchmark tier (≤1e17 at sf10-text); at a genuine 100 TB the O(1024)
    * ratio table would be fit driver-side in log space instead, the
    * per-document scoring pass unchanged.
    */
  val DsirProbScale = 1000000000L

  /** Ratio-grid width (see [[DsirProbScale]]). */
  val DsirRatioScale = 1000000L

  /** Selection quota for [[dsirSelect]]. */
  val DsirQuota = 200

  /** The hashed feature stream of one document: unigrams (`u:w`) and
    * adjacent-pair bigrams (`b:a b`), zipped-slice form (the
    * [[TextAnalysis]] bigram construction — O(n), never indexed
    * element_at). Row-local, codegen'd.
    */
  private[graft] def dsirFeatures(toksC: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    concat(
      transform(toksC, w => concat(lit("u:"), w)),
      zip_with(
        slice(toksC, lit(1), size(toksC) - 1),
        slice(toksC, lit(2), size(toksC) - 1),
        (a, b) => concat(lit("b:"), a, lit(" "), b)))

  /** Per-(document, bucket) hashed-feature counts with a caller-chosen
    * population flag — the one corpus text scan the DSIR and text-drift
    * queries share. One explode (2n−1 features per n-token document,
    * linear) into one map-side-combined aggregation keyed (doc_id,
    * bucket); nothing downstream touches text again.
    */
  private[graft] def featureBucketCounts(s: SparkSession, dir: String,
      flag: org.apache.spark.sql.Column): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), flag.as("is_target"),
        explode(dsirFeatures(tokens(col("text")))).as("f"))
      .select(col("doc_id"), col("is_target"),
        (md5Long(concat(lit("dsir:"), col("f"))) % DsirBuckets).as("bucket"))
      .groupBy(col("doc_id"), col("is_target"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))

  /** [[featureBucketCounts]] with DSIR's trusted-source flag. */
  private[graft] def dsirBucketCounts(s: SparkSession, dir: String): DataFrame =
    featureBucketCounts(s, dir, col("source") === DsirTargetSource)

  /** The fitted per-bucket importance ratio table: add-one-smoothed
    * target probability over raw probability, both on the
    * [[DsirProbScale]] grid, the ratio on the [[DsirRatioScale]] grid.
    * O([[DsirBuckets]]) rows from two O(buckets) aggregations of the
    * shared scan — it BROADCASTS onto the scoring pass at any corpus
    * size. All `div` floor-division on non-negative int64s (exact; the
    * `+1` on each quantized probability keeps the divisor nonzero even
    * for a bucket the target corpus never hits).
    */
  private[graft] def dsirRatios(fb: DataFrame): DataFrame = {
    val tc = fb.filter(col("is_target"))
      .groupBy(col("bucket")).agg(sum(col("cnt")).as("tc"))
    val rc = fb.filter(!col("is_target"))
      .groupBy(col("bucket")).agg(sum(col("cnt")).as("rc"))
    val scal = fb.agg(
      sum(when(col("is_target"), col("cnt")).otherwise(0L)).as("t_tot"),
      sum(when(!col("is_target"), col("cnt")).otherwise(0L)).as("r_tot"))
    rc.join(tc, Seq("bucket"), "left_outer")
      .crossJoin(broadcast(scal))
      .selectExpr("bucket",
        s"""(($DsirRatioScale * (($DsirProbScale * (coalesce(tc, CAST(0 AS BIGINT)) + 1)) div (t_tot + $DsirBuckets) + 1))
             div (($DsirProbScale * (rc + 1)) div (r_tot + $DsirBuckets) + 1)) AS ratio""")
  }

  /** DSIR importance weights for every raw-pool document: `weight` is
    * Σ over the document's hashed features of that bucket's importance
    * ratio (the paper's log-sum cleared to an exact integer ratio-sum),
    * `avg_ratio` the length-normalized floor mean — the resampling key.
    *
    * Scale shape: ONE text scan (the shared bucket-count aggregation,
    * cached for its two consumers: the ratio fit and the scoring pass);
    * the ratio table broadcasts; the per-document sum is the only other
    * shuffle, keyed doc_id. Nothing is all-pairs, nothing collects.
    */
  def dsirWeights(s: SparkSession, dir: String): DataFrame = {
    val fb = Reuse(dsirBucketCounts(s, dir))
    fb.filter(!col("is_target"))
      .join(broadcast(dsirRatios(fb)), Seq("bucket"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).cast("bigint").as("n_feats"),
        sum(col("cnt") * col("ratio")).cast("bigint").as("weight"))
      .selectExpr("doc_id", "n_feats", "weight",
        "weight div n_feats AS avg_ratio")
      .orderBy("doc_id")
  }

  /** DSIR selection: the [[DsirQuota]] raw-pool documents whose hashed
    * n-gram distribution best matches the target domain, by descending
    * length-normalized importance (doc_id tiebreak — fully deterministic,
    * the paper's Gumbel resampling replaced by top-quota for oracle
    * reproducibility). The top-K is an ordered limit over the weights
    * frame (TakeOrderedAndProject — per-partition heaps, never a global
    * sort), and only the K winners join back for their labels, as a
    * broadcast.
    */
  def dsirSelect(s: SparkSession, dir: String): DataFrame = {
    val top = dsirWeights(s, dir)
      .orderBy(col("avg_ratio").desc, col("doc_id"))
      .limit(DsirQuota)
    t(s, dir, "documents").select(col("doc_id"), col("lang"), col("source"))
      .join(broadcast(top), Seq("doc_id"))
      .select(col("doc_id"), col("lang"), col("source"),
        col("weight"), col("avg_ratio"))
      .orderBy(col("avg_ratio").desc, col("doc_id"))
  }

  /** Buckets reported by [[textDrift]]. */
  val DriftTopK = 50

  /** Text-corpus distribution drift — the text twin of the relational
    * `q_dq_drift` monitor: the hashed-feature distribution of the NEW
    * BATCH (every [[graft.llm.Dedup.IncrementModulus]]-th doc_id, the
    * library's standing new-batch convention) against the BASE corpus.
    * Per bucket: both counts, both probabilities on the exact
    * [[DsirProbScale]] integer grid, and the absolute probability gap;
    * the report is the [[DriftTopK]] most drifted buckets. A pipeline
    * alerts on this before a shifted crawl batch poisons the mixture.
    *
    * Scale shape: ONE text scan into the shared (doc, bucket)
    * aggregation ([[featureBucketCounts]], pinned for its three
    * consumers); everything downstream is O([[DsirBuckets]]) rows —
    * the full-outer bucket join, the scalar totals, and the ordered
    * limit are all constant-size regardless of corpus size.
    */
  def textDrift(s: SparkSession, dir: String): DataFrame = {
    val fb = Reuse(featureBucketCounts(s, dir,
      col("doc_id") % graft.llm.Dedup.IncrementModulus === 0))
    val base = fb.filter(!col("is_target"))
      .groupBy(col("bucket")).agg(sum(col("cnt")).as("n_base"))
    val nw = fb.filter(col("is_target"))
      .groupBy(col("bucket")).agg(sum(col("cnt")).as("n_new"))
    val scal = fb.agg(
      sum(when(!col("is_target"), col("cnt")).otherwise(0L)).as("base_tot"),
      sum(when(col("is_target"), col("cnt")).otherwise(0L)).as("new_tot"))
    base.join(nw, Seq("bucket"), "full_outer")
      .crossJoin(broadcast(scal))
      .selectExpr("bucket",
        "coalesce(n_base, CAST(0 AS BIGINT)) AS n_base",
        "coalesce(n_new, CAST(0 AS BIGINT)) AS n_new",
        s"($DsirProbScale * coalesce(n_base, CAST(0 AS BIGINT))) div base_tot"
          + " AS pb_x1e9",
        s"($DsirProbScale * coalesce(n_new, CAST(0 AS BIGINT))) div new_tot"
          + " AS pn_x1e9")
      .selectExpr("bucket", "n_base", "n_new", "pb_x1e9", "pn_x1e9",
        "abs(pn_x1e9 - pb_x1e9) AS drift_x1e9")
      .orderBy(col("drift_x1e9").desc, col("bucket"))
      .limit(DriftTopK)
      .orderBy(col("drift_x1e9").desc, col("bucket"))
  }

  /** The persisted fit artifact
    * [[graft.streaming.StreamOps.textDriftStream]] probes: the BASE
    * corpus's bucket probabilities on the [[DsirProbScale]] grid — the
    * same quantization as [[textDrift]]'s `pb_x1e9` column. One corpus
    * scan into O([[DsirBuckets]]) rows (pinned: the aggregate feeds both
    * its own total and the projection — 1024 rows, not a corpus pin).
    */
  def driftBaseProbs(s: SparkSession, dir: String): DataFrame = {
    val base = Reuse(featureBucketCounts(s, dir,
      col("doc_id") % graft.llm.Dedup.IncrementModulus === 0)
      .filter(!col("is_target"))
      .groupBy(col("bucket")).agg(sum(col("cnt")).as("n_base")))
    val scal = base.agg(sum(col("n_base")).as("base_tot"))
    base.crossJoin(broadcast(scal))
      .selectExpr("bucket", "n_base",
        s"($DsirProbScale * n_base) div base_tot AS pb_x1e9")
  }

  // ------------------------------------------------------------------
  // N-gram language-model perplexity filter (CCNet, Wenzek et al. 2020)
  // ------------------------------------------------------------------

  /** Probability-ratio grid for the LM scorer: 2^[[LmQBits]] (so the
    * floor-log2 of a gridded ratio is ≥ [[LmQBits]] and the per-token
    * bit count is exactly non-negative).
    */
  val LmQBits = 20

  /** Mantissa width for the log2 linear interpolation: bit counts are
    * reported in 1/256-bit units (`*_q8` columns).
    */
  val LmMantissa = 256L

  /** CCNet-style bigram language model + per-document cross-entropy, all
    * arithmetic on exact integer grids (the DSIR discipline — no libm, no
    * doubles anywhere): per language, an add-one-smoothed bigram model is
    * fitted on the TRUSTED slice (`source = `[[DsirTargetSource]]`, the
    * same convention DSIR uses for its target domain — CCNet's Wikipedia
    * role), and every raw-pool document is scored by its average
    * per-bigram "surprise" in 1/256-bit units.
    *
    * Per scored bigram (w1, w2) of language L:
    * `p = (c12+1) / (c1+V+1)` where c12/c1 are the trusted slice's bigram
    * and bigram-left counts and V the trusted vocabulary size (the +1
    * widens add-one smoothing to an OOV outcome, and guarantees
    * num ≤ den). Its bit count is `-log2 p`, computed EXACTLY as integers:
    * `ratio = (den << LmQBits) div num`, `b = floor_log2(ratio)` (the
    * binary-string length, identical in Spark and DuckDB `bin()`), and a
    * linear mantissa `frac = (ratio * 256) div 2^b - 256` — monotone in
    * the true ratio, reproducible bit-for-bit by the differential oracle.
    * Int64 bounds: `den << 20` needs den < 2^43 (trusted-slice bigrams —
    * holds through every tier at ~10^12 trusted tokens), `ratio * 256`
    * another 8 bits of the same headroom.
    *
    * Output: one row per raw-pool document with ≥ 2 tokens whose language
    * has a trusted slice to model (CCNet's "no LM for this language"
    * documents are unscoreable by construction): doc_id, lang, n_bigrams,
    * sum_bits_q8, and `ce_milli_q8 = (sum * 1000) div n` — cross-entropy
    * in milli-(1/256-bit) units, the bucketing key.
    *
    * Scale shape: the model is THREE map-side-combined aggregations over
    * the trusted slice's bigram stream (c12 keyed on a 16-byte digest of
    * `lang:w1 w2`, c1 on `lang:w1`, V one distinct-count per language) —
    * all bounded by the TRUSTED corpus, which is small relative to the
    * pool (the CCNet regime: Wikipedia vs Common Crawl), so the model
    * tables broadcast onto the scoring pass through moderate scale and
    * degrade to digest-keyed shuffle joins beyond it, never anything
    * all-pairs. The pool is scanned ONCE, exploded linearly into bigrams
    * (grams travel as digests + the doc_id), and reduced by one
    * doc_id-keyed aggregation. Nothing collects; nothing is quadratic.
    */
  /** The digest-keyed bigram stream of a (doc_id, lang, toks) frame —
    * shared by the batch scorer's fit and score sides and the streaming
    * probe (one definition of the keys, so the frozen model and the live
    * lookups can never drift apart).
    */
  private[graft] def lmBigrams(df: DataFrame): DataFrame = df
    .filter(size(col("toks")) >= 2)
    .select(col("doc_id"), col("lang"),
      explode(zip_with(
        slice(col("toks"), lit(1), size(col("toks")) - 1),
        slice(col("toks"), lit(2), size(col("toks")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
    .select(col("doc_id"), col("lang"),
      md5(concat(col("lang"), lit(":"), col("p.w1"), lit(" "),
        col("p.w2"))).as("bgh"),
      md5(concat(col("lang"), lit(":"), col("p.w1"))).as("lkh"))

  /** The (doc_id, lang, source, toks) scan the LM chain starts from. */
  private[graft] def lmTokens(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("source"),
        tokens(col("text")).as("toks"))

  /** The frozen LM model — the three fit artifacts a deployment persists
    * and the streaming probe rides: (bigram counts keyed on the bgh
    * digest, bigram-left counts keyed on lkh, per-language vocabulary
    * sizes). All bounded by the TRUSTED corpus.
    */
  private[graft] def lmModel(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val trusted = lmTokens(s, dir).filter(col("source") === DsirTargetSource)
    val tbg = lmBigrams(trusted)
    (tbg.groupBy(col("bgh")).agg(count(lit(1)).as("c12")),
      tbg.groupBy(col("lkh")).agg(count(lit(1)).as("c1")),
      trusted.select(col("lang"), explode(col("toks")).as("w"))
        .groupBy(col("lang")).agg(countDistinct(col("w")).as("v")))
  }

  /** The row-local exact bit-count pipeline over a joined frame carrying
    * (doc_id, lang, nullable c12, nullable c1, v): smoothing, the gridded
    * ratio, floor-log2 + mantissa → bits_q8. ONE definition for the batch
    * scorer and the streaming probe.
    */
  private[graft] def lmBitsFrom(joined: DataFrame): DataFrame = joined
    .selectExpr("doc_id", "lang",
      "coalesce(c12, CAST(0 AS BIGINT)) + 1 AS num",
      "coalesce(c1, CAST(0 AS BIGINT)) + v + 1 AS den")
    .selectExpr("doc_id", "lang",
      s"(den * ${1L << LmQBits}) div num AS ratio")
    .selectExpr("doc_id", "lang", "ratio",
      "length(bin(ratio)) - 1 AS b")
    .selectExpr("doc_id", "lang",
      s"(b - $LmQBits) * $LmMantissa" +
        s" + (ratio * $LmMantissa) div shiftleft(CAST(1 AS BIGINT), b)" +
        s" - $LmMantissa AS bits_q8")

  def lmScore(s: SparkSession, dir: String): DataFrame = {
    val (c12, c1, vx) = lmModel(s, dir)
    val pool = lmBigrams(
      lmTokens(s, dir).filter(col("source") =!= DsirTargetSource))
    lmBitsFrom(pool
      .join(broadcast(vx), Seq("lang"))
      .join(c12, Seq("bgh"), "left_outer")
      .join(c1, Seq("lkh"), "left_outer"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("bits_q8")).as("sum_bits_q8"))
      .selectExpr("doc_id", "lang", "n_bigrams", "sum_bits_q8",
        "(sum_bits_q8 * 1000) div n_bigrams AS ce_milli_q8")
      .orderBy("doc_id")
  }

  /** CCNet's head/middle/tail bucketing: every scored document labeled by
    * its language's cross-entropy TERCILE (ntile(3) ordered by
    * (ce_milli_q8, doc_id) — the tiebreak makes the boundary assignment
    * deterministic, replacing CCNet's sampled cutoffs for oracle
    * reproducibility). head = best fit to the trusted domain.
    *
    * Scale: one window over the SCORES frame, partitioned by language —
    * rows are (doc_id, ce) pairs, so even a 10^10-document language sorts
    * small fixed-width tuples, and the corpus text is never re-read.
    */
  def lmBuckets(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("ce_milli_q8"), col("doc_id"))
    lmScore(s, dir)
      .withColumn("nt", ntile(3).over(w))
      .selectExpr("doc_id", "lang", "ce_milli_q8",
        "CASE nt WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END"
          + " AS bucket")
      .orderBy("doc_id")
  }

  /** Per-language token budget for [[tokenBudgetSelect]] — the corpus
    * spec a mixture plan hands the selector ("this many tokens of each
    * language"), a constant so the oracle can replay the fill.
    */
  val LmTokenBudget = 2000L

  /** Budget-filled selection over the LM scores — the step that turns
    * the scorer into a corpus: per language, walk documents from best
    * (lowest cross-entropy) to worst and keep them until the language's
    * token budget is filled. A document is kept when the token mass
    * BEFORE it is still under [[LmTokenBudget]] (so the budget is always
    * reached when the pool allows, overshooting by at most one document
    * — the deterministic replacement for sampled quota fills).
    *
    * Scale shape: one doc_id-keyed join of two linear frames (scores ×
    * token counts), then one per-language running-sum window over
    * (ce, doc_id) — small fixed-width rows, the [[lmBuckets]] argument;
    * the kept set is budget-bounded, so everything downstream of the
    * filter is O(budget · languages) regardless of corpus size.
    */
  def tokenBudgetSelect(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toksz = t(s, dir, "documents")
      .select(col("doc_id"), size(tokens(col("text"))).cast("long")
        .as("n_toks"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("ce_milli_q8"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    lmScore(s, dir)
      .join(toksz, Seq("doc_id"))
      .withColumn("cum_before", coalesce(sum(col("n_toks")).over(w), lit(0L)))
      .filter(col("cum_before") < LmTokenBudget)
      .select(col("doc_id"), col("lang"), col("ce_milli_q8"), col("n_toks"),
        (col("cum_before") + col("n_toks")).as("cum_tokens"))
      .orderBy("doc_id")
  }

  /** The composed quality pipeline — the end-to-end chain a curation run
    * actually ships, each stage the ALREADY-DECLARED operator (one
    * definition site each, so the composition provably runs the graded
    * parts): benchmark decontamination ([[decontaminate]], exact-overlap
    * verdict) → LM tercile admission ([[lmBuckets]], CCNet's keep =
    * head+middle) → per-language best-first token-budget fill (the
    * [[tokenBudgetSelect]] rule over the ADMITTED set). Benchmark
    * documents themselves never reach the output (they are the held-out
    * set, not trainable mass).
    *
    * Scale shape: the stages compose by doc_id-keyed joins of linear
    * frames — no stage re-reads text the chain already scanned, the
    * admission verdicts ride as booleans, and the final fill inherits
    * [[tokenBudgetSelect]]'s budget-bounded output.
    */
  def pipelineQuality(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val clean = decontaminate(s, dir).filter(col("keep")).select("doc_id")
    val toksz = t(s, dir, "documents")
      .select(col("doc_id"), size(tokens(col("text"))).cast("long")
        .as("n_toks"))
    val admitted = lmBuckets(s, dir)
      .filter(col("bucket") =!= "tail")
      .join(clean, Seq("doc_id"))
      .join(toksz, Seq("doc_id"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("ce_milli_q8"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    admitted
      .withColumn("cum_before", coalesce(sum(col("n_toks")).over(w), lit(0L)))
      .filter(col("cum_before") < LmTokenBudget)
      .select(col("doc_id"), col("lang"), col("ce_milli_q8"), col("n_toks"),
        (col("cum_before") + col("n_toks")).as("cum_tokens"))
      .orderBy("doc_id")
  }

  /** The curation dashboard over [[lmBuckets]]: per (language, bucket),
    * document and token mass plus the bucket's cross-entropy range — what
    * a pipeline reads to pick its keep set (CCNet trains on head+middle)
    * and to size the result before committing to it.
    */
  def lmProfile(s: SparkSession, dir: String): DataFrame = {
    val toksz = t(s, dir, "documents")
      .select(col("doc_id"), size(tokens(col("text"))).cast("long")
        .as("n_toks"))
    lmBuckets(s, dir)
      .join(toksz, Seq("doc_id"))
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("tot_tokens"),
        min(col("ce_milli_q8")).as("min_ce"),
        max(col("ce_milli_q8")).as("max_ce"))
      .orderBy("lang", "bucket")
  }

  // ------------------------------------------------------------------
  // Excess-surprise selection (RHO-loss, Mindermann et al. 2022) and
  // n-gram novelty — the two-model / reference-set scoring tier
  // ------------------------------------------------------------------

  /** Documents kept by [[lmExcess]] — the selection quota, a constant so
    * the oracle can replay the ordered fill.
    */
  val LmExcessQuota = 200

  /** The exact integer bit-count expression over nullable count columns —
    * the [[lmBitsFrom]] arithmetic as a SQL string, parameterized so
    * [[lmExcess]] can score ONE bigram stream under TWO models in a
    * single projection (same smoothing, same grid, same floor-log2 +
    * linear mantissa; column-for-column the batch scorer's math).
    */
  private[graft] def lmBitsExpr(c12c: String, c1c: String,
      vc: String): String = {
    val num = s"(coalesce($c12c, CAST(0 AS BIGINT)) + 1)"
    val den = s"(coalesce($c1c, CAST(0 AS BIGINT)) + $vc + 1)"
    val ratio = s"(($den * ${1L << LmQBits}) div $num)"
    val b = s"(length(bin($ratio)) - 1)"
    s"(($b - $LmQBits) * $LmMantissa" +
      s" + ($ratio * $LmMantissa) div shiftleft(CAST(1 AS BIGINT), $b)" +
      s" - $LmMantissa)"
  }

  /** RHO-style excess-surprise selection (Mindermann et al. 2022's
    * reducible-holdout-loss rule at document granularity, the two bigram
    * models standing in for the training/reference pair): every raw-pool
    * document is scored under (a) the TRUSTED-slice model — the reference
    * that knows the target domain — and (b) a model fitted on the POOL
    * itself — the "already learned" estimate. `excess = ce_self − ce_ref`
    * is high exactly when the pool models a document poorly but the
    * reference models it well: learnable, in-domain, not yet represented
    * — the documents worth adding. Noise scores high under BOTH models
    * and cancels; boilerplate the pool already saturates scores low
    * under the self model. The [[LmExcessQuota]] highest-excess documents
    * are kept (doc_id tiebreak — deterministic, the oracle-replayable
    * stand-in for the paper's per-batch top-k).
    *
    * Both scores ride the [[lmBitsFrom]] exact integer grid — `ce_ref`
    * here equals [[lmScore]]'s `ce_milli_q8` row for row (pinned in
    * LmExcessSpec), so the excess column is grounded in the already-
    * decided scorer rather than a parallel reimplementation.
    *
    * Scale shape: ONE pool scan explodes to the bigram stream (cached —
    * the pool model's two count aggregations and the scoring join all
    * read it); the reference model is trusted-corpus-bounded and
    * broadcasts as before; the POOL model is pool-sized, so its c12/c1
    * tables join back digest-keyed (shuffle joins — never anything
    * all-pairs, and the join keys are the 16-byte digests the stream
    * already carries). The selection is an ordered limit
    * (TakeOrderedAndProject — per-partition heaps, no global sort).
    */
  def lmExcess(s: SparkSession, dir: String): DataFrame = {
    val (c12r, c1r, vr) = lmModel(s, dir)
    val pool = lmTokens(s, dir).filter(col("source") =!= DsirTargetSource)
    val pbg = Reuse(lmBigrams(pool))
    val c12s = pbg.groupBy(col("bgh")).agg(count(lit(1)).as("c12s"))
    val c1s = pbg.groupBy(col("lkh")).agg(count(lit(1)).as("c1s"))
    val vs = pool.select(col("lang"), explode(col("toks")).as("w"))
      .groupBy(col("lang")).agg(countDistinct(col("w")).as("vs"))
    pbg
      .join(broadcast(vr.withColumnRenamed("v", "vr")), Seq("lang"))
      .join(broadcast(vs), Seq("lang"))
      .join(c12r.withColumnRenamed("c12", "c12r"), Seq("bgh"), "left_outer")
      .join(c1r.withColumnRenamed("c1", "c1r"), Seq("lkh"), "left_outer")
      .join(c12s, Seq("bgh"), "left_outer")
      .join(c1s, Seq("lkh"), "left_outer")
      .select(col("doc_id"), col("lang"),
        expr(lmBitsExpr("c12r", "c1r", "vr")).as("bits_ref"),
        expr(lmBitsExpr("c12s", "c1s", "vs")).as("bits_self"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("bits_ref")).as("sum_ref"),
        sum(col("bits_self")).as("sum_self"))
      .selectExpr("doc_id", "lang", "n_bigrams",
        "(sum_ref * 1000) div n_bigrams AS ce_ref_milli_q8",
        "(sum_self * 1000) div n_bigrams AS ce_self_milli_q8",
        "(sum_self * 1000) div n_bigrams" +
          " - (sum_ref * 1000) div n_bigrams AS excess_milli_q8")
      .orderBy(col("excess_milli_q8").desc, col("doc_id"))
      .limit(LmExcessQuota)
      .orderBy(col("excess_milli_q8").desc, col("doc_id"))
  }

  /** N-gram novelty scoring (the memorization-risk / freshness metric a
    * pipeline reads before adding a crawl batch): for every raw-pool
    * document, the fraction of its DISTINCT word 3-gram shingles that do
    * not occur anywhere in the trusted reference slice — `novelty_x1e6`
    * on the exact ×1e6 integer grid. 0 = every shingle already known
    * (memorized/boilerplate relative to the reference), 1e6 = entirely
    * novel text. The graded counterpart of [[decontaminate]]'s boolean
    * overlap verdict, against the trusted slice rather than the
    * benchmark set.
    *
    * Documents too short to form a 3-gram (the `""` fallback shingle,
    * excluded on both sides as in [[decontaminate]]) are unscoreable by
    * construction and absent from the output.
    *
    * Scale shape: one scan of each side; the reference's distinct
    * shingle set is trusted-corpus-bounded and broadcasts (beyond the
    * broadcast budget the membership probe becomes a digest-keyed
    * shuffle join of two linear frames — never all-pairs); the per-doc
    * ratio is one doc_id-keyed aggregation. Shingles are distinct within
    * a document by construction, so the posting-join count IS the
    * distinct known-gram count.
    */
  /** The frozen reference artifact [[ngramNovelty]] probes and
    * [[graft.streaming.StreamOps.noveltyStream]] rides: the trusted
    * slice's DISTINCT shingle set with the membership marker — ONE
    * definition, so the batch scorer and the live probe can never
    * diverge on what "known" means.
    */
  def noveltyRef(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .filter(col("source") === DsirTargetSource)
      .select(explode(shingles3(tokens(col("text")))).as("gram"))
      .filter(col("gram") =!= "")
      .distinct()
      .withColumn("known", lit(1L))

  def ngramNovelty(s: SparkSession, dir: String): DataFrame = {
    val sh = t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("source"),
        shingles3(tokens(col("text"))).as("grams"))
    val ref = noveltyRef(s, dir)
    sh.filter(col("source") =!= DsirTargetSource)
      .select(col("doc_id"), col("lang"), explode(col("grams")).as("gram"))
      .filter(col("gram") =!= "")
      .join(broadcast(ref), Seq("gram"), "left_outer")
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("known"), lit(0L))).as("n_known"))
      .selectExpr("doc_id", "lang", "n_grams", "n_known",
        "((n_grams - n_known) * 1000000) div n_grams AS novelty_x1e6")
      .orderBy("doc_id")
  }

}
