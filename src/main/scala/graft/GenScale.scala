package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev tool: synthesize a larger scale factor from an existing harness
  * directory by DETERMINISTIC replication — the empirical half of the
  * 100-TB story (the plan shapes are audited in PLANS.md; this produces
  * the data to measure them on).
  *
  *   sbt "runMain graft.GenScale /root/testdata/sf0.1 data/sf1 10"
  *
  * Construction (no RNG anywhere — same bytes on every run): `copies`
  * variants of the source, variant 0 verbatim, variant k > 0 with
  *
  *  - every key offset by k·10^d (d per key domain, far above the source
  *    max) so the k FK-consistent copies are disjoint: the co-purchase
  *    graph becomes k disjoint isomorphic components, order/customer
  *    chains stay joinable within their copy;
  *  - every `documents.text` passed through a per-variant alphabet
  *    ROTATION (`translate` over the single 52-cycle a–zA–Z by k, a
  *    byte-level bijection; one ring rather than two parallel 26-cycles
  *    so up to 52 variants stay distinct): lengths, token boundaries,
  *    frequency shape, and within-variant similarity structure are
  *    EXACTLY the source's (rotation is an isomorphism on both token
  *    vocabulary and byte shingles), while cross-variant token
  *    vocabularies AND byte shingles are disjoint —
  *    so total near-dup structure scales exactly ×k at the word and the
  *    byte level, the right null hypothesis for a near-linear-growth
  *    measurement. (A first cut suffixed each token `~k` instead: word
  *    vocabularies separated but 8-byte shingles inside common words
  *    still collided across variants, which handed every source doc 10
  *    genuine byte-level near-dup variants — duplicate clusters and true
  *    candidate pairs grew QUADRATICALLY in k, and the byte-level LSH
  *    paid for real pairs, 23× at 10×. The rotation removes the
  *    cross-variant duplicates the replication itself had planted.);
  *  - customer/supplier names suffixed `~k` (the member-edge graph's
  *    node identity is the NAME, not the key);
  *  - `embeddings.embedding` with dimension (k−1) mod 64 sign-flipped
  *    (norms and within-variant geometry preserved, variants pushed into
  *    distinct half-spaces; only variant 0 holds the vec_id < NQueries
  *    query set — corpus grows ×k, query load stays fixed, the serving
  *    shape).
  *
  * region/nation stay verbatim (broadcast dims — at any real scale these
  * stay small; FK targets remain valid for every copy).
  */
/** Dev tool: derive a deterministically SKEWED variant of a harness
  * directory — the 100-TB reality check the replicated sf1 tier is blind
  * to by construction (GenScale's copies are uniform; production key
  * distributions are zipfian). Every other table is copied verbatim;
  * the three hot fact FKs collapse half their rows onto the head key:
  *
  *  - `orders.o_custkey`   → head customer for even o_orderkey
  *  - `lineitem.l_partkey` → head part for even (l_orderkey + l_linenumber)
  *  - `events.user_id`     → head user for even event_id
  *  - `documents.lang`     → modal language for even doc_id (round 12:
  *    the band-bucket skew tier for the lang-blocked dedup chains)
  *
  * Half-on-one-key is the worst SINGLE-hot-key shape — the case AQE
  * skew-join splitting and the SkewOps salted paths exist for; a
  * heavy-tailed mixture would soften the hotspot, not sharpen the test.
  * The collapse predicate reads each row's own PK (no RNG — same bytes
  * every run), so rebuilding the directory is byte-deterministic.
  * Results of queries over the skewed directory legitimately differ
  * from the uniform directory — this tier is TIMING-only (BENCH_skew);
  * the oracle gates keep running on the driver's uniform testdata.
  */
object GenSkew {
  /** Even PKs re-point at the head key: exactly half the rows, spread
    * evenly through the file so every scan partition carries hot rows.
    */
  def collapse(pk: org.apache.spark.sql.Column,
      fk: org.apache.spark.sql.Column, head: Long): org.apache.spark.sql.Column =
    when(pk % 2 === 0, lit(head)).otherwise(fk)

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dst = args(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.local(s"local[$cpus]", cpus.toInt)
    def t(n: String) = Tables.table(spark, src, n)
    def head(table: String, key: String): Long =
      t(table).agg(min(col(key).cast("long"))).head().getLong(0)
    val hc = head("customer", "c_custkey")
    val hp = head("part", "p_partkey")
    val hu = hc // events.user_id joins customer.c_custkey — same head key
    // the documents corpus gets a LANGUAGE hot key: even doc_ids collapse
    // onto the modal language (deterministic: count desc, lang asc), so
    // the lang-blocked dedup chains (simhash banding, ngram blocking) see
    // their band/block buckets concentrated while the content-keyed
    // chains (minhash LSH) keep their key spread — exactly the band-skew
    // split BENCH_skew is meant to expose
    val hl = t("documents").groupBy(col("lang")).count()
      .orderBy(col("count").desc, col("lang")).head().getString(0)
    def write(df: DataFrame, n: String): Unit = {
      GenWrite.write(df, s"$dst/$n.parquet", GenWrite.splitKey(n))
      println(s"[genskew] $n: ${spark.read.parquet(s"$dst/$n.parquet").count()} rows")
    }
    Seq("region", "nation", "customer", "supplier", "part",
      "embeddings").foreach(n => write(t(n), n))
    write(t("documents").withColumn("lang",
      when(col("doc_id") % 2 === 0, lit(hl)).otherwise(col("lang"))),
      "documents")
    write(t("orders").withColumn("o_custkey",
      collapse(col("o_orderkey"), col("o_custkey"), hc)), "orders")
    write(t("lineitem").withColumn("l_partkey",
      collapse(col("l_orderkey") + col("l_linenumber"), col("l_partkey"), hp)),
      "lineitem")
    write(t("events").withColumn("user_id",
      collapse(col("event_id"), col("user_id"), hu)), "events")
    spark.stop()
  }
}

/** Shared writer for the generated fixture tiers: multiple output files
  * (range-partitioned on the table's PK — deterministic content per file)
  * with a small parquet block size, so every generated table lands with
  * MULTIPLE row groups. The driver's own fixtures are one-row-group
  * parquet — unsplittable, so every scan stage is single-core regardless
  * of local[32] (the distortion that hid 8× in the codec tier until the
  * explicit id fan-out); generated tiers must not replicate it, or
  * parallelism bugs stay invisible at every measured scale.
  *
  * Knobs: `SPARK_GRAFT_GEN_FILES` (default 8 output files per table) and
  * `SPARK_GRAFT_GEN_BLOCK_BYTES` (default 4 MiB parquet block size — at
  * fixture scale a table file is a few MiB to ~100 MiB, so the default
  * yields one-to-dozens of row groups per FILE on the fact tables while
  * the file count alone already guarantees ≥8 splittable scan units).
  * Dimension tables with fewer rows than files simply produce some empty
  * splits — harmless.
  */
object GenWrite {
  /** PK per harness table — the range-partitioning key that keeps file
    * contents deterministic run-over-run (round-robin repartition is not).
    */
  val splitKeys: Map[String, String] = Map(
    "region" -> "r_regionkey", "nation" -> "n_nationkey",
    "customer" -> "c_custkey", "supplier" -> "s_suppkey",
    "part" -> "p_partkey", "orders" -> "o_orderkey",
    "lineitem" -> "l_orderkey", "events" -> "event_id",
    "documents" -> "doc_id", "embeddings" -> "vec_id")

  def splitKey(table: String): String = splitKeys(table)

  def write(df: DataFrame, path: String, key: String): Unit = {
    val files = sys.env.getOrElse("SPARK_GRAFT_GEN_FILES", "8").toInt
    val block = sys.env.getOrElse("SPARK_GRAFT_GEN_BLOCK_BYTES",
      (4 * 1024 * 1024).toString)
    df.repartitionByRange(files, org.apache.spark.sql.functions.col(key))
      .write.mode("overwrite")
      .option("parquet.block.size", block)
      .parquet(path)
  }
}

object GenScale {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dst = args(1)
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.local(s"local[$cpus]", cpus.toInt)

    // construction limits: the rotation ring is the 52-letter a–zA–Z
    // cycle (the text corpus is letters+whitespace only — no digits or
    // punctuation to extend the ring with), so past 52 copies the
    // rotation repeats (variant 52 ≡ variant 0) and cross-variant text
    // duplicates return — the exact failure SCALE.md documents; fail
    // loud instead. This is a HARD cap of the disjoint-variant
    // construction: every per-char bijection on this corpus lives in the
    // 52-cycle, and every non-per-char scheme tried (token suffixes,
    // token prefixes) leaves common-word byte shingles colliding across
    // variants, planting quadratic near-dup structure the measurement
    // exists to rule out. Largest honest replicated tier from sf0.1:
    // 52 copies ≈ sf5. PAST 52 copies use graft.GenText — the token-level
    // remap into per-variant disjoint synthetic wordlists (and
    // signed-permutation embeddings), which has no per-char-bijection cap;
    // this rotation construction stays for tiers where byte-level text
    // identity with the source matters (same tokens, same hashes).
    require(copies >= 1 && copies <= 52,
      s"copies=$copies: the 52-letter rotation ring supports at most " +
        "52 distinct variants (use graft.GenText past that)")

    // key-domain offsets derived from the ACTUAL source maxima (one
    // order-of-magnitude headroom), not hardcoded to sf0.1's ranges — so
    // scaling any directory, including GenScale's own output, stays
    // collision-free by construction
    def maxOf(table: String, keyCol: String): Long =
      Tables.table(spark, src, table)
        .agg(max(col(keyCol).cast("long"))).head().getLong(0)
    def offsetAbove(mx: Long): Long = {
      var o = 10L
      while (o <= mx) o *= 10
      o
    }
    val C = offsetAbove(maxOf("customer", "c_custkey"))
    val O = offsetAbove(maxOf("orders", "o_orderkey"))
    val P = offsetAbove(maxOf("part", "p_partkey"))
    val S = offsetAbove(maxOf("supplier", "s_suppkey"))
    val D = offsetAbove(maxOf("documents", "doc_id"))
    val V = offsetAbove(maxOf("embeddings", "vec_id"))
    val E = offsetAbove(maxOf("events", "event_id"))
    // events.user_id joins against customer.c_custkey (the erasure /
    // privacy queries) — its per-variant offset must be the CUSTOMER
    // offset, not one derived from its own (smaller) max, or variant-k
    // user_ids alias variant-0 custkeys and the "k disjoint FK-consistent
    // copies" invariant silently breaks for events-to-customer joins
    require(maxOf("events", "user_id") < C,
      s"events.user_id exceeds the customer key offset $C — " +
        "user-to-customer correspondence cannot replicate per variant")
    // the binary tier's re-ingested asset slice lives at doc_id +
    // ReingestOffset; scaled doc_ids crossing into that space would make
    // mmDedup/mmFrames misclassify real docs as injected duplicates
    require(D * copies <= graft.ops.MultimodalOps.ReingestOffset,
      s"doc_id offset $D x $copies copies crosses ReingestOffset " +
        s"(${graft.ops.MultimodalOps.ReingestOffset}) — shrink copies or " +
        "raise the offset constant")

    def t(n: String) = Tables.table(spark, src, n)
    def variants(df: DataFrame)(f: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until copies).map(k => f(df, k)).reduce(_ unionByName _)
    def write(df: DataFrame, n: String): Unit = {
      GenWrite.write(df, s"$dst/$n.parquet", GenWrite.splitKey(n))
      println(s"[genscale] $n: ${spark.read.parquet(s"$dst/$n.parquet").count()} rows")
    }
    def sfx(c: org.apache.spark.sql.Column, k: Int) =
      if (k == 0) c else concat(c, lit(s"~$k"))

    write(t("region"), "region")
    write(t("nation"), "nation")
    write(variants(t("customer")) { (df, k) =>
      df.select((col("c_custkey") + k * C).as("c_custkey"),
        sfx(col("c_name"), k).as("c_name"),
        col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))
    }, "customer")
    write(variants(t("supplier")) { (df, k) =>
      df.select((col("s_suppkey") + k * S).as("s_suppkey"),
        sfx(col("s_name"), k).as("s_name"),
        col("s_nationkey"), col("s_acctbal"))
    }, "supplier")
    write(variants(t("part")) { (df, k) =>
      df.select((col("p_partkey") + k * P).as("p_partkey"),
        col("p_name"), col("p_brand"), col("p_type"), col("p_size"),
        col("p_retailprice"))
    }, "part")
    write(variants(t("orders")) { (df, k) =>
      df.select((col("o_orderkey") + k * O).as("o_orderkey"),
        (col("o_custkey") + k * C).as("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
        col("o_orderpriority"))
    }, "orders")
    write(variants(t("lineitem")) { (df, k) =>
      df.select((col("l_orderkey") + k * O).as("l_orderkey"),
        (col("l_partkey") + k * P).as("l_partkey"),
        (col("l_suppkey") + k * S).as("l_suppkey"),
        col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
        col("l_discount"), col("l_tax"), col("l_returnflag"),
        col("l_linestatus"), col("l_shipdate"))
    }, "lineitem")
    write(variants(t("events")) { (df, k) =>
      df.select((col("event_id") + k * E).as("event_id"), col("ts"),
        (col("user_id") + k * C).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }, "events")
    write(variants(t("documents")) { (df, k) =>
      // ONE 52-cycle over a–zA–Z (not two parallel 26-cycles): 52
      // distinct per-char bijections, all mutually shingle-disjoint on a
      // letters-only corpus — variants 26..51 run lowercase into the
      // uppercase half of the ring
      val ring = "abcdefghijklmnopqrstuvwxyz" +
        "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
      def rot(s: String) = s.drop(k % 52) + s.take(k % 52)
      val text =
        if (k == 0) col("text")
        else translate(col("text"), ring, rot(ring))
      df.select((col("doc_id") + k * D).as("doc_id"), text.as("text"),
        col("lang"), col("source"))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .select("doc_id", "text", "lang", "source", "n_chars")
    }, "documents")
    write(variants(t("embeddings")) { (df, k) =>
      val emb =
        if (k == 0) col("embedding")
        else {
          val flip = (k - 1) % 64
          transform(col("embedding"), (x, i) =>
            when(i === flip, -x).otherwise(x))
        }
      df.select((col("vec_id") + k * V).as("vec_id"),
        emb.cast("array<float>").as("embedding"), col("label"))
    }, "embeddings")

    spark.stop()
  }
}
