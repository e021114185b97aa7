package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Reuse

/** Entity-resolution matching — fuzzy string joins with blocking
  * (SURVEY.md "beyond" tier). The reference reconciles records by exact
  * guid/name equality (odgovlt.py:216,248 get-by-name lookups); real-world
  * harvest sources misspell, so a production sync needs the approximate
  * form too.
  */
object MatchOps {
  import graft.Tables.{table => t}

  /** Candidate-pair edit-distance ceiling. */
  val MaxEditDistance = 4

  /** Length-bucket width for the salted block key. A pair within
    * [[MaxEditDistance]] edits differs in length by at most
    * [[MaxEditDistance]], so with bucket = len div [[LenBucket]] the two
    * buckets differ by AT MOST ONE — the staircase join below is
    * therefore lossless by construction, not by fixture luck.
    */
  val LenBucket = 4

  /** Candidate pairs under the SALTED block key — every same-first-token
    * pair whose length buckets are equal or adjacent, each produced
    * exactly once. The inputs must carry `p_name`; callers pass the
    * distinct name vocabulary.
    *
    * Mechanics (the standard staircase/band join): each name emits under
    * two keys, its own bucket and the next one up; candidates join on
    * `(blk, k)` EQUALITY — so a hot first-token block subdivides into
    * per-length-bucket shuffle keys instead of one giant block — and the
    * residual `k = greatest(bkt_a, bkt_b)` keeps exactly one copy of each
    * qualifying pair (equal buckets would otherwise match under both
    * shared keys).
    */
  private[graft] def candidatePairs(names: DataFrame): DataFrame = {
    val keyed = names
      .select(col("p_name"),
        split(col("p_name"), " ").getItem(0).as("blk"),
        (length(col("p_name")) / LenBucket).cast("int").as("bkt"))
      .select(col("p_name"), col("blk"), col("bkt"),
        explode(array(col("bkt"), col("bkt") + 1)).as("k"))
    keyed.as("a")
      .join(keyed.as("b"),
        col("a.blk") === col("b.blk") && col("a.k") === col("b.k") &&
          col("a.k") === greatest(col("a.bkt"), col("b.bkt")) &&
          col("a.p_name") < col("b.p_name"))
      .select(col("a.blk").as("blk"), col("a.p_name").as("name_a"),
        col("b.p_name").as("name_b"))
  }

  /** Fuzzy name matching with salted blocking: distinct part names,
    * blocked on (first token, length bucket), candidate pairs within a
    * block scored by Levenshtein distance (the full-matrix edit distance —
    * identical definition in Spark and DuckDB), kept when within
    * [[MaxEditDistance]].
    *
    * Scale design, in order of leverage:
    *  1. distinct() FIRST — the match runs over the name VOCABULARY, not
    *     the corpus (at 100 TB the distinct-name table is orders of
    *     magnitude smaller than the fact table);
    *  2. the block key turns the quadratic all-pairs into an equi-join —
    *     candidates only form inside a block, so cost is Σ |block|², not
    *     |names|²;
    *  3. the length-bucket SALT subdivides a hot token (think "the"): the
    *     shuffle key is `(blk, bucket)`, so a skewed block degrades to
    *     Σ |sub-block|·|adjacent| instead of |block|² — and the staircase
    *     is LOSSLESS because an edit distance ≤ [[MaxEditDistance]] bounds
    *     the length gap inside one bucket step (see [[LenBucket]]);
    *  4. `a < b` halves the pair space and canonicalizes output.
    */
  def fuzzyNameMatch(s: SparkSession, dir: String): DataFrame =
    candidatePairs(t(s, dir, "part").select(col("p_name")).distinct())
      .select(col("blk"), col("name_a"), col("name_b"),
        levenshtein(col("name_a"), col("name_b")).as("dist"))
      .filter(col("dist") <= MaxEditDistance)
      .orderBy("blk", "name_a", "name_b")

  /** Entity resolution end to end — [[fuzzyNameMatch]]'s pair stage
    * completed into ENTITIES, the way [[graft.llm.Dedup.dedupCanonical]]
    * completes SimHash pairs: fuzzy-similar names cluster by transitive
    * connectivity ("Smlth" links "Smith" to "Smyth" even when those two
    * sit 5 edits apart), every name gets an `entity_id`, and the entity's
    * canonical spelling is its label member's — the master-data golden
    * record a harvest sync would reconcile misspelled sources against.
    *
    * The closure runs on LONG surrogates, not strings: each distinct name
    * takes `min(p_partkey)` of its rows as node id (one aggregate — no
    * global row_number bottleneck, no hash-collision risk), which is
    * exactly the shape [[graft.llm.Dedup.connectedComponents]] already
    * audits at scale (O(log diameter) pointer-jumping rounds over
    * two-long rows). Pair generation inherits the salted staircase
    * blocking; the canonical-name attach is two vocabulary-sized narrow
    * joins. The corpus (part table) contributes one distinct + min
    * aggregate and is never touched again.
    */
  def entityResolve(s: SparkSession, dir: String): DataFrame = {
    val names = Reuse(t(s, dir, "part")
      .groupBy(col("p_name")).agg(min(col("p_partkey")).as("nid")))
    val edges = candidatePairs(names.select(col("p_name")))
      .filter(levenshtein(col("name_a"), col("name_b")) <= MaxEditDistance)
      .join(names.select(col("p_name").as("name_a"), col("nid").as("a_id")),
        Seq("name_a"))
      .join(names.select(col("p_name").as("name_b"), col("nid").as("b_id")),
        Seq("name_b"))
      .select(col("a_id"), col("b_id"))
    val comp = graft.llm.Dedup.connectedComponents(
      names.select(col("nid").as("doc_id")), edges)
    comp
      .join(names.select(col("nid").as("doc_id"), col("p_name")),
        Seq("doc_id"))
      .join(names.select(col("nid").as("component"),
        col("p_name").as("canonical_name")), Seq("component"))
      .select(col("p_name"), col("doc_id").as("name_id"),
        col("component").as("entity_id"), col("canonical_name"),
        (col("doc_id") === col("component")).as("is_canonical"))
      .orderBy("name_id")
  }
}
