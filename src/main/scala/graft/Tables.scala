package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the harness star schema (see FIXTURES.md §2).
  *
  * Mirrors the reference's table registry (`/root/reference/odgovlt.py:149-158`,
  * a namedtuple of reflected SQLAlchemy tables) — here each table is a
  * DataFrame whose schema comes from the Parquet footer (self-describing,
  * the analog of `meta.reflect()` at `/root/reference/odgovlt.py:147-148`).
  *
  * Scale notes: Parquet scans are vectorized and column-pruned by Catalyst;
  * at 100 TB the same loaders work unchanged — partition discovery and
  * predicate pushdown happen at the scan, and dimension tables stay
  * broadcast-sized relative to facts.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Guards the scoped nanosAsLong conf flip in [[table]]: the session
    * conf is shared, so two concurrent `table(_, _, "events")` calls
    * (parallel test suites, streaming+batch on one session) could otherwise
    * race the restore and leave the flag flipped for unrelated reads.
    */
  private val nanosConfLock = new Object

  /** Read one table from a scale-factor directory.
    *
    * `events.ts` is written as Parquet TIMESTAMP(NANOS), which Spark 4 has
    * no native type for — read it as nanos-since-epoch long (legacy conf)
    * and surface a proper micros `TimestampType` column, so downstream
    * window/stream operators see a real timestamp.
    */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    if (name == "events") {
      // scoped conf flip: needed only while the footer schema is inferred
      // (eager inside read.parquet); restored so the session's behavior for
      // OTHER nanos-parquet reads is not silently changed by this library.
      // Serialized via the lock — concurrent graft readers see a consistent
      // conf; readers outside this object are documented to not touch it.
      val key = "spark.sql.legacy.parquet.nanosAsLong"
      val df = nanosConfLock.synchronized {
        val prior = spark.conf.getOption(key)
        spark.conf.set(key, "true")
        try spark.read.parquet(s"$sfDir/$name.parquet")
        finally prior match {
          case Some(v) => spark.conf.set(key, v)
          case None => spark.conf.unset(key)
        }
      }
      // only the harness layout needs conversion; an events table written
      // with a real timestamp column passes through untouched
      df.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          // integer DIV, not `/`: double division loses the low microsecond
          // on 19-digit nanos values
          df.withColumn("ts",
            org.apache.spark.sql.functions.timestamp_micros(
              org.apache.spark.sql.functions.expr("ts DIV 1000")))
        case org.apache.spark.sql.types.TimestampNTZType =>
          // TIMESTAMP(isAdjustedToUTC=false, MICROS) infers as NTZ; the
          // harness timeline is logically UTC and every graft session pins
          // spark.sql.session.timeZone=UTC, so the cast re-tags the same
          // micros value as an instant — no wall-clock arithmetic happens.
          // Needed because window/stream/unix_micros operators take
          // TIMESTAMP, not TIMESTAMP_NTZ.
          df.withColumn("ts",
            df("ts").cast(org.apache.spark.sql.types.TimestampType))
        case _ => df
      }
    } else {
      spark.read.parquet(s"$sfDir/$name.parquet")
    }
  }
}
