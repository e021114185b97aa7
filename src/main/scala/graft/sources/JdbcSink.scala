package graft.sources

import org.apache.spark.sql.{DataFrame, Row}
import java.sql.{Connection, DriverManager, PreparedStatement}

/** K3/K4 production sinks: the reference upserts every package/user/org into
  * CKAN one REST call at a time (`/root/reference/odgovlt.py:205-211,
  * 249-257,407`); the engine's equivalent writes set-oriented results back
  * over JDBC.
  *
  * Spark computes the create/update/delete sets
  * ([[graft.SyncPipeline.classifyAgainst]]); [[JdbcActionSink]] applies the
  * creates and the updates with `upsert` — a row-atomic upsert statement,
  * so a replayed create is not a duplicate-key failure, shaped per dialect
  * (see [[JdbcSink.Dialect]]) — and the deletes with `deleteByKey`.
  * `append` is the plain connector write, for rows known to be absent.
  *
  * Partition-parallel: `upsert` and `deleteByKey` share one write loop in
  * which every executor holds one connection and writes its partition in
  * `batchSize` chunks. Exercised end-to-end against embedded
  * Derby in JdbcSpec; the MySQL dialect is compile-checked only (no MySQL
  * server in the harness).
  */
object JdbcSink {

  /** Target-dialect specifics: identifier quoting and the row-atomic upsert
    * statement. Row values are always bound as parameters — the dialect only
    * shapes identifiers and statement structure.
    */
  sealed trait Dialect {
    /** Quote one identifier. */
    def quote(ident: String): String

    /** Quote a possibly schema-qualified table name part-by-part. */
    final def qualify(table: String): String =
      table.split('.').map(quote).mkString(".")

    /** The upsert statement and the bind order: for each `?` in the SQL,
      * the index of the row column to bind.
      */
    def upsertStatement(table: String, cols: Seq[String],
        keyCols: Seq[String]): (String, Seq[Int])

    /** Insert-if-absent (get-or-create): existing rows are left UNTOUCHED —
      * unlike upsert, no field is overwritten. Same (sql, bind order)
      * contract as [[upsertStatement]].
      */
    def insertIfAbsentStatement(table: String, cols: Seq[String],
        keyCols: Seq[String]): (String, Seq[Int])
  }

  /** MySQL / MariaDB: INSERT ... ON DUPLICATE KEY UPDATE; backtick quoting
    * (identifiers from DataFrame schemas may be reserved words).
    */
  case object MySqlDialect extends Dialect {
    override def quote(ident: String): String =
      "`" + ident.replace("`", "``") + "`"

    override def upsertStatement(table: String, cols: Seq[String],
        keyCols: Seq[String]): (String, Seq[Int]) = {
      val updateCols = cols.filterNot(keyCols.contains)
      val sql = s"INSERT INTO ${qualify(table)} (${cols.map(quote).mkString(", ")}) VALUES " +
        s"(${cols.map(_ => "?").mkString(", ")}) " +
        s"ON DUPLICATE KEY UPDATE ${updateCols.map(c => s"${quote(c)} = VALUES(${quote(c)})").mkString(", ")}"
      (sql, cols.indices)
    }

    override def insertIfAbsentStatement(table: String, cols: Seq[String],
        keyCols: Seq[String]): (String, Seq[Int]) = {
      // NOT `INSERT IGNORE`: IGNORE downgrades EVERY insert error (data
      // truncation, NOT NULL, FK violations) to a warning, so a genuinely
      // failed bootstrap insert would silently no-op. ON DUPLICATE KEY
      // UPDATE key=key no-ops ONLY on the duplicate-key case and still
      // raises everything else.
      require(keyCols.nonEmpty,
        "insertIfAbsentStatement: at least one key column required")
      val k = quote(keyCols.head)
      val sql = s"INSERT INTO ${qualify(table)} " +
        s"(${cols.map(quote).mkString(", ")}) VALUES " +
        s"(${cols.map(_ => "?").mkString(", ")}) " +
        s"ON DUPLICATE KEY UPDATE $k = $k"
      (sql, cols.indices)
    }
  }

  /** Derby / DB2 family: ANSI MERGE keyed off the one-row SYSIBM.SYSDUMMY1
    * dummy table (Derby's MERGE source must be a base table or table
    * function, so the per-row values ride in as parameters of the ON /
    * UPDATE / INSERT clauses). Unquoted Derby DDL folds identifiers to
    * uppercase, so quoting here uppercases to match — tables created with
    * quoted mixed-case names need their exact case passed in.
    */
  case object DerbyDialect extends Dialect {
    override def quote(ident: String): String =
      "\"" + ident.toUpperCase.replace("\"", "\"\"") + "\""

    override def upsertStatement(table: String, cols: Seq[String],
        keyCols: Seq[String]): (String, Seq[Int]) = {
      val updateCols = cols.filterNot(keyCols.contains)
      val matched =
        if (updateCols.isEmpty) ""
        else " WHEN MATCHED THEN UPDATE SET " +
          updateCols.map(c => s"${quote(c)} = ?").mkString(", ")
      val sql = s"MERGE INTO ${qualify(table)} t USING SYSIBM.SYSDUMMY1 ON " +
        keyCols.map(k => s"t.${quote(k)} = ?").mkString("(", " AND ", ")") +
        matched +
        s" WHEN NOT MATCHED THEN INSERT (${cols.map(quote).mkString(", ")})" +
        s" VALUES (${cols.map(_ => "?").mkString(", ")})"
      val order = keyCols.map(cols.indexOf) ++ updateCols.map(cols.indexOf) ++ cols.indices
      (sql, order)
    }

    override def insertIfAbsentStatement(table: String, cols: Seq[String],
        keyCols: Seq[String]): (String, Seq[Int]) = {
      require(keyCols.nonEmpty,
        "insertIfAbsentStatement: at least one key column required")
      val sql = s"MERGE INTO ${qualify(table)} t USING SYSIBM.SYSDUMMY1 ON " +
        keyCols.map(k => s"t.${quote(k)} = ?").mkString("(", " AND ", ")") +
        s" WHEN NOT MATCHED THEN INSERT (${cols.map(quote).mkString(", ")})" +
        s" VALUES (${cols.map(_ => "?").mkString(", ")})"
      (sql, keyCols.map(cols.indexOf) ++ cols.indices)
    }
  }

  /** Plain append through the built-in connector, for rows known to be
    * absent from the target.
    */
  def append(df: DataFrame, url: String, table: String): Unit =
    df.write.mode("append").format("jdbc")
      .option("url", url).option("dbtable", table).save()

  /** Row-atomic upsert batched per partition. Key columns participate in
    * the insert; update applies to the non-key columns only, mirroring the
    * reference's patch-if-exists semantics.
    */
  def upsert(df: DataFrame, url: String, table: String, keyCols: Seq[String],
      batchSize: Int = 500, dialect: Dialect = MySqlDialect): Unit = {
    val cols = df.schema.fieldNames.toSeq
    val missing = keyCols.filterNot(cols.contains)
    require(missing.isEmpty,
      s"upsert: key column(s) ${missing.mkString(", ")} not in DataFrame schema")
    val (sql, bindOrder) = dialect.upsertStatement(table, cols, keyCols)
    batched(df, url, sql, batchSize) { (st, r) =>
      bindOrder.zipWithIndex.foreach { case (colIdx, paramIdx) =>
        st.setObject(paramIdx + 1, r.get(colIdx))
      }
    }
  }

  /** K6: the harvest-user bootstrap (`/root/reference/odgovlt.py:160-181`)
    * — get-or-create a single configuration row before the sync runs. A
    * driver-side, idempotent side effect (one connection, one statement):
    * the row is inserted only if its key is absent; an existing row is
    * never modified, matching the reference's lookup-then-create.
    */
  def ensureRow(url: String, table: String, cols: Seq[String],
      keyCols: Seq[String], row: Seq[Any],
      dialect: Dialect = MySqlDialect): Unit = {
    require(cols.length == row.length,
      s"ensureRow: ${cols.length} columns but ${row.length} values")
    require(keyCols.nonEmpty, "ensureRow: at least one key column required")
    val missing = keyCols.filterNot(cols.contains)
    require(missing.isEmpty,
      s"ensureRow: key column(s) ${missing.mkString(", ")} not in $cols")
    val (sql, bindOrder) = dialect.insertIfAbsentStatement(table, cols, keyCols)
    val conn = DriverManager.getConnection(url)
    try {
      val st = conn.prepareStatement(sql)
      try {
        bindOrder.zipWithIndex.foreach { case (colIdx, paramIdx) =>
          st.setObject(paramIdx + 1, row(colIdx).asInstanceOf[AnyRef])
        }
        st.executeUpdate()
      } finally st.close()
    } finally conn.close()
  }

  /** Delete-set application (K5): one DELETE per key batch. */
  def deleteByKey(df: DataFrame, url: String, table: String, keyCol: String,
      batchSize: Int = 500, dialect: Dialect = MySqlDialect): Unit = {
    val sql = s"DELETE FROM ${dialect.qualify(table)} WHERE ${dialect.quote(keyCol)} = ?"
    batched(df.select(keyCol), url, sql, batchSize)((st, r) => st.setObject(1, r.get(0)))
  }

  /** The one per-partition write loop: one connection per non-empty
    * partition, autocommit off, `sql` prepared once, each row bound by
    * `bind` and batched, a commit every `batchSize` rows and at the end.
    */
  private def batched(df: DataFrame, url: String, sql: String, batchSize: Int)(
      bind: (PreparedStatement, Row) => Unit): Unit =
    df.foreachPartition { rows: Iterator[Row] =>
      if (rows.nonEmpty) {
        val conn: Connection = DriverManager.getConnection(url)
        try {
          conn.setAutoCommit(false)
          val st: PreparedStatement = conn.prepareStatement(sql)
          try {
            var n = 0
            rows.foreach { r =>
              bind(st, r)
              st.addBatch()
              n += 1
              if (n % batchSize == 0) { st.executeBatch(); conn.commit() }
            }
            st.executeBatch()
            conn.commit()
          } finally st.close()
        } finally conn.close()
      }
    }
}
