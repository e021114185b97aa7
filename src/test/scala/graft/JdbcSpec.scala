package graft

import java.sql.DriverManager
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{JdbcSink, JdbcTables}

/** End-to-end JDBC coverage against embedded Derby (the one JDBC engine on
  * the harness classpath): S1 schema reflection, partitioned reads, filter
  * pushdown to the remote WHERE clause, and the K3-K5 sink tiers
  * (append / row-atomic upsert / delete-by-key).
  *
  * Mirrors the reference's own strategy of testing the MySQL pipeline
  * against a stand-in engine (`/root/reference/tests/test_odgovlt.py:69`
  * uses in-memory SQLite for the MySQL source).
  */
class JdbcSpec extends AnyFunSuite with SharedSpark {

  private val url = "jdbc:derby:memory:graftjdbc;create=true"

  private def exec(sqls: String*): Unit = {
    val c = DriverManager.getConnection(url)
    try {
      val st = c.createStatement()
      try sqls.foreach(st.executeUpdate)
      finally st.close()
    } finally c.close()
  }

  private def queryPairs(sql: String): Seq[(Int, String)] = {
    val c = DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery(sql)
      val buf = scala.collection.mutable.ArrayBuffer.empty[(Int, String)]
      while (rs.next()) buf += ((rs.getInt(1), rs.getString(2)))
      buf.toSeq
    } finally c.close()
  }

  test("S1: reflected schema read — column names, types, rows from catalog metadata") {
    exec(
      """CREATE TABLE t_user (
           id INT PRIMARY KEY, login VARCHAR(100), created TIMESTAMP)""",
      "INSERT INTO t_user VALUES (1, 'vardenis', TIMESTAMP('2019-03-01 10:00:00'))",
      "INSERT INTO t_user VALUES (2, 'pavardenis', NULL)")
    val jt = new JdbcTables(spark, url)
    val df = jt.table("t_user")
    assert(df.schema.fieldNames.toSeq === Seq("ID", "LOGIN", "CREATED"))
    assert(df.schema("ID").dataType.typeName === "integer")
    assert(df.schema("CREATED").dataType.typeName === "timestamp")
    assert(df.count() === 2)
    assert(df.filter(col("CREATED").isNull).count() === 1)
  }

  test("partitioned read: bounds split the scan without dropping rows") {
    exec("CREATE TABLE t_rinkmena (id INT PRIMARY KEY, pavadinimas VARCHAR(50))")
    val c = DriverManager.getConnection(url)
    try {
      val ps = c.prepareStatement("INSERT INTO t_rinkmena VALUES (?, ?)")
      (0 until 100).foreach { i =>
        ps.setInt(1, i); ps.setString(2, s"ds$i"); ps.addBatch()
      }
      ps.executeBatch()
    } finally c.close()
    val jt = new JdbcTables(spark, url)
    // bounds NARROWER than the data: partitioning bounds only split the
    // scan (first/last partitions are open-ended) — no rows may be lost
    val df = jt.partitionedTable("t_rinkmena", "id", 20L, 80L, 4)
    assert(df.rdd.getNumPartitions === 4)
    assert(df.count() === 100)
  }

  test("filter pushdown reaches the remote WHERE clause") {
    val jt = new JdbcTables(spark, url)
    val df = jt.table("t_rinkmena").filter(col("ID") === 5)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters"), plan)
    assert(plan.contains("EqualTo(ID,5)") || plan.contains("ID = 5"), plan)
    assert(df.count() === 1)
  }

  test("K3 upsert (ANSI MERGE dialect): updates existing keys, inserts new, leaves others") {
    import spark.implicits._
    // "key" and "order" are reserved words — proves identifier quoting
    exec(
      """CREATE TABLE t_sink ("KEY" INT PRIMARY KEY, "ORDER" VARCHAR(30))""",
      """INSERT INTO t_sink VALUES (1, 'old-1'), (2, 'keep-2')""")
    val batch = Seq((1, "new-1"), (3, "new-3"), (4, "new-4"))
      .toDF("key", "order").repartition(2)
    JdbcSink.upsert(batch, url, "t_sink", Seq("key"),
      batchSize = 2, dialect = JdbcSink.DerbyDialect)
    val got = queryPairs("""SELECT "KEY", "ORDER" FROM t_sink ORDER BY "KEY"""")
    assert(got === Seq(1 -> "new-1", 2 -> "keep-2", 3 -> "new-3", 4 -> "new-4"))
  }

  test("K3 upsert is idempotent (reference re-sync semantics)") {
    import spark.implicits._
    val batch = Seq((1, "new-1"), (3, "new-3"), (4, "new-4"))
      .toDF("key", "order")
    JdbcSink.upsert(batch, url, "t_sink", Seq("key"),
      dialect = JdbcSink.DerbyDialect)
    val got = queryPairs("""SELECT "KEY", "ORDER" FROM t_sink ORDER BY "KEY"""")
    assert(got === Seq(1 -> "new-1", 2 -> "keep-2", 3 -> "new-3", 4 -> "new-4"))
  }

  test("K5 deleteByKey removes exactly the keyed rows") {
    import spark.implicits._
    val dels = Seq(2, 4).toDF("key")
    JdbcSink.deleteByKey(dels, url, "t_sink", "key",
      dialect = JdbcSink.DerbyDialect)
    val got = queryPairs("""SELECT "KEY", "ORDER" FROM t_sink ORDER BY "KEY"""")
    assert(got === Seq(1 -> "new-1", 3 -> "new-3"))
  }

  test("K4 append writes through the built-in connector") {
    import spark.implicits._
    // connector quoting of reserved columns is Spark's JdbcDialect's job;
    // use a plain-named table for the connector tier
    exec("CREATE TABLE t_plain (id INT, name VARCHAR(30))")
    JdbcSink.append(Seq((10, "app-10"), (11, "app-11")).toDF("id", "name"),
      url, "t_plain")
    val got = queryPairs("SELECT id, name FROM t_plain ORDER BY id")
    assert(got === Seq(10 -> "app-10", 11 -> "app-11"))
  }

  test("K6 ensureRow bootstrap: creates once, never overwrites (idempotent)") {
    exec(
      "CREATE TABLE t_boot (id INT PRIMARY KEY, login VARCHAR(40), role VARCHAR(20))")
    val row = Seq(1, "harvest", "sysadmin")
    JdbcSink.ensureRow(url, "t_boot", Seq("id", "login", "role"), Seq("id"),
      row, JdbcSink.DerbyDialect)
    // second bootstrap with DIFFERENT field values must be a no-op
    JdbcSink.ensureRow(url, "t_boot", Seq("id", "login", "role"), Seq("id"),
      Seq(1, "intruder", "other"), JdbcSink.DerbyDialect)
    val got = queryPairs("SELECT id, login FROM t_boot ORDER BY id")
    assert(got === Seq(1 -> "harvest"))
  }

  test("K3-K5 through the ActionSink trait: SyncJob.applyActions drives the JDBC tier") {
    import spark.implicits._
    exec(
      """CREATE TABLE t_act ("KEY" INT PRIMARY KEY, "ORDER" VARCHAR(30))""",
      """INSERT INTO t_act VALUES (2, 'stale-2'), (5, 'doomed-5')""")
    // keyCol deliberately named "key" — the same name applyActions uses for
    // the action-set key column, so this also pins the by-reference drop
    val packages = Seq((1, "fresh-1"), (2, "fresh-2"), (9, "untouched-9"))
      .toDF("key", "order")
    val actions = Seq((1, "create"), (2, "update"), (5, "delete"))
      .toDF("key", "action")
    SyncJob.applyActions(packages, actions, "key",
      graft.sources.JdbcActionSink(url, "t_act", Seq("key"),
        JdbcSink.DerbyDialect, batchSize = 2))
    val got = queryPairs("""SELECT "KEY", "ORDER" FROM t_act ORDER BY "KEY"""")
    assert(got === Seq(1 -> "fresh-1", 2 -> "fresh-2"))
  }

  test("MySQL dialect: upsert statement shape and zero-date URL guard") {
    val (sql, order) = JdbcSink.MySqlDialect.upsertStatement(
      "db.t_user", Seq("id", "key", "name"), Seq("id"))
    assert(sql ===
      "INSERT INTO `db`.`t_user` (`id`, `key`, `name`) VALUES (?, ?, ?) " +
        "ON DUPLICATE KEY UPDATE `key` = VALUES(`key`), `name` = VALUES(`name`)")
    assert(order === (0 until 3))
    // zero-date guard: MySQL-family URLs only, idempotent, ?/& aware
    assert(JdbcTables.withZeroDateGuard("jdbc:mysql://h/db") ===
      "jdbc:mysql://h/db?zeroDateTimeBehavior=convertToNull")
    assert(JdbcTables.withZeroDateGuard("jdbc:mysql://h/db?useSSL=false") ===
      "jdbc:mysql://h/db?useSSL=false&zeroDateTimeBehavior=convertToNull")
    val already = "jdbc:mysql://h/db?zeroDateTimeBehavior=round"
    assert(JdbcTables.withZeroDateGuard(already) === already)
    assert(JdbcTables.withZeroDateGuard(url) === url)
  }
}
