package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.JdbcSink

/** The MySQL dialect tier of JdbcSink, EXECUTED — not just string-checked —
  * against [[FakeMySql]], an in-memory engine implementing MySQL's
  * documented ON DUPLICATE KEY semantics. Covers the row-atomic upsert,
  * the insert-if-absent bootstrap, and delete-by-key, each through the
  * real foreachPartition / bind-order / batching machinery.
  */
class MySqlDialectSpec extends AnyFunSuite with SharedSpark {

  private val url = FakeMySql.UrlPrefix + "mem"

  test("K3 upsert (MySQL dialect): ON DUPLICATE KEY updates existing, inserts new") {
    import spark.implicits._
    FakeMySql.register()
    FakeMySql.reset()
    // reserved-word columns prove backtick quoting survives execution
    FakeMySql.createTable("t_sink", Seq("key", "order"), Seq("key"))
    JdbcSink.upsert(Seq((1, "old-1"), (2, "keep-2")).toDF("key", "order"),
      url, "t_sink", Seq("key"), dialect = JdbcSink.MySqlDialect)
    JdbcSink.upsert(
      Seq((1, "new-1"), (3, "new-3"), (4, "new-4")).toDF("key", "order")
        .repartition(2),
      url, "t_sink", Seq("key"), batchSize = 2, dialect = JdbcSink.MySqlDialect)
    val got = FakeMySql.rows("t_sink")
      .map(r => r("key").asInstanceOf[Int] -> r("order")).sortBy(_._1)
    assert(got === Seq(1 -> "new-1", 2 -> "keep-2", 3 -> "new-3", 4 -> "new-4"))
    assert(FakeMySql.statements.toArray.exists(
      _.toString.contains("ON DUPLICATE KEY UPDATE `order` = VALUES(`order`)")))
  }

  test("K6 ensureRow (MySQL dialect): k = k self-assignment never overwrites") {
    FakeMySql.register()
    FakeMySql.reset()
    FakeMySql.createTable("t_boot", Seq("id", "login", "role"), Seq("id"))
    JdbcSink.ensureRow(url, "t_boot", Seq("id", "login", "role"), Seq("id"),
      Seq(1, "harvest", "sysadmin"), JdbcSink.MySqlDialect)
    JdbcSink.ensureRow(url, "t_boot", Seq("id", "login", "role"), Seq("id"),
      Seq(1, "intruder", "other"), JdbcSink.MySqlDialect)
    val got = FakeMySql.rows("t_boot")
    assert(got.map(r => (r("id"), r("login"), r("role"))) ===
      Seq((1, "harvest", "sysadmin")))
    assert(FakeMySql.statements.toArray.exists(
      _.toString.contains("ON DUPLICATE KEY UPDATE `id` = `id`")))
  }

  test("K5 deleteByKey (MySQL dialect): removes exactly the keyed rows") {
    import spark.implicits._
    FakeMySql.register()
    FakeMySql.reset()
    FakeMySql.createTable("t_sink", Seq("key", "order"), Seq("key"))
    JdbcSink.upsert(
      Seq((1, "a"), (2, "b"), (3, "c")).toDF("key", "order"),
      url, "t_sink", Seq("key"), dialect = JdbcSink.MySqlDialect)
    JdbcSink.deleteByKey(Seq(2, 9).toDF("key"), url, "t_sink", "key",
      dialect = JdbcSink.MySqlDialect)
    assert(FakeMySql.rows("t_sink").map(_("key")).toSet === Set(1, 3))
  }
}
