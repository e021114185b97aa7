package graft.sources

import org.apache.spark.sql.DataFrame

/** The K3-K5 application surface: one abstraction over "apply the computed
  * create / update / delete sets to an external target". The merge
  * classification itself is engine work ([[graft.SyncPipeline.classifyAgainst]],
  * which `q_k3_merge_actions` also runs); a sink only transports each set.
  *
  * Two production tiers implement it:
  *  - [[JdbcActionSink]] — set-oriented writes over JDBC (the fast path when
  *    the target is a database);
  *  - [[HttpSink]] — the reference's actual output surface, the CKAN-style
  *    action API over HTTP (`/root/reference/odgovlt.py:407` package upsert,
  *    `odgovlt.py:281,287,318` group patch/create/delete).
  *
  * Contract for every implementation:
  *  - executor-side and partition-parallel (`foreachPartition`), never a
  *    driver-side collect loop;
  *  - idempotent by key/guid: Spark retries failed tasks, so replaying a
  *    partition's calls must converge to the same target state;
  *  - `delete` receives the key column only.
  */
trait ActionSink extends Serializable {
  /** Apply the create set. Replaying a row that already landed must not
    * fail (create-or-update semantics, odgovlt.py:407).
    */
  def create(df: DataFrame): Unit

  /** Apply the update set. A row deleted out from under a retry must not
    * fail (update-or-create, mirroring the reference's show→NotFound→create
    * probe at odgovlt.py:249-257).
    */
  def update(df: DataFrame): Unit

  /** Apply the delete set (single key column). Deleting an already-absent
    * key is a success (idempotent replay).
    */
  def delete(df: DataFrame): Unit
}

/** JDBC tier of [[ActionSink]]: create and update both route to the
  * row-atomic dialect upsert (which IS the idempotent create-or-update),
  * delete to the batched delete-by-key. See [[JdbcSink]] for the statement
  * shapes and partition-parallel execution.
  */
final case class JdbcActionSink(
    url: String,
    table: String,
    keyCols: Seq[String],
    dialect: JdbcSink.Dialect,
    batchSize: Int = 500) extends ActionSink {

  override def create(df: DataFrame): Unit =
    JdbcSink.upsert(df, url, table, keyCols, batchSize, dialect)

  override def update(df: DataFrame): Unit =
    JdbcSink.upsert(df, url, table, keyCols, batchSize, dialect)

  override def delete(df: DataFrame): Unit = {
    // the contract hands delete a single key column under whatever name the
    // caller computed ("key" from SyncJob.applyActions); the statement needs
    // it under the target table's key-column name
    val keyed = df.withColumnRenamed(df.schema.fieldNames.head, keyCols.head)
    JdbcSink.deleteByKey(keyed, url, table, keyCols.head, batchSize, dialect)
  }
}
