package graft.index

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Live search-index sink — the contract of the reference's backend
  * indexer bolts (`external/opensearch/.../bolt/IndexerBolt.java:71,
  * 198-242`): document id = sha256(normalised url), create-vs-overwrite
  * mode, and deletion by id (`DeletionBolt.java:58` — applied to pages
  * whose status turned ERROR, even if they were never indexed).
  *
  * Implementations receive the OUTPUT of `IndexerMapping` (url + text +
  * mapped metadata fields), i.e. they sit exactly where the reference's
  * bulk-processor connection sits.
  */
trait IndexSink extends Serializable {
  /** Write one batch of indexer-projected docs (must contain `url`;
    * every other column becomes an indexed field). */
  def indexBatch(docs: DataFrame): Unit

  /** Remove documents for these `url` rows (id = sha256(url)). */
  def deleteBatch(urls: DataFrame): Unit

  def close(): Unit = ()
}

/** JDBC implementation of the indexer contract. Tested against embedded
  * Derby (in the Spark jars); on a cluster the same code points at any
  * network-reachable RDBMS — per-partition connections + batched
  * prepared statements, the standard Spark JDBC sink shape (the
  * reference's SQL indexer, `external/sql/.../SQLIndexerBolt`, does the
  * same row-by-row from a bolt).
  *
  * Scale: the Spark side stays fully distributed — sha256 id, field
  * projection, and JSON packing are codegen'd column expressions;
  * only the final `foreachPartition` touches JDBC, `batchSize` rows
  * per round trip per partition, and at most `writeParallelism`
  * partitions write concurrently (the standard JDBC-sink bound: a
  * thousand executors must not open a thousand connections and
  * latch-storm one table's B-tree — measured against embedded Derby,
  * 32 unbounded writers convoyed on page latches at ~1 row/s while 8
  * bounded writers stream thousands/s).
  *
  * @param create OS `indexer.create` semantics: `true` = create-only
  *   (an existing doc id is left untouched), `false` = upsert.
  * @param writeParallelism max concurrent JDBC-writing partitions
  *   (`coalesce`, no shuffle); ≤0 disables the bound. coalesce narrows
  *   the whole final stage, so heavy upstream compute should be
  *   persisted (the crawl topology caches its parse output) — the
  *   narrow stage then only drains cache blocks into connections.
  */
final class JdbcIndexSink(
    jdbcUrl: String,
    table: String = "content_index",
    create: Boolean = false,
    batchSize: Int = 500,
    writeParallelism: Int = 8) extends IndexSink {

  // DataFrame.coalesce never increases partition count, so this is a
  // no-op on already-narrow inputs
  private def bounded(df: DataFrame): DataFrame =
    if (writeParallelism > 0) df.coalesce(writeParallelism) else df

  /** Create the table if absent. Call once from the driver. */
  def ensureSchema(): Unit = {
    val conn = java.sql.DriverManager.getConnection(jdbcUrl)
    try {
      val meta = conn.getMetaData.getTables(null, null, table.toUpperCase, null)
      val exists = meta.next()
      meta.close()
      if (!exists) {
        val st = conn.createStatement()
        st.executeUpdate(
          s"""CREATE TABLE $table (
             |  doc_id   VARCHAR(64) PRIMARY KEY,
             |  url      VARCHAR(2048) NOT NULL,
             |  text_body CLOB,
             |  fields   CLOB)""".stripMargin)
        st.close()
      }
    } finally conn.close()
  }

  def indexBatch(docs: DataFrame): Unit = {
    val extra = docs.columns.filterNot(c => c == "url" || c == "text")
    val fieldsCol =
      if (extra.isEmpty) lit(null).cast("string")
      else to_json(struct(extra.map(col).toIndexedSeq: _*))
    val prepared = docs.select(
      sha2(col("url"), 256).as("doc_id"),
      col("url"),
      (if (docs.columns.contains("text")) coalesce(col("text"), lit(""))
       else lit("")).as("text_body"),
      fieldsCol.as("fields"))
    val (u, t, bs, createMode) = (jdbcUrl, table, batchSize, create)
    bounded(prepared).foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
      if (rows.nonEmpty) {
        val conn = java.sql.DriverManager.getConnection(u)
        try {
          conn.setAutoCommit(false)
          // upsert: each row is inserted if its id is absent, then every row
          // overwrites its id in batch order, so the last row for an id wins,
          // new or not (Derby's MERGE failed inside the engine when two tasks
          // ran it on one fresh database)
          val update =
            if (createMode) None
            else Some(conn.prepareStatement(
              s"UPDATE $t SET url = ?, text_body = ?, fields = ? WHERE doc_id = ?"))
          // insert iff the id is absent (one statement, no read-modify-write race)
          val insert = conn.prepareStatement(
            s"""INSERT INTO $t (doc_id, url, text_body, fields)
               |SELECT v.a, v.b, v.c, v.d
               |FROM (VALUES (CAST(? AS VARCHAR(64)), CAST(? AS VARCHAR(2048)),
               |              CAST(? AS CLOB), CAST(? AS CLOB))) AS v(a, b, c, d)
               |WHERE NOT EXISTS (SELECT 1 FROM $t WHERE $t.doc_id = v.a)"""
              .stripMargin)
          def flush(): Unit = { insert.executeBatch(); update.foreach(_.executeBatch()); conn.commit() }
          var n = 0
          rows.foreach { r =>
            update.foreach { ps =>
              (1 to 3).foreach(i => ps.setString(i, r.getString(i)))
              ps.setString(4, r.getString(0))
              ps.addBatch()
            }
            (1 to 4).foreach(i => insert.setString(i, r.getString(i - 1)))
            insert.addBatch()
            n += 1
            if (n % bs == 0) flush()
          }
          flush()
          update.foreach(_.close())
          insert.close()
        } finally conn.close()
      }
    }
  }

  def deleteBatch(urls: DataFrame): Unit = {
    val prepared = urls.select(sha2(col("url"), 256).as("doc_id"))
    val (u, t, bs) = (jdbcUrl, table, batchSize)
    bounded(prepared).foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
      if (rows.nonEmpty) {
        val conn = java.sql.DriverManager.getConnection(u)
        try {
          conn.setAutoCommit(false)
          val ps = conn.prepareStatement(s"DELETE FROM $t WHERE doc_id = ?")
          var n = 0
          rows.foreach { r =>
            ps.setString(1, r.getString(0)); ps.addBatch(); n += 1
            if (n % bs == 0) { ps.executeBatch(); conn.commit() }
          }
          ps.executeBatch()
          conn.commit()
          ps.close()
        } finally conn.close()
      }
    }
  }
}
