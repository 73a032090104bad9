package graft.index

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** The append-only, digest-sharded parquet layout shared by
  * [[graft.fetch.ContentStore]], [[DigestLedger]] and [[BandLedger]]:
  * rows carry a `shard` column holding the first hex digit of a key
  * digest, and the table is partitioned by it (16 shards, no hot
  * prefix, bounded listing).
  *
  * Why 16 and not 256: an append writes one file per shard it touches,
  * and the per-batch cost of these tables is dominated by those files
  * (parquet-writer setup and commit on the write, listing and opening
  * on every later read). Pruning rarely pays for a finer split: a batch
  * of k uniformly hashed keys touches 1 − (15/16)^k of 16 shards (64 %
  * at k = 16, 96 % at k = 50, over 99 % from k = 72) and 1 − (255/256)^k
  * of 256 (98.6 % at k = 1 100). So pruning saves reads only for batches
  * of a few dozen keys; a crawl batch of hundreds or thousands reads
  * nearly every shard either way, and 16 shards write 16× fewer files.
  *
  * Stores written with the older two-digit layout (`shard=ab`) keep
  * answering: [[sliver]] prunes on the shard value's first character,
  * which is the shard of both layouts. */
final class ShardedTable(path: String, schema: StructType) {

  /** Raw scan of every row (empty typed frame before the first write;
    * the filesystem probe goes through the Hadoop FS API so hdfs:// and
    * s3a:// paths work, not just local disk). The schema is pinned:
    * partition-column type inference would read an all-digits shard
    * population ("2", "9", …) as a number and then fail comparing
    * against hex strings like "f". */
  def read(spark: SparkSession): DataFrame = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hasData = fs.exists(hPath) &&
      fs.listStatus(hPath).exists(_.getPath.getName.startsWith("shard="))
    if (hasData) spark.read.schema(schema).parquet(path)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
  }

  /** Rows of the given shards only — a partition-pruned scan. */
  def sliver(spark: SparkSession, shards: Seq[String]): DataFrame =
    read(spark).where(substring(col("shard"), 1, 1).isin(shards: _*))

  /** Append rows that already carry their `shard` column; `distinct`
    * drops duplicate rows on the way, inside the same exchange (every
    * copy of a row lands in its shard's task).
    *
    * The repartition by shard before the write is load-bearing: a
    * partitionBy write from W tasks creates up to W files PER SHARD
    * (measured: ~8 192 tiny parquet files per 10 k-page crawl cycle at
    * 32 tasks and 256 shards), while clustering rows by shard first
    * bounds an append at one file per shard present (≤ 16), which is
    * also the object-store-correct shape (bounded PUTs and listings per
    * batch). The partition count is PINNED (min(16, parallelism)): an
    * unpinned `repartition(col)` lets AQE coalesce a small batch to ONE
    * task, which then writes every shard file serially at ~13 ms of
    * parquet-writer setup each. Pinning keeps the write parallel while
    * each shard still hashes to exactly one task. */
  def append(df: DataFrame, distinct: Boolean = false): Unit = {
    val parts = math.min(ShardedTable.Shards,
      df.sparkSession.sparkContext.defaultParallelism).max(1)
    val clustered = df.repartition(parts, col("shard"))
    (if (distinct) clustered.distinct() else clustered)
      .write.mode("append").partitionBy("shard").parquet(path)
  }
}

object ShardedTable {
  val Shards = 16

  /** The shard of a hex digest: its first digit. */
  def shardOf(hexDigest: Column): Column = substring(hexDigest, 1, 1)
}

/** An append-only set of string keys in a [[ShardedTable]] — the shape
  * of both crawl-loop ledgers. `shardSource` maps a key to the hex
  * digest whose first digit is its shard.
  *
  * Membership is careful about which side is small: the crawl BATCH is
  * bounded by the frontier selection limit, the LEDGER is unbounded. So
  * the batch's keys are collected once, their shard list is derived on
  * the driver, and they broadcast as a local relation into a semi-join
  * against a shard-pruned sliver of the ledger; the ledger's key set is
  * never collected or broadcast. */
abstract class ShardedLedger(path: String, keyCol: String,
                             shardSource: Column => Column) {

  private val table = new ShardedTable(path, StructType(Seq(
    StructField(keyCol, StringType), StructField("shard", StringType))))

  /** The keys among `keys` (one `keyCol` column, batch-bounded) already
    * present in the ledger, collected: a lazy answer that still read the
    * ledger files would be recomputed after a later [[record]] appends
    * (Spark re-caches plans by path on write), and every just-recorded
    * key would then count as known. */
  def knownAmong(spark: SparkSession, keys: DataFrame): Seq[String] = {
    val rows = keys.select(col(keyCol),
        ShardedTable.shardOf(shardSource(col(keyCol))))
      .collect().map(r => (r.getString(0), r.getString(1))).distinct // ≤ batch size
    if (rows.isEmpty) return Seq.empty
    table.sliver(spark, rows.map(_._2).distinct.toSeq)
      .join(broadcast(local(spark, rows.map(_._1).toSeq)), Seq(keyCol), "left_semi")
      .select(keyCol).collect().map(_.getString(0)).distinct.toSeq
  }

  /** [[knownAmong]] as a local relation of one `keyCol` column, for a
    * semi or anti join against the batch: a broadcast of it runs no job,
    * and a plan holding it renders one `LocalTableScan` node whatever the
    * key count (an `isin` list renders every key). A semi or anti join
    * against an empty one is folded away by the optimizer. */
  def known(spark: SparkSession, keys: DataFrame): DataFrame =
    local(spark, knownAmong(spark, keys))

  private def local(spark: SparkSession, keys: Seq[String]): DataFrame =
    spark.createDataFrame(keys.map(Row(_)).asJava,
      StructType(Seq(StructField(keyCol, StringType))))

  /** Append keys (idempotent for readers — membership is a set
    * question, duplicate rows across appends are harmless). One file
    * per shard present, see [[ShardedTable.append]]. */
  def record(keys: DataFrame): Unit =
    table.append(keys.select(col(keyCol),
      ShardedTable.shardOf(shardSource(col(keyCol))).as("shard")), distinct = true)
}
