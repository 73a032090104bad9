package graft.fetch

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.index.ShardedTable

/** Raw-content cache keyed by sha256(url) — the Spark-native shape of
  * the reference's S3 content cache (`external/aws/.../s3/S3Cacher
  * .java:38` stores fetched bytes under the URL digest;
  * `S3CacheChecker.java:42` consults it before fetching).
  *
  * Layout: a [[graft.index.ShardedTable]] — parquet partitioned by the
  * first hex digit of the digest (16 dirs; that scaladoc says when the
  * pruning pays) — object-store friendly (no hot prefix, bounded
  * listing) and the digest prefix doubles as the partition key.
  * Writes append; readers dedupe to the newest row per digest, so
  * re-fetches supersede older captures without rewrites (same idea as
  * the frontier store's generation model, but append-only because
  * content is immutable history, not mutable state).
  *
  * `split` is the cache-checker, and it is careful about which side is
  * small: the crawl BATCH is bounded (frontier selection limit); the
  * STORE is unbounded. So the batch's digests broadcast into a
  * semi-join against the store — never the store's digest set into the
  * batch — and the store scan is pre-filtered to the batch's shard
  * partitions (≤ 16 values, derived from the bounded batch), so the
  * newest-capture window runs over only the semi-joined sliver of the
  * store, not the whole table.
  */
class ContentStore(path: String) {

  private val table = new ShardedTable(path, StructType(Seq(
    StructField("url_sha256", StringType),
    StructField("url", StringType),
    StructField("content", BinaryType),
    StructField("fetch_time", TimestampNTZType),
    StructField("shard", StringType))))

  /** Append content rows (url + content bytes + fetch time), one file
    * per shard present ([[graft.index.ShardedTable.append]]). */
  def store(df: DataFrame): Unit =
    table.append(df.select(
      sha2(col("url"), 256).as("url_sha256"),
      ShardedTable.shardOf(sha2(col("url"), 256)).as("shard"),
      col("url"), col("content"),
      col("fetch_time").cast("timestamp_ntz").as("fetch_time")))

  private def newestPerDigest(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("url_sha256")).orderBy(col("fetch_time").desc)
    df.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1).drop("__rn", "shard")
  }

  /** Current view: newest capture per digest. Full-table window — use
    * for offline analytics over the whole store, not per-batch checks
    * (that's [[split]]). */
  def read(spark: SparkSession): DataFrame = newestPerDigest(table.read(spark))

  /** Cache check for a fetch batch: (hits with content, misses).
    *
    * @param maxAgeMs serve a hit only when its capture is younger than
    *                 this, measured against `asOfMs` — a due re-crawl
    *                 older than the recrawl horizon must re-fetch, or
    *                 the cache would mask every content change forever.
    *                 None = any age (pure replay mode, e.g. WARC-style
    *                 reprocessing). */
  def split(spark: SparkSession, batch: DataFrame,
            maxAgeMs: Option[Long] = None,
            asOfMs: Long = System.currentTimeMillis()): (DataFrame, DataFrame) = {
    val keyed = batch.withColumn("url_sha256", sha2(col("url"), 256))
    // collecting the batch's distinct shards is driver-cheap at ANY
    // batch size (≤ 16 one-hex-digit strings) and turns the store scan
    // into a partition-pruned read
    val shards = keyed.select(ShardedTable.shardOf(col("url_sha256")))
      .distinct().collect().map(_.getString(0))
    // NO broadcast hints: a production fetch batch is bounded by the
    // frontier selection limit and AQE broadcasts it from its RUNTIME
    // size anyway, but a hint makes the plan die on oversized batches
    // (measured at sf1000: hinting the 16.7 M-url batch collected
    // >1 GB of digests to the driver — maxResultSize abort — and the
    // hits hint would have broadcast full content BODIES). Unhinted,
    // the same code serves both: broadcast when small, shuffle join
    // when someone replays a corpus through the cache check.
    val sliver = table.sliver(spark, shards.toSeq)
      .join(keyed.select(col("url_sha256")), Seq("url_sha256"), "left_semi")
    val freshEnough = maxAgeMs match {
      case Some(age) => newestPerDigest(sliver).where(
        col("fetch_time") >= lit(new java.sql.Timestamp(asOfMs - age)).cast("timestamp_ntz"))
      case None => newestPerDigest(sliver)
    }
    val cached = freshEnough.select(
      col("url_sha256"), col("content"), col("fetch_time").as("cached_at"))
    val hits = keyed.join(cached, Seq("url_sha256"))
    val misses = keyed.join(cached.select(col("url_sha256")),
      Seq("url_sha256"), "left_anti")
    (hits, misses)
  }
}
