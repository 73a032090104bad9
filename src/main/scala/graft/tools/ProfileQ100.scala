package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Throwaway leg profiler for q100_content_cache. */
object ProfileQ100 {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val s = spark
    import java.sql.Timestamp
    def leg[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"LEG $name%-12s ${(System.nanoTime() - t0) / 1e9}%6.2f"); r
    }
    // A/B: file-output-committer algorithm v1 (default, serial driver
    // rename pass) vs v2 (task-side renames)
    val batch0 = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(concat(lit("https://c"), (col("doc_id") % 10).cast("string"),
          lit(".example.com/a/"), col("doc_id").cast("string")).as("url"),
        encode(col("text"), "UTF-8").as("content"),
        lit(Timestamp.valueOf("2026-06-01 00:00:00")).cast("timestamp_ntz").as("fetch_time"))
      .where(col("url").isNotNull)
    (1 to 6).foreach { rep =>
      leg("shuffleOnly") {
        batch0.select(sha2(col("url"), 256).as("url_sha256"),
            graft.index.ShardedTable.shardOf(sha2(col("url"), 256)).as("shard"), col("url"))
          .repartition(col("shard")).count()
      }
      leg("writeV1") {
        new graft.fetch.ContentStore(Scratch.dir("graft_q100v1_").toString).store(batch0)
      }
      val keyed = batch0.select(
        sha2(col("url"), 256).as("url_sha256"),
        graft.index.ShardedTable.shardOf(sha2(col("url"), 256)).as("shard"),
        col("url"), col("content"), col("fetch_time"))
      leg("flatWrite") {
        keyed.write.mode("append").parquet(Scratch.dir("graft_q100f_").toString)
      }
      leg("flatW1part") {
        keyed.coalesce(1).write.mode("append")
          .parquet(Scratch.dir("graft_q100f1_").toString)
      }
      leg("partBy8task") {
        keyed.repartition(8, col("shard")).write.mode("append")
          .partitionBy("shard").parquet(Scratch.dir("graft_q100p8_").toString)
      }
      leg("partByNoRep") {
        keyed.write.mode("append")
          .partitionBy("shard").parquet(Scratch.dir("graft_q100pn_").toString)
      }
      leg("partBy32v2") {
        keyed.repartition(32, col("shard")).write.mode("append")
          .option("mapreduce.fileoutputcommitter.algorithm.version", "2")
          .partitionBy("shard").parquet(Scratch.dir("graft_q100v2_").toString)
      }
      leg("partBy8v2") {
        keyed.repartition(8, col("shard")).write.mode("append")
          .option("mapreduce.fileoutputcommitter.algorithm.version", "2")
          .partitionBy("shard").parquet(Scratch.dir("graft_q100v28_").toString)
      }
      leg("partBy32cw") {
        keyed.repartition(32, col("shard")).write.mode("append")
          .option("maxConcurrentOutputFileWriters", "16")
          .partitionBy("shard").parquet(Scratch.dir("graft_q100cw_").toString)
      }
    }
    (1 to 2).foreach { rep =>
      println(s"--- rep $rep ---")
      val t0 = Timestamp.valueOf("2026-06-01 00:00:00")
      val t1 = Timestamp.valueOf("2026-06-02 00:00:00")
      val asOf = Timestamp.valueOf("2026-06-02 01:00:00")
      val cs = new graft.fetch.ContentStore(
        graft.tools.Scratch.dir("graft_q100p_").toString)
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), col("text"),
          concat(lit("https://c"), (col("doc_id") % 10).cast("string"),
            lit(".example.com/a/"), col("doc_id").cast("string")).as("url"))
      leg("store1") {
        cs.store(docs.where(col("doc_id") % 2 === 0).select(col("url"),
          encode(col("text"), "UTF-8").as("content"),
          lit(t0).cast("timestamp_ntz").as("fetch_time")))
      }
      leg("store2") {
        cs.store(docs.where(col("doc_id") % 4 === 0).select(col("url"),
          encode(concat(col("text"), lit("v2")), "UTF-8").as("content"),
          lit(t1).cast("timestamp_ntz").as("fetch_time")))
      }
      val batch = docs.where(col("doc_id") % 3 === 0).select(col("url"))
      val (hits, misses) = leg("split_plan") {
        cs.split(s, batch, maxAgeMs = Some(2L * 3600 * 1000), asOfMs = asOf.getTime)
      }
      leg("result") {
        hits.select(col("url"), lit("hit").as("kind"),
            md5(col("content")).as("digest"), col("cached_at"))
          .unionByName(misses.select(col("url"), lit("miss").as("kind"),
            lit(null).cast("string").as("digest"),
            lit(null).cast("timestamp_ntz").as("cached_at")))
          .orderBy("url").count()
      }
    }
    spark.stop()
  }
}
