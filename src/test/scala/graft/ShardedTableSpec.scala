package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.fetch.ContentStore
import graft.index.{BandLedger, DigestLedger}

/** The digest-sharded append layout shared by the content store and the
  * crawl ledgers: 16 one-hex-digit shards, and stores written with the
  * older two-digit layout still answer membership and cache checks. */
class ShardedTableSpec extends AnyFunSuite with LocalSpark {

  private def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString

  private def shardDirs(dir: String): Seq[String] =
    new java.io.File(dir).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("shard=")).toSeq

  test("ledgers append one directory per one-hex-digit shard and answer membership") {
    import spark.implicits._
    val digests = (0 until 40).map(i => sha256(s"doc$i"))
    val dDir = Files.createTempDirectory("digests").toString + "/d"
    val ledger = new DigestLedger(dDir)
    assert(ledger.knownAmong(spark, digests.toDF("digest")).isEmpty)
    ledger.record(digests.take(30).toDF("digest"))
    assert(ledger.knownAmong(spark, digests.toDF("digest")).toSet == digests.take(30).toSet)
    assert(shardDirs(dDir).nonEmpty && shardDirs(dDir).forall(_.matches("shard=[0-9a-f]")))
    // one append writes one file per shard it touches
    assert(shardDirs(dDir).forall(s => new java.io.File(s"$dDir/$s").list()
      .count(_.endsWith(".parquet")) == 1))

    val bDir = Files.createTempDirectory("bands").toString + "/b"
    val bands = new BandLedger(bDir)
    bands.record(Seq("A_1_2", "B_3_4").toDF("bk"))
    assert(bands.knownAmong(spark, Seq("A_1_2", "A_9_9").toDF("bk")) == Seq("A_1_2"))
    assert(shardDirs(bDir).forall(_.matches("shard=[0-9a-f]")))
  }

  test("a store written in the two-digit layout keeps answering knownAmong and split") {
    import spark.implicits._
    // ledger: one append in the old layout, then one in the new
    val old = (0 until 20).map(i => sha256(s"old$i"))
    val fresh = (0 until 5).map(i => sha256(s"new$i"))
    val unknown = (0 until 5).map(i => sha256(s"unknown$i"))
    val dDir = Files.createTempDirectory("oldledger").toString + "/d"
    old.toDF("digest").withColumn("shard", substring(col("digest"), 1, 2))
      .write.partitionBy("shard").parquet(dDir)
    val ledger = new DigestLedger(dDir)
    ledger.record(fresh.toDF("digest"))
    assert(shardDirs(dDir).exists(_.matches("shard=[0-9a-f]{2}")))
    assert(shardDirs(dDir).exists(_.matches("shard=[0-9a-f]")))
    val asked = old.take(8) ++ fresh ++ unknown
    assert(ledger.knownAmong(spark, asked.toDF("digest")).toSet ==
      (old.take(8) ++ fresh).toSet)

    // content store: the same mix, checked through the cache split
    val cDir = Files.createTempDirectory("oldcontent").toString + "/c"
    val t = Timestamp.valueOf("2024-01-01 00:00:00")
    val oldUrls = (0 until 20).map(i => s"http://old.example/$i")
    oldUrls.map(u => (u, u.getBytes, t)).toDF("url", "content", "fetch_time")
      .select(sha2(col("url"), 256).as("url_sha256"),
        substring(sha2(col("url"), 256), 1, 2).as("shard"),
        col("url"), col("content"), col("fetch_time").cast("timestamp_ntz").as("fetch_time"))
      .write.partitionBy("shard").parquet(cDir)
    val cs = new ContentStore(cDir)
    val newUrls = (0 until 5).map(i => s"http://new.example/$i")
    cs.store(newUrls.map(u => (u, u.getBytes, t)).toDF("url", "content", "fetch_time"))
    val batch = (oldUrls.take(8) ++ newUrls ++ Seq("http://miss.example/")).toDF("url")
    val (hits, misses) = cs.split(spark, batch)
    val hit = hits.select("url", "content").as[(String, Array[Byte])].collect()
    assert(hit.map(_._1).toSet == (oldUrls.take(8) ++ newUrls).toSet)
    assert(hit.forall { case (u, c) => new String(c) == u })
    assert(misses.select("url").as[String].collect().toSeq == Seq("http://miss.example/"))
  }
}
