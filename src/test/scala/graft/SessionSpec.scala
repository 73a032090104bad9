package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.scalatest.funsuite.AnyFunSuite

/** `Session.local` is the one way the engine builds a session, so
  * Bench, Verify, the tools and these specs all run one configuration. */
class SessionSpec extends AnyFunSuite with LocalSpark {
  test("local(cpus) applies every engine setting") {
    val sc = spark.sparkContext
    assert(sc.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.adaptive.coalescePartitions.initialPartitionNum") == "32")
    assert(sc.getConf.get("spark.io.compression.codec") == "zstd")
    assert(spark.conf.get("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") == "true")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(sc.getConf.get("spark.ui.enabled") == "false")
    assert(sc.uiWebUrl.isEmpty)
    assert(LogManager.getRootLogger.getLevel == Level.WARN)
  }

  test("reading events leaves the session's settings as they were") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val dir = Files.createTempDirectory("events")
    spark.range(3).selectExpr("id AS event_id", "timestamp_micros(id) AS ts")
      .write.parquet(dir.resolve("events.parquet").toString)
    spark.conf.unset(key)
    try {
      graft.queries.Tables.events(spark, dir.toString).count()
      assert(!spark.conf.getAll.contains(key))
    } finally spark.conf.set(key, "true")
  }

  test("no main builds a SparkSession outside graft/Session.scala") {
    val root = Paths.get("src/main/scala")
    val factory = root.resolve("graft/Session.scala")
    assert(Files.isRegularFile(factory))
    val builders = Files.walk(root).iterator.asScala
      .filter(p => p.toString.endsWith(".scala") && p != factory)
      .filter(p => Files.readString(p).contains("SparkSession.builder"))
      .map(root.relativize(_).toString).toSeq.sorted
    assert(builders.isEmpty)
  }

  test("src/main holds exactly the seven kept entry points") {
    val root = Paths.get("src/main/scala")
    val mains = Files.walk(root).iterator.asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filter(p => Files.readString(p).contains("def main("))
      .map(root.relativize(_).toString).toSeq.sorted
    assert(mains == Seq(
      "graft/Bench.scala", "graft/CrawlDemo.scala", "graft/ExplainDump.scala",
      "graft/Verify.scala", "graft/tools/CrawlLoopBench.scala",
      "graft/tools/Profile.scala", "graft/tools/StreamingSoak.scala"))
  }
}
