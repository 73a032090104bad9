package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.frontier.FrontierStore
import graft.model.Status

/** Frontier microbenchmark: demonstrates that merge cost tracks the
  * TOUCHED buckets, not the table size — the property that makes the
  * status table viable at web scale.
  *
  * Usage: runMain graft.FrontierBench [baseRows]
  * Prints one line per phase: base load, host-concentrated incremental
  * merges (few buckets), scattered merges (all buckets), frontier select.
  */
object FrontierBench {
  def main(args: Array[String]): Unit = {
    val baseRows = args.headOption.map(_.toInt).getOrElse(200000)
    val spark = Session.local()

    val store = new FrontierStore(Files.createTempDirectory("fbench").toString)

    def urls(n: Int, hosts: Int, offset: Long) =
      spark.range(n)
        .select(
          concat(lit("https://host"), (col("id") % hosts).cast("string"),
            lit(".example.com/p/"), (col("id") + offset).cast("string")).as("url"),
          lit(Status.Discovered).as("status"),
          map().cast("map<string,array<string>>").as("metadata"))

    def timed(label: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime()
      f
      println(f"$label%-34s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
    }

    timed(s"base merge ($baseRows rows, 1000 hosts)") {
      store.merge(spark, urls(baseRows, 1000, 0))
    }
    for (i <- 1 to 3) timed(s"concentrated merge #$i (1k rows, 3 hosts)") {
      store.merge(spark, urls(1000, 3, baseRows + i * 1000L))
    }
    for (i <- 1 to 3) timed(s"scattered merge #$i (1k rows, 1000 hosts)") {
      store.merge(spark, urls(1000, 1000, baseRows + 100000 + i * 1000L))
    }
    timed("selectBatch (5/host, 100 hosts)") {
      store.selectBatch(spark, new java.sql.Timestamp(System.currentTimeMillis() + 86400000),
        perBucket = 5, maxKeys = 100, limit = 500).count()
    }
    println(s"final rows: ${store.read(spark).count()}, generations: ${store.generationCount}")
    spark.stop()
  }
}
