package graft.tools

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.frontier.FrontierStore
import graft.model.Status

/** Frontier merge/compaction soak (dev utility, run manually):
  * ≥100 merge generations against one store at sf1 scale, printing
  * wall-time per merge so super-linear growth (read amplification from
  * accumulating generations, manifest bloat, compaction stalls) shows
  * up as a trend, not an anecdote. Mirrors the crawl loop's policy:
  * compact when the live generation count passes 16.
  *
  * Usage: runMain graft.tools.MergeSoak [sfDir] [generations] [batch]
  */
object MergeSoak {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/repo/tmp_sf1")
    val generations = args.lift(1).map(_.toInt).getOrElse(120)
    val batch = args.lift(2).map(_.toInt).getOrElse(8000)

    val spark = graft.Session.local()

    val root = java.nio.file.Files.createTempDirectory("frontier-soak").toString
    val store = new FrontierStore(root, numBuckets = 64)

    // URL universe derived from the events table: one URL per event,
    // hosts from user ids — realistic host-skew (replicated ids rehit
    // the same hosts) and enough volume at sf1 (1M events) for a 100+
    // generation run with fresh discoveries every batch.
    val urls = graft.queries.Tables.events(spark, sfDir)
      .select(
        concat(lit("http://h"), pmod(col("user_id"), lit(5000)).cast("string"),
          lit(".example.com/p/"), col("event_id").cast("string")).as("url"),
        monotonically_increasing_id().as("seq"))
      .select(col("url"), row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy("seq")).as("rank"))
    urls.cache()
    val total = urls.count()
    println(s"SOAK url universe: $total rows; $generations generations x $batch")

    val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
    var tableRows = 0L
    val times = scala.collection.mutable.ArrayBuffer.empty[(Int, Double, Double, Int, Long)]
    for (g <- 0 until generations) {
      // fresh discoveries this generation + refetch results for a
      // slice of an earlier generation (the steady-state crawl mix)
      val lo = (g.toLong * batch) % total + 1
      val fresh = urls.where(col("rank").between(lo, lo + batch - 1))
        .select(col("url"), lit(Status.Discovered).as("status"),
          typedLit(Map.empty[String, Seq[String]]).as("metadata"))
      val reLo = (math.max(0, g - 8).toLong * batch) % total + 1
      val refetched = urls.where(col("rank").between(reLo, reLo + batch / 4 - 1))
        .select(col("url"), lit(Status.Fetched).as("status"),
          typedLit(Map.empty[String, Seq[String]]).as("metadata"))
      val tm0 = System.nanoTime()
      store.merge(spark, fresh.unionByName(refetched), t0)
      val mergeSec = (System.nanoTime() - tm0) / 1e9
      var compactSec = 0.0
      if (store.generationCount > 16) {
        val tc0 = System.nanoTime()
        store.compact(spark)
        compactSec = (System.nanoTime() - tc0) / 1e9
      }
      if (g % 10 == 9 || compactSec > 0) tableRows = store.read(spark).count()
      times += ((g, mergeSec, compactSec, store.generationCount, tableRows))
      if (g % 10 == 9 || compactSec > 0)
        println(f"SOAK gen=$g%3d merge=$mergeSec%6.2fs compact=$compactSec%6.2fs " +
          f"liveGens=${store.generationCount}%2d tableRows=$tableRows%,d")
    }
    val m = times.map(_._2)
    val firstQ = m.take(generations / 4)
    val lastQ = m.takeRight(generations / 4)
    println(f"SOAK merge sec: first-quartile avg=${firstQ.sum / firstQ.size}%.2f " +
      f"last-quartile avg=${lastQ.sum / lastQ.size}%.2f " +
      f"max=${m.max}%.2f compactions=${times.count(_._3 > 0)} " +
      f"compactMax=${times.map(_._3).max}%.2f finalRows=$tableRows%,d")

    // phase 2 — the bucket-pruning story: batches confined to ONE host
    // hash into one bucket, so the merge reads/rewrites 1/64th of the
    // table no matter how big it has grown. These times must stay flat
    // (and far below phase 1's), or partition pruning is broken.
    val narrow = (0 until 15).map { g =>
      val upd = spark.range(g * 500, g * 500 + 500)
        .select(concat(lit("http://narrow.example.com/q/"), col("id").cast("string")).as("url"),
          lit(Status.Discovered).as("status"),
          typedLit(Map.empty[String, Seq[String]]).as("metadata"))
      val tn0 = System.nanoTime()
      store.merge(spark, upd, t0)
      (System.nanoTime() - tn0) / 1e9
    }
    println(f"SOAK single-bucket merges over the full table: " +
      f"avg=${narrow.sum / narrow.size}%.2fs max=${narrow.max}%.2fs " +
      f"(vs last-quartile full-touch avg ${lastQ.sum / lastQ.size}%.2fs); " +
      f"liveGens=${store.generationCount}")

    // phase 3 — generation accumulation + compaction: skewed merges
    // each touching a DIFFERENT single host leave every other bucket
    // on its old generation, so live generations climb until the crawl
    // loop's >16 policy fires; compaction must return reads to one
    // scan without losing rows.
    val preRows = store.read(spark).count()
    var compactSec = -1.0
    var maxGens = 0
    var skewMerges = 0
    while (compactSec < 0 && skewMerges < 40) {
      val host = s"skew${skewMerges}.example.com"
      val upd = spark.range(0, 300)
        .select(concat(lit(s"http://$host/q/"), col("id").cast("string")).as("url"),
          lit(Status.Discovered).as("status"),
          typedLit(Map.empty[String, Seq[String]]).as("metadata"))
      store.merge(spark, upd, t0)
      skewMerges += 1
      maxGens = math.max(maxGens, store.generationCount)
      if (store.generationCount > 16) {
        val tc0 = System.nanoTime()
        store.compact(spark)
        compactSec = (System.nanoTime() - tc0) / 1e9
      }
    }
    val postRows = store.read(spark).count()
    val tr0 = System.nanoTime()
    store.read(spark).count()
    val readSec = (System.nanoTime() - tr0) / 1e9
    println(f"SOAK compaction: $skewMerges skewed merges drove liveGens to " +
      f"$maxGens, compact=${compactSec}%.2fs, rows $preRows%,d -> $postRows%,d " +
      f"(+${postRows - preRows} skew rows), post-compact full read=${readSec}%.2fs, " +
      f"liveGens=${store.generationCount}")
    spark.stop()
  }
}
