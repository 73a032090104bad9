package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.fetch.{FetchStage, ProtocolFactory}

/** Measured politeness-throughput sanity check (BASELINE.md: "sustain
  * ≥10 concurrent fetches with 1 s/host politeness on a local corpus",
  * parity with the reference defaults `crawler-default.yaml:22-27`).
  *
  * Writes H hosts × P pages to a local file:// corpus, fetches the
  * whole batch through the REAL FetchStage with a 1000 ms per-host
  * delay, and reports sustained pages/sec. Because every host owes
  * (P−1)·1 s of politeness wait, pages/sec ≈ the number of hosts the
  * stage kept in flight concurrently: a reading ≥ 10 IS the "≥10
  * concurrent fetches at 1 s/host" target.
  *
  * Usage: runMain graft.tools.PolitenessBench [hosts] [pagesPerHost]
  */
object PolitenessBench {
  def main(args: Array[String]): Unit = {
    val hosts = args.headOption.map(_.toInt).getOrElse(16)
    val pages = args.lift(1).map(_.toInt).getOrElse(20)
    val delayMs = 1000L
    val spark = graft.Session.local()
    import spark.implicits._

    val dir = Scratch.dir("polite_corpus")
    val urls = (0 until hosts).flatMap { h =>
      val hostDir = dir.resolve(s"host$h")
      Files.createDirectories(hostDir)
      (0 until pages).map { p =>
        val f = hostDir.resolve(s"p$p.html")
        Files.write(f, s"<html><body>host $h page $p</body></html>".getBytes("UTF-8"))
        (s"file://$f", s"host$h", Map.empty[String, Seq[String]])
      }
    }
    val batch = urls.toDF("url", "key", "metadata")

    val t0 = System.nanoTime()
    val fetched = FetchStage.fetch(spark, batch, new ProtocolFactory(),
        crawlDelayMs = delayMs, respectRobots = false,
        parallelism = Some(graft.Session.cpus))
      .where(col("status") === graft.model.Status.Fetched)
      .count()
    val wallSec = (System.nanoTime() - t0) / 1e9
    val pagesPerSec = fetched / wallSec
    // each host owes (pages-1) politeness delays; a perfectly
    // concurrent drain finishes in just over that
    val floorSec = (pages - 1) * delayMs / 1000.0
    println(f"""{"metric":"politeness_throughput","hosts":$hosts,"pages_per_host":$pages,""" +
      f""""delay_ms":$delayMs,"fetched":$fetched,"wall_sec":$wallSec%.1f,""" +
      f""""pages_per_sec":$pagesPerSec%.1f,"politeness_floor_sec":$floorSec%.1f}""")
    spark.stop()
  }
}
