package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

import graft.frontier.FrontierStore
import graft.model.Status

/** The custom crawl source: frontier table as a DSv2 micro-batch
  * stream — offsets advance only on merges, batches are the frontier
  * selection, partitions are keyed for politeness. */
class FrontierSourceSpec extends AnyFunSuite with LocalSpark {

  private def statusRows(rows: (String, String)*) = {
    import spark.implicits._
    rows.map { case (u, s) => (u, s, Map.empty[String, Seq[String]]) }
      .toDF("url", "status", "metadata")
  }

  private val t0 = Timestamp.valueOf("2024-01-01 00:00:00")

  test("streaming read of the frontier: one batch per merge, selection semantics") {
    val root = Files.createTempDirectory("frontier_src").toString
    val store = new FrontierStore(root)
    store.merge(spark, statusRows(
      "http://h1.com/a" -> Status.Discovered,
      "http://h1.com/b" -> Status.Discovered,
      "http://h2.com/a" -> Status.Discovered), t0)

    val q = spark.readStream
      .format("graft.sources.FrontierSource")
      .option("path", root)
      .option("perBucket", "1").option("maxKeys", "10").option("limit", "10")
      .load()
      .writeStream.format("memory").queryName("frontier_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val batch1 = spark.table("frontier_out").collect()
      // perBucket=1 -> one url per host
      assert(batch1.map(_.getAs[String]("key")).sorted.toSeq == Seq("h1.com", "h2.com"))
      assert(batch1.forall(_.getAs[String]("status") == Status.Discovered))

      // no merge -> version unchanged -> processAllAvailable adds nothing
      q.processAllAvailable()
      assert(spark.table("frontier_out").count() == 2)

      // a merge advances the version -> next poll selects again (the
      // new host appears; at-least-once means h1/h2 may repeat)
      store.merge(spark, statusRows("http://h3.com/x" -> Status.Discovered), t0)
      q.processAllAvailable()
      val keys = spark.table("frontier_out").collect().map(_.getAs[String]("key")).toSet
      assert(keys.contains("h3.com"))
    } finally q.stop()
  }

  test("a replayed offset range selects the rows it first selected") {
    import org.apache.spark.sql.Row
    import graft.sources.{FrontierMicroBatchStream, FrontierOffset, FrontierPartition}
    val root = Files.createTempDirectory("frontier_replay").toString
    val store = new FrontierStore(root)
    store.merge(spark, statusRows(
      "http://h1.com/a" -> Status.Discovered,
      "http://h1.com/b" -> Status.Discovered,
      "http://h2.com/a" -> Status.Discovered), t0)
    def newStream() = new FrontierMicroBatchStream(root, perBucket = 1, maxKeys = 10, limit = 10)
    val stream = newStream()
    val o = stream.latestOffset().asInstanceOf[FrontierOffset]
    assert(stream.deserializeOffset(o.json) == o)
    def show(rows: Seq[Row]): Seq[String] =
      rows.map(r => s"${r.getAs[String]("url")} ${r.getAs[String]("status")}").sorted
    def planned(s: FrontierMicroBatchStream = stream): Seq[String] =
      show(s.planInputPartitions(s.initialOffset(), o).toSeq
        .flatMap(_.asInstanceOf[FrontierPartition].rows))
    val first = planned()
    assert(first == Seq("http://h1.com/a DISCOVERED", "http://h2.com/a DISCOVERED"))
    // h1.com/a is fetched: the latest version selects h1.com/b instead
    store.merge(spark, statusRows("http://h1.com/a" -> Status.Fetched))
    assert(planned() == first)

    // o's version leaves the kept window: a compaction, then three
    // merges, and the fourth commit's vacuum deletes delta_0
    store.compact(spark)
    (3 to 5).foreach(h => store.merge(spark, statusRows(s"http://h$h.com/a" -> Status.Discovered)))
    assert(!Files.exists(java.nio.file.Paths.get(root, "delta_0")))
    val latest = show(store.selectBatch(spark, new Timestamp(o.atMs),
      perBucket = 1, maxKeys = 10, limit = 10).collect().toSeq)
    assert(latest.contains("http://h1.com/b DISCOVERED"), latest)
    // the stream built a frame of o's version before its files went;
    // a fresh stream finds o's manifest gone: both select the latest
    assert(planned() == latest)
    assert(planned(newStream()) == latest)
  }

  test("seedStream: seed files dropped into a directory flow into the frontier") {
    import graft.filters.UrlFilterChain
    import graft.streaming.CrawlTopology
    val seedDir = Files.createTempDirectory("seeds")
    val root = Files.createTempDirectory("frontier_seed").toString
    val store = new FrontierStore(root)
    Files.write(seedDir.resolve("batch1.txt"),
      "http://h1.com/a\tdepth=0\nhttp://h1.com/a\n# not a url\n".getBytes)

    val q = CrawlTopology.seedStream(spark, store, seedDir.toString,
      new UrlFilterChain(Seq()),
      Files.createTempDirectory("seed_ckpt").toString)
    try {
      q.processAllAvailable()
      assert(store.read(spark).count() == 1) // dup line deduped by merge
      // drop another file: picked up on the next trigger
      Files.write(seedDir.resolve("batch2.txt"), "http://h2.com/b\n".getBytes)
      q.processAllAvailable()
      val urls = store.read(spark).collect().map(_.getAs[String]("url")).sorted
      assert(urls.toSeq == Seq("http://h1.com/a", "http://h2.com/b"))
      assert(store.read(spark).collect()
        .forall(_.getAs[String]("status") == Status.Discovered))
    } finally q.stop()
  }

  test("mid-batch crash after fetch, before merge commit: restart is exactly-once") {
    // the streaming-layer companion to FrontierCrashSpec's store-level
    // commit-protocol coverage: kill the standing query AFTER the fetch
    // stage ran but BEFORE the frontier merge commits, restart from the
    // same checkpoint, and require the frontier to land in the exact
    // state an uninterrupted run produces — the offset-log/commit-log
    // gap makes Structured Streaming replay the same batch, the source
    // re-selects at the logged offset's version and time, and the
    // sha256-keyed merge applies it exactly once
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._
    import graft.fetch.{FetchStage, ProtocolFactory}
    import graft.filters.UrlFilterChain
    import graft.parse.ParseStage
    import graft.streaming.CrawlTopology

    val site = Files.createTempDirectory("crash_site")
    Files.write(site.resolve("a.html"),
      """<html><body><a href="b.html">next</a></body></html>""".getBytes)
    Files.write(site.resolve("b.html"),
      "<html><body>leaf</body></html>".getBytes)

    val root = Files.createTempDirectory("frontier_crash_stream").toString
    val store = new FrontierStore(root)
    val chain = new UrlFilterChain(Seq())
    CrawlTopology.seed(spark, store, Seq(s"file://$site/a.html"), chain)
    val ckpt = Files.createTempDirectory("crash_ckpt").toString

    val crashOnce = new java.util.concurrent.atomic.AtomicBoolean(true)
    def startQ() = CrawlTopology.frontierStream(spark, root,
        perBucket = 5, maxKeys = 5, limit = 10)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val fetched = FetchStage.fetch(spark, batch, new ProtocolFactory(),
            crawlDelayMs = 0, respectRobots = false)
          fetched.cache()
          // the fetch has genuinely happened (an action ran) ...
          if (fetched.count() > 0 && crashOnce.getAndSet(false))
            sys.error("injected crash between fetch and merge commit")
          // ... and only the surviving run reaches the merge
          val parsed = ParseStage.parse(fetched, chain)
          val statuses = fetched.select(col("url"),
            when(col("redirect_to").isNotNull, Status.Redirection)
              .otherwise(col("status")).as("status"), col("metadata"))
          val outlinks = parsed.where(col("kind").isin("outlink", "redirect"))
            .select(col("target_url").as("url"),
              lit(Status.Discovered).as("status"), col("metadata"))
          store.merge(spark, statuses.unionByName(outlinks), CrawlTopology.now())
          fetched.unpersist()
        }
        ()
      }
      .start()

    val q1 = startQ()
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.awaitTermination(120000); if (q1.exception.isDefined) throw q1.exception.get
    }
    // nothing committed: the crash landed between fetch and merge
    val afterCrash = store.read(spark).collect()
      .map(r => r.getAs[String]("url") -> r.getAs[String]("status"))
    assert(afterCrash.toSeq == Seq(s"file://$site/a.html" -> Status.Discovered),
      s"merge must not have committed: ${afterCrash.toSeq}")

    val q2 = startQ()
    try q2.processAllAvailable() finally q2.stop()

    // exactly-once frontier state: both pages present exactly once,
    // both FETCHED — the crashed batch was neither lost nor doubled
    val rows = store.read(spark).collect()
      .map(r => r.getAs[String]("url") -> r.getAs[String]("status"))
    assert(rows.length == rows.map(_._1).distinct.length,
      s"duplicated frontier rows: ${rows.toSeq}")
    val byUrl = rows.toMap
    assert(byUrl == Map(
      s"file://$site/a.html" -> Status.Fetched,
      s"file://$site/b.html" -> Status.Fetched), rows.toSeq.toString)
  }

  test("closed crawl loop through the source: each merge schedules the next batch") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._
    import graft.fetch.{FetchStage, ProtocolFactory}
    import graft.filters.UrlFilterChain
    import graft.parse.ParseStage
    import graft.streaming.CrawlTopology

    // two-page site: a links to b
    val site = Files.createTempDirectory("src_site")
    Files.write(site.resolve("a.html"),
      """<html><body><a href="b.html">next</a></body></html>""".getBytes)
    Files.write(site.resolve("b.html"),
      "<html><body>leaf</body></html>".getBytes)

    val root = Files.createTempDirectory("frontier_loop").toString
    val store = new FrontierStore(root)
    val chain = new UrlFilterChain(Seq())
    CrawlTopology.seed(spark, store, Seq(s"file://$site/a.html"), chain)

    val q = CrawlTopology.frontierStream(spark, root, perBucket = 5, maxKeys = 5, limit = 10)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val fetched = FetchStage.fetch(spark, batch, new ProtocolFactory(),
            crawlDelayMs = 0, respectRobots = false)
          fetched.cache()
          val parsed = ParseStage.parse(fetched, chain)
          val statuses = fetched.select(col("url"),
            when(col("redirect_to").isNotNull, Status.Redirection)
              .otherwise(col("status")).as("status"), col("metadata"))
          val outlinks = parsed.where(col("kind").isin("outlink", "redirect"))
            .select(col("target_url").as("url"),
              lit(Status.Discovered).as("status"), col("metadata"))
          // this merge is what schedules the NEXT micro-batch: it bumps
          // the store version the source polls
          store.merge(spark, statuses.unionByName(outlinks), CrawlTopology.now())
          fetched.unpersist()
        }
        ()
      }
      .start()
    try {
      q.processAllAvailable()
      val byUrl = store.read(spark).collect()
        .map(r => r.getAs[String]("url") -> r.getAs[String]("status")).toMap
      // a crawled in batch 1; its merge scheduled batch 2 which crawled
      // the discovered b; b's merge scheduled a final empty selection
      assert(byUrl(s"file://$site/a.html") == Status.Fetched)
      assert(byUrl(s"file://$site/b.html") == Status.Fetched)
    } finally q.stop()
  }
}
