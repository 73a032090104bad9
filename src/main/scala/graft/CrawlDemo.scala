package graft

import java.nio.file.Files

import graft.fetch.ProtocolFactory
import graft.filters._
import graft.frontier.FrontierStore
import graft.streaming.CrawlTopology

/** End-to-end demo: crawl a local `file://` site (a directory of HTML /
  * sitemap / feed files) or any http(s)/file URL seed, print
  * per-iteration stats and the final frontier status counts.
  *
  * Usage: runMain graft.CrawlDemo <siteDir | seedUrl> [maxIterations]
  */
object CrawlDemo {
  def main(args: Array[String]): Unit = {
    val target = args.headOption.getOrElse(
      sys.error("usage: CrawlDemo <siteDir|seedUrl> [maxIterations]"))
    val seedUrl =
      if (target.contains("://")) target else s"file://$target/index.html"
    val maxIter = args.lift(1).map(_.toInt).getOrElse(5)

    val spark = Session.local()

    val chain = new UrlFilterChain(Seq(
      new BasicUrlNormalizer(), new BasicUrlFilter(), new SelfUrlFilter(),
      new MaxDepthFilter(10),
      RegexUrlFilter.parse(Seq(
        "-(?i)\\.(?:gif|jpg|jpeg|png|ico|css|zip|exe|js)$", "+."))))

    val store = new FrontierStore(Files.createTempDirectory("frontier").toString)
    CrawlTopology.seed(spark, store, Seq(seedUrl), chain)

    val stats = CrawlTopology.crawl(spark, store,
      t => CrawlTopology.crawlOnce(spark, store, new ProtocolFactory(), chain,
        crawlDelayMs = 100, respectRobots = seedUrl.startsWith("http"),
        selectTime = Some(t)),
      maxIterations = maxIter)
    stats.zipWithIndex.foreach { case (s, i) =>
      println(s"iter $i: selected=${s.selected} fetched=${s.fetched} " +
        s"failed=${s.failed} docs=${s.docs} discovered=${s.discovered}")
    }
    println("final frontier:")
    store.statusCounts(spark).orderBy("status").collect()
      .foreach(r => println(s"  ${r.getString(0)}: ${r.getLong(1)}"))

    // archive the crawled site as WARC and read it back (WARCSpout /
    // WARCHdfsBolt roundtrip)
    // select "2 days from now" so pages re-scheduled after FETCHED are due
    val batch = store.selectBatch(spark,
      new java.sql.Timestamp(System.currentTimeMillis() + 2L * 86400 * 1000),
      perBucket = 100, maxKeys = 100, limit = 1000)
    val refetched = graft.fetch.FetchStage.fetch(spark, batch,
      new ProtocolFactory(), crawlDelayMs = 0, respectRobots = false)
      .where(org.apache.spark.sql.functions.col("status") === "FETCHED")
    val warcDir = Files.createTempDirectory("warc").toString
    graft.sources.Warc.write(refetched, warcDir)
    val replayed = graft.sources.Warc.read(spark, warcDir)
    println(s"warc roundtrip: archived+replayed ${replayed.count()} responses from $warcDir")
    spark.stop()
  }
}
