package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

import graft.fetch.ContentStore

/** Content cache keyed by sha256(url): newest capture wins, cache-check
  * splits a batch into hits and misses (S3Cacher/S3CacheChecker). */
class ContentStoreSpec extends AnyFunSuite with LocalSpark {

  private def ts(s: String) = Timestamp.valueOf(s)

  test("store, re-capture supersedes, split serves hits and routes misses") {
    import spark.implicits._
    val dir = Files.createTempDirectory("content").toString
    val cs = new ContentStore(dir)

    cs.store(Seq(
      ("http://a.com/x", "v1".getBytes, ts("2024-01-01 00:00:00")),
      ("http://a.com/y", "yy".getBytes, ts("2024-01-01 00:00:00"))
    ).toDF("url", "content", "fetch_time"))
    // re-fetch of /x appends; read() must surface only the newest bytes
    cs.store(Seq(
      ("http://a.com/x", "v2".getBytes, ts("2024-02-01 00:00:00"))
    ).toDF("url", "content", "fetch_time"))

    val view = cs.read(spark).collect()
    assert(view.length == 2)
    val x = view.find(_.getAs[String]("url") == "http://a.com/x").get
    assert(new String(x.getAs[Array[Byte]]("content")) == "v2")

    val batch = Seq("http://a.com/x", "http://b.com/new").toDF("url")
    val (hits, misses) = cs.split(spark, batch)
    val hit = hits.collect()
    assert(hit.map(_.getAs[String]("url")).toSeq == Seq("http://a.com/x"))
    assert(new String(hit.head.getAs[Array[Byte]]("content")) == "v2")
    assert(misses.select("url").as[String].collect().toSeq == Seq("http://b.com/new"))

    // sharded layout: partition dirs named by the first digest hex digit
    val shards = new java.io.File(dir).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("shard="))
    assert(shards.nonEmpty && shards.forall(_.matches("shard=[0-9a-f]")))
  }

  test("freshness gate: captures older than maxAge become misses (recrawl refreshes)") {
    import spark.implicits._
    val cs = new ContentStore(Files.createTempDirectory("content3").toString)
    cs.store(Seq(("http://a.com/x", "old".getBytes, ts("2024-01-01 00:00:00")))
      .toDF("url", "content", "fetch_time"))
    val batch = Seq("http://a.com/x").toDF("url")
    val asOf = ts("2024-02-01 00:00:00").getTime // 31 days later
    val day = 24L * 3600 * 1000
    val (h1, m1) = cs.split(spark, batch, maxAgeMs = Some(7 * day), asOfMs = asOf)
    assert(h1.count() == 0 && m1.count() == 1) // too old: re-fetch
    val (h2, m2) = cs.split(spark, batch, maxAgeMs = Some(60 * day), asOfMs = asOf)
    assert(h2.count() == 1 && m2.count() == 0) // young enough: serve
  }

  test("crawl loop serves hits from the cache instead of fetching") {
    import graft.fetch.ProtocolFactory
    import graft.filters.UrlFilterChain
    import graft.frontier.FrontierStore
    import graft.streaming.CrawlTopology

    val page = Files.createTempDirectory("page").resolve("p.html")
    Files.write(page, "<html><body>cached page</body></html>".getBytes)
    val url = s"file://$page"
    val cs = new ContentStore(Files.createTempDirectory("content2").toString)
    val chain = new UrlFilterChain(Seq()) // single page, nothing to filter

    // first crawl populates the content store over the wire
    val st1 = new FrontierStore(Files.createTempDirectory("f1").toString)
    CrawlTopology.seed(spark, st1, Seq(url), chain)
    val (s1, docs1) = CrawlTopology.crawlOnce(spark, st1, new ProtocolFactory(), chain,
      crawlDelayMs = 0, respectRobots = false, contentStore = Some(cs))
    docs1.unpersist()
    assert(s1.fetched == 1)
    assert(cs.read(spark).count() == 1)

    // delete the file: any real fetch now FAILS — success proves the
    // second crawl was served from the cache
    Files.delete(page)
    val st2 = new FrontierStore(Files.createTempDirectory("f2").toString)
    CrawlTopology.seed(spark, st2, Seq(url), chain)
    val (s2, docs) = CrawlTopology.crawlOnce(spark, st2, new ProtocolFactory(), chain,
      crawlDelayMs = 0, respectRobots = false, contentStore = Some(cs))
    assert(s2.fetched == 1, s2)
    assert(docs.count() == 1)
    docs.unpersist()
    val row = st2.read(spark).collect().head
    assert(row.getAs[String]("status") == graft.model.Status.Fetched)
  }
}
