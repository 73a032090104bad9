package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.fetch.ProtocolFactory
import graft.filters.{BasicUrlNormalizer, BasicUrlFilter, RegexUrlFilter, SelfUrlFilter, UrlFilterChain, MaxDepthFilter}
import graft.frontier.FrontierStore
import graft.index.IndexerMapping
import graft.model.Status
import graft.streaming.CrawlTopology

/** The minimum end-to-end slice of SURVEY §7: seed → filter → merge →
  * frontier select → file:// fetch → parse → outlink discovery →
  * re-merge → indexer projection + status counts. */
class CrawlE2ESpec extends AnyFunSuite with LocalSpark {

  // file:// URLs have no host — allow-everything regex chain, keep depth cap
  private val chain = new UrlFilterChain(Seq(
    new BasicUrlNormalizer(), new BasicUrlFilter(), new SelfUrlFilter(),
    new MaxDepthFilter(5),
    RegexUrlFilter.parse(Seq(
      "-(?i)\\.(?:gif|jpg|jpeg|png|ico|css|zip|exe|js)$",
      "+."))))

  private def siteDir: Path = {
    // copy fixtures to a temp dir so file:// urls are self-contained
    val tmp = Files.createTempDirectory("site")
    for (f <- Seq("index.html", "a.html", "b.html", "redir.html", "target.html",
                  "sitemap.xml", "sitemap_index.xml", "feed.rss")) {
      val in = getClass.getClassLoader.getResourceAsStream(s"site/$f")
      Files.copy(in, tmp.resolve(f))
      in.close()
    }
    tmp
  }

  test("a flagged-but-HTML page falls through to the HTML parse") {
    import spark.implicits._
    // discovery tagged it isFeed/isSitemap, but the server returned HTML:
    // the parse must produce a doc row + outlinks, not an empty XML parse
    val html = "<html><body><a href=\"http://site.example/next.html\">n</a>text</body></html>"
    for (flag <- Seq("isSitemap", "isFeed")) {
      val fetched = Seq((s"http://site.example/$flag.html", "site.example",
        graft.model.Status.Fetched, 200, html.getBytes("UTF-8"), "text/html",
        null.asInstanceOf[String], 1L, Map(flag -> Seq("true"))))
        .toDF("url", "key", "status", "http_code", "content", "content_type",
          "redirect_to", "fetch_ms", "metadata")
      val out = graft.parse.ParseStage.parse(fetched,
        new graft.filters.UrlFilterChain(Seq())).collect()
      assert(out.exists(_.getAs[String]("kind") == "doc"), s"$flag: no doc row")
      assert(out.exists(r => r.getAs[String]("kind") == "outlink" &&
        r.getAs[String]("target_url") == "http://site.example/next.html"),
        s"$flag: outlink lost")
    }
  }


  test("mini-crawl over file:// fixtures: fetch, parse, discover, merge, index") {
    val dir = siteDir
    val store = new FrontierStore(Files.createTempDirectory("frontier").toString)
    CrawlTopology.seed(spark, store, Seq(s"file://$dir/index.html"), chain)
    assert(store.read(spark).count() == 1)

    val stats = CrawlTopology.crawl(spark, store,
      t => CrawlTopology.crawlOnce(spark, store, new ProtocolFactory(), chain,
        crawlDelayMs = 0, respectRobots = false, selectTime = Some(t)),
      maxIterations = 5)

    // crawl reached every linked page
    val rows = store.read(spark).collect()
    val byUrl = rows.map(r => r.getAs[String]("url") -> r.getAs[String]("status")).toMap
    assert(byUrl(s"file://$dir/index.html") == Status.Fetched)
    assert(byUrl(s"file://$dir/a.html") == Status.Fetched)
    assert(byUrl(s"file://$dir/b.html") == Status.Fetched)
    assert(byUrl(s"file://$dir/redir.html") == Status.Fetched)
    // meta-refresh target discovered and fetched
    assert(byUrl(s"file://$dir/target.html") == Status.Fetched)
    // 404 page: external link filtered by nothing here (other-domain is http)
    // nofollow secret.html never discovered
    assert(!byUrl.contains(s"file://$dir/secret.html"))
    // jpg filtered by regex chain
    assert(!byUrl.keys.exists(_.endsWith("pic.jpg")))
    // the http:// external link was discovered but not fetched (no server):
    val ext = byUrl.find(_._1.startsWith("http://other-domain.example"))
    assert(ext.nonEmpty)

    // b.html's base-href link resolved against basehost
    assert(byUrl.keys.exists(_.startsWith("http://basehost.example/sub/c.html")))

    // total fetched counts match stats accumulation
    assert(stats.map(_.docs).sum >= 4)
  }

  test("per-cycle change metrics: SnapshotDiff over the frontier between crawl cycles") {
    val dir = siteDir
    val store = new FrontierStore(Files.createTempDirectory("frontier").toString)
    CrawlTopology.seed(spark, store, Seq(s"file://$dir/index.html"), chain)
    val before = store.read(spark).select("url", "status")
    before.cache(); before.count() // freeze the pre-cycle snapshot
    val (_, docs) = CrawlTopology.crawlOnce(spark, store, new ProtocolFactory(), chain,
      crawlDelayMs = 0, respectRobots = false)
    docs.unpersist()
    val after = store.read(spark).select("url", "status")
    val delta = graft.operators.SnapshotDiff
      .diff(before, after, Seq("url"), Seq("status"))
      .collect().map(r => (r.getString(0), r.getAs[String]("change"))).toMap
    before.unpersist()
    // the seed was fetched this cycle: CHANGED DISCOVERED -> FETCHED
    assert(delta(s"file://$dir/index.html") == "CHANGED")
    // its outlinks are new frontier rows: ADDED (and nothing REMOVED —
    // the status merge never deletes)
    assert(delta(s"file://$dir/a.html") == "ADDED")
    assert(delta(s"file://$dir/b.html") == "ADDED")
    assert(!delta.values.exists(_ == "REMOVED"))
  }

  test("sitemap + feed branches discover their entries") {
    val dir = siteDir
    val store = new FrontierStore(Files.createTempDirectory("frontier").toString)
    import spark.implicits._
    val seeds = Seq(
      (s"file://$dir/sitemap_index.xml", Status.Discovered, Map("isSitemap" -> Seq("true"))),
      (s"file://$dir/feed.rss", Status.Discovered, Map("isFeed" -> Seq("true"))))
      .toDF("url", "status", "metadata")
    store.merge(spark, seeds)

    CrawlTopology.crawl(spark, store,
      t => CrawlTopology.crawlOnce(spark, store, new ProtocolFactory(), chain,
        crawlDelayMs = 0, respectRobots = false, selectTime = Some(t)),
      maxIterations = 3)

    val urls = store.read(spark).collect().map(_.getAs[String]("url")).toSet
    // sitemap index -> sub-sitemap -> page urls
    assert(urls.contains("http://site.example/sitemap.xml"))
    // feed items discovered
    assert(urls.contains("http://site.example/i1.html"))
    assert(urls.contains("http://site.example/i2.html"))
  }

  test("indexer projection gates noindex docs and maps metadata") {
    val dir = siteDir
    val store = new FrontierStore(Files.createTempDirectory("frontier").toString)
    CrawlTopology.seed(spark, store, Seq(s"file://$dir/index.html"), chain)
    val docsOut = Files.createTempDirectory("docs").toString + "/docs"
    CrawlTopology.crawl(spark, store,
      t => CrawlTopology.crawlOnce(spark, store, new ProtocolFactory(), chain,
        crawlDelayMs = 0, respectRobots = false, selectTime = Some(t)),
      maxIterations = 5, docsOut = Some(docsOut))

    val docs = spark.read.parquet(docsOut)
    val all = docs.collect().map(_.getAs[String]("url")).toSet
    assert(all.contains(s"file://$dir/index.html"))

    // a.html has meta robots noindex -> docs row flagged; indexer drops it
    val indexed = IndexerMapping(textMaxLength = 50)(
      docs.withColumn("metadata", map().cast("map<string,array<string>>")))
    val indexedUrls = indexed.collect().map(_.getAs[String]("url")).toSet
    assert(!indexedUrls.contains(s"file://$dir/a.html"))
    assert(indexedUrls.contains(s"file://$dir/index.html"))
    assert(indexed.collect().forall(_.getAs[String]("text").length <= 50))
  }

  test("binary docs: pdf text + link annotation crawled; junk pdf → ERROR") {
    val dir = siteDir
    Files.write(dir.resolve("doc.pdf"), graft.parse.BinaryDocs.makePdf(
      "pdf body text", Some("PDF Doc"), links = Seq(s"file://$dir/linked.rtf")))
    Files.write(dir.resolve("linked.rtf"), graft.parse.BinaryDocs.makeRtf("rtf body"))
    Files.write(dir.resolve("bad.pdf"), Array.tabulate[Byte](64)(i => (i * 7).toByte))
    val store = new FrontierStore(Files.createTempDirectory("frontier").toString)
    CrawlTopology.seed(spark, store,
      Seq(s"file://$dir/doc.pdf", s"file://$dir/bad.pdf"), chain)
    val docsOut = Files.createTempDirectory("docs").toString + "/docs"
    CrawlTopology.crawl(spark, store,
      t => CrawlTopology.crawlOnce(spark, store, new ProtocolFactory(), chain,
        crawlDelayMs = 0, respectRobots = false, selectTime = Some(t)),
      maxIterations = 3, docsOut = Some(docsOut))

    val byUrl = store.read(spark).collect()
      .map(r => r.getAs[String]("url") -> r.getAs[String]("status")).toMap
    assert(byUrl(s"file://$dir/doc.pdf") == Status.Fetched)
    // the /URI annotation was discovered, filtered, fetched, rtf-parsed
    assert(byUrl(s"file://$dir/linked.rtf") == Status.Fetched)
    // unparseable-but-declared-pdf: ParserBolt.handleException → ERROR
    assert(byUrl(s"file://$dir/bad.pdf") == Status.Error)

    val docs = spark.read.parquet(docsOut).collect()
    val pdfDoc = docs.find(_.getAs[String]("url").endsWith("doc.pdf")).get
    assert(pdfDoc.getAs[String]("text") == "pdf body text")
    assert(pdfDoc.getAs[String]("title") == "PDF Doc")
    val rtfDoc = docs.find(_.getAs[String]("url").endsWith("linked.rtf")).get
    assert(rtfDoc.getAs[String]("text") == "rtf body")
    assert(!docs.exists(_.getAs[String]("url").endsWith("bad.pdf")))
  }

  test("dedupContent: identical bytes at two URLs index once, status rows for both") {
    val dir = Files.createTempDirectory("dupsite")
    val html = "<html><head><title>D</title></head><body>same content on two urls</body></html>"
    Files.write(dir.resolve("dup1.html"), html.getBytes("UTF-8"))
    Files.write(dir.resolve("dup2.html"), html.getBytes("UTF-8"))
    Files.write(dir.resolve("other.html"),
      "<html><body>different content</body></html>".getBytes("UTF-8"))
    val store = new FrontierStore(Files.createTempDirectory("frontier").toString)
    CrawlTopology.seed(spark, store, Seq(
      s"file://$dir/dup1.html", s"file://$dir/dup2.html", s"file://$dir/other.html"), chain)
    val indexed = scala.collection.mutable.Buffer.empty[String]
    val sink = new graft.index.IndexSink {
      def indexBatch(docs: org.apache.spark.sql.DataFrame): Unit =
        indexed ++= docs.select("url").collect().map(_.getString(0))
      def deleteBatch(urls: org.apache.spark.sql.DataFrame): Unit = ()
    }
    CrawlTopology.crawl(spark, store,
      t => CrawlTopology.crawlOnce(spark, store, new ProtocolFactory(), chain,
        crawlDelayMs = 0, respectRobots = false, indexSink = Some(sink),
        dedupContent = true, selectTime = Some(t)),
      maxIterations = 2)
    // every url keeps its own status row — dedup only gates the index
    val byUrl = store.read(spark).collect()
      .map(r => r.getAs[String]("url") -> r.getAs[String]("status")).toMap
    assert(byUrl(s"file://$dir/dup1.html") == Status.Fetched)
    assert(byUrl(s"file://$dir/dup2.html") == Status.Fetched)
    assert(byUrl(s"file://$dir/other.html") == Status.Fetched)
    // identical content indexed once (lexicographically-first url wins);
    // distinct content untouched
    assert(indexed.toSet == Set(s"file://$dir/dup1.html", s"file://$dir/other.html"),
      s"indexed: $indexed")
  }

  test("digest ledger: identical content in a LATER batch never re-indexes") {
    val dir = Files.createTempDirectory("ledgersite")
    val html = "<html><head><title>L</title></head><body>ledger dedup body</body></html>"
    Files.write(dir.resolve("first.html"), html.getBytes("UTF-8"))
    val store = new FrontierStore(Files.createTempDirectory("frontier").toString)
    val ledger = new graft.index.DigestLedger(
      Files.createTempDirectory("ledger").toString + "/digests")
    val indexed = scala.collection.mutable.Buffer.empty[String]
    val sink = new graft.index.IndexSink {
      def indexBatch(docs: org.apache.spark.sql.DataFrame): Unit =
        indexed ++= docs.select("url").collect().map(_.getString(0))
      def deleteBatch(urls: org.apache.spark.sql.DataFrame): Unit = ()
    }
    // round 1: first.html indexes and its digest lands in the ledger
    CrawlTopology.seed(spark, store, Seq(s"file://$dir/first.html"), chain)
    CrawlTopology.crawl(spark, store,
      t => CrawlTopology.crawlOnce(spark, store, new ProtocolFactory(), chain,
        crawlDelayMs = 0, respectRobots = false, indexSink = Some(sink),
        dedupContent = true, digestLedger = Some(ledger), selectTime = Some(t)),
      maxIterations = 2)
    assert(indexed.toSeq == Seq(s"file://$dir/first.html"))
    // round 2: a MIXED batch — a NEW url serving byte-identical content
    // (batch-scoped dedup can't see it; the ledger must) AND a
    // genuinely new page that must still index (guards the
    // recache-by-path trap: recording the fresh digest must not
    // retroactively suppress the doc that brought it)
    Files.write(dir.resolve("second.html"), html.getBytes("UTF-8"))
    Files.write(dir.resolve("novel.html"),
      "<html><body>content the ledger has never seen</body></html>".getBytes("UTF-8"))
    CrawlTopology.seed(spark, store,
      Seq(s"file://$dir/second.html", s"file://$dir/novel.html"), chain)
    CrawlTopology.crawl(spark, store,
      t => CrawlTopology.crawlOnce(spark, store, new ProtocolFactory(), chain,
        crawlDelayMs = 0, respectRobots = false, indexSink = Some(sink),
        dedupContent = true, digestLedger = Some(ledger), selectTime = Some(t)),
      maxIterations = 2)
    assert(indexed.toSet == Set(s"file://$dir/first.html", s"file://$dir/novel.html"),
      s"indexed: $indexed")
    // both urls crawled and FETCHED — only indexing was gated
    val byUrl = store.read(spark).collect()
      .map(r => r.getAs[String]("url") -> r.getAs[String]("status")).toMap
    assert(byUrl(s"file://$dir/first.html") == Status.Fetched)
    assert(byUrl(s"file://$dir/second.html") == Status.Fetched)
  }

  test("band ledger: near-duplicate content in a LATER batch never re-indexes; distinct content does") {
    import spark.implicits._
    val dir = Files.createTempDirectory("bandsite")
    val baseText = "the quick brown fox jumps over the lazy dog near the river bank today"
    def bandsOf(text: String): Set[String] =
      graft.index.BandLedger.bandKeys(Seq(text).toDF("text"), "text")
        .select("bk").collect().map(_.getString(0)).toSet
    // a near-dup: append the first candidate word that leaves at least
    // one MinHash band unchanged (robust to the hash function's values)
    val base = bandsOf(baseText)
    val nearText = (0 until 200).iterator
      .map(i => s"$baseText extra$i")
      .find(t => bandsOf(t).intersect(base).nonEmpty)
      .getOrElse(fail("no band-preserving edit found — widen the candidate list"))
    val farText = "completely different content with no shared vocabulary at all whatsoever"
    assert(bandsOf(farText).intersect(base).isEmpty)

    // NO title: the parser folds title words into the extracted text,
    // and a shared title word could own both signature minima
    def page(t: String) = s"<html><body>$t</body></html>"
    Files.write(dir.resolve("first.html"), page(baseText).getBytes("UTF-8"))
    val store = new FrontierStore(Files.createTempDirectory("frontier").toString)
    val ledger = new graft.index.BandLedger(
      Files.createTempDirectory("bands").toString + "/bands")
    val indexed = scala.collection.mutable.Buffer.empty[String]
    val sink = new graft.index.IndexSink {
      def indexBatch(docs: org.apache.spark.sql.DataFrame): Unit =
        indexed ++= docs.select("url").collect().map(_.getString(0))
      def deleteBatch(urls: org.apache.spark.sql.DataFrame): Unit = ()
    }
    CrawlTopology.seed(spark, store, Seq(s"file://$dir/first.html"), chain)
    CrawlTopology.crawl(spark, store,
      t => CrawlTopology.crawlOnce(spark, store, new ProtocolFactory(), chain,
        crawlDelayMs = 0, respectRobots = false, indexSink = Some(sink),
        bandLedger = Some(ledger), selectTime = Some(t)),
      maxIterations = 2)
    assert(indexed.toSeq == Seq(s"file://$dir/first.html"))
    // round 2: one near-dup (different bytes, shared band) and one
    // genuinely new page — only the new page may index
    Files.write(dir.resolve("near.html"), page(nearText).getBytes("UTF-8"))
    Files.write(dir.resolve("far.html"), page(farText).getBytes("UTF-8"))
    CrawlTopology.seed(spark, store,
      Seq(s"file://$dir/near.html", s"file://$dir/far.html"), chain)
    CrawlTopology.crawl(spark, store,
      t => CrawlTopology.crawlOnce(spark, store, new ProtocolFactory(), chain,
        crawlDelayMs = 0, respectRobots = false, indexSink = Some(sink),
        bandLedger = Some(ledger), selectTime = Some(t)),
      maxIterations = 2)
    assert(indexed.toSet == Set(s"file://$dir/first.html", s"file://$dir/far.html"),
      s"indexed: $indexed")
    // the near-dup still got its status row — only indexing was gated
    val byUrl = store.read(spark).collect()
      .map(r => r.getAs[String]("url") -> r.getAs[String]("status")).toMap
    assert(byUrl(s"file://$dir/near.html") == Status.Fetched)
  }

  test("politeness: same-host fetches spaced by crawl delay") {
    val dir = siteDir
    val store = new FrontierStore(Files.createTempDirectory("frontier").toString)
    CrawlTopology.seed(spark, store, Seq(s"file://$dir/index.html"), chain)
    val t0 = System.currentTimeMillis()
    // first batch: 1 url; second batch: several same-host urls with 200ms delay
    CrawlTopology.crawl(spark, store,
      t => CrawlTopology.crawlOnce(spark, store, new ProtocolFactory(), chain,
        crawlDelayMs = 200, respectRobots = false, selectTime = Some(t)),
      maxIterations = 2)
    val elapsed = System.currentTimeMillis() - t0
    // batch 2 fetches >= 4 same-key urls -> >= 3 gaps of 200ms
    assert(elapsed >= 600, s"politeness not enforced: ${elapsed}ms")
  }
}
