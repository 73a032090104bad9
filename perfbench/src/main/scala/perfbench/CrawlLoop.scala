package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.fetch.{ContentStore, ProtocolFactory}
import graft.filters.{BasicUrlFilter, BasicUrlNormalizer, MaxDepthFilter, RegexUrlFilter, SelfUrlFilter, UrlFilterChain}
import graft.frontier.{AdaptiveQueryDate, FrontierStore}
import graft.index.{BandLedger, DigestLedger, JdbcIndexSink}
import graft.streaming.CrawlTopology

/** The standing crawl query over generated file:// corpora: select →
  * fetch (content store, politeness queue) → parse + outlink filter
  * chain → merge → digest and band ledgers → live Derby index sink.
  *
  * Every page of a corpus is seeded, so one cycle fetches the whole
  * corpus and the outlinks it parses merge into URLs the frontier
  * already holds. Set-up is the stores and the seed merge of every
  * corpus; the timed phase crawls each corpus in turn until its
  * frontier has nothing due. The corpus `cold` is the first crawl of
  * the JVM. With `trace`, two more corpora of the same shape follow:
  * `plain` (a warm cycle) and `traced` (a warm `timeLegs = true` cycle),
  * so one run yields the warm-up cost, the leg split and the overhead
  * of measuring it. */
object CrawlLoop {
  final case class Params(hosts: Int, pages: Int, delayMs: Long, trace: Boolean)

  private final case class Stores(store: FrontierStore, content: ContentStore,
                                  digests: DigestLedger, bands: BandLedger,
                                  sink: JdbcIndexSink, jdbcUrl: String)

  /** CrawlLoopBench's chain: allow-everything regex plus the basic,
    * self and depth filters (file:// URLs carry a synthetic authority). */
  private def chain(): UrlFilterChain = new UrlFilterChain(Seq(
    new BasicUrlNormalizer(), new BasicUrlFilter(), new SelfUrlFilter(),
    new MaxDepthFilter(5), RegexUrlFilter.parse(Seq("+."))))

  private def freshStores(dir: Path): Stores = {
    def d(n: String): String = dir.resolve(n).toString
    Files.createDirectories(dir)
    val jdbcUrl = s"jdbc:derby:${d("index")};create=true"
    val sink = new JdbcIndexSink(jdbcUrl, create = true)
    sink.ensureSchema()
    Stores(new FrontierStore(d("frontier"), numBuckets = 64), new ContentStore(d("content")),
      new DigestLedger(d("digests")), new BandLedger(d("bands")), sink, jdbcUrl)
  }

  private def indexedDocs(jdbcUrl: String): Long = {
    val conn = java.sql.DriverManager.getConnection(jdbcUrl)
    try {
      val rs = conn.createStatement().executeQuery("SELECT COUNT(*) FROM content_index")
      rs.next(); rs.getLong(1)
    } finally conn.close()
  }

  def run(spark: SparkSession, counters: Counters, input: Path, work: Path,
          p: Params, markTimed: () => Unit): Map[String, Any] = {
    val ch = chain()
    val limit = p.hosts * p.pages

    def cycle(s: Stores, date: AdaptiveQueryDate, timeLegs: Boolean): Map[String, Any] = {
      val c0 = counters.snapshot(spark)
      val t0 = System.nanoTime()
      val (st, _) = CrawlTopology.crawlOnce(spark, s.store, new ProtocolFactory(), ch,
        perBucket = p.pages, maxKeys = p.hosts, limit = limit,
        crawlDelayMs = p.delayMs, respectRobots = true,
        selectTime = Some(date.queryDate()),
        contentStore = Some(s.content), indexSink = Some(s.sink),
        dedupContent = true, digestLedger = Some(s.digests), bandLedger = Some(s.bands),
        timeLegs = timeLegs)
      val wall = (System.nanoTime() - t0) / 1e9
      date.observe(st.selected, limit)
      if (s.store.generationCount > 16) s.store.compact(spark)
      val c = counters.snapshot(spark) - c0
      // a cycle fetching k pages on a host owes (k − 1) politeness delays
      val floor = math.max(0, math.min(p.pages,
        math.ceil(st.selected.toDouble / p.hosts)).toInt - 1) * p.delayMs / 1000.0
      Map("selected" -> st.selected, "fetched" -> st.fetched, "failed" -> st.failed,
        "wall_s" -> wall, "traced" -> timeLegs,
        "politeness_floor_s" -> floor, "legs" -> st.legs, "spark" -> c.toJson)
    }

    val names = if (p.trace) Seq("cold", "plain", "traced") else Seq("cold")
    val seeded = names.map { n =>
      val seeds = Files.readAllLines(input.resolve(n).resolve("seeds.txt")).asScala.toSeq
        .filter(_.nonEmpty)
      require(seeds.size == p.hosts * p.pages,
        s"seed list $n has ${seeds.size} urls, expected ${p.hosts * p.pages}")
      val stores = freshStores(work.resolve("crawl").resolve(n))
      val t0 = System.nanoTime()
      CrawlTopology.seed(spark, stores.store, seeds, ch)
      (n, stores, (System.nanoTime() - t0) / 1e9)
    }

    markTimed()
    val crawls = seeded.map { case (n, stores, seedS) =>
      val date = new AdaptiveQueryDate()
      val cycles = Iterator.continually(cycle(stores, date, timeLegs = n == "traced"))
        .takeWhile(_("selected").asInstanceOf[Long] > 0).toVector
      val indexed = indexedDocs(stores.jdbcUrl)
      stores.sink.close()
      n -> Map("seed_s" -> seedS, "cycles" -> cycles, "indexed_docs" -> indexed)
    }
    Map("crawls" -> crawls.toMap)
  }
}
