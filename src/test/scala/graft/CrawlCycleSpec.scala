package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.graft.CacheEntries
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.fetch.{ContentStore, Protocol, ProtocolFactory, ProtocolResponse}
import graft.filters.{BasicUrlFilter, BasicUrlNormalizer, MaxDepthFilter, RegexUrlFilter, SelfUrlFilter, UrlFilterChain}
import graft.frontier.FrontierStore
import graft.index.{BandLedger, DigestLedger, IndexSink}
import graft.model.Status
import graft.streaming.CrawlTopology

/** Serves every http URL an HTML page naming it and counts the fetches
  * (tasks run in this JVM under `local[…]`). */
object CountingProtocol extends Protocol {
  val fetches = new java.util.concurrent.atomic.AtomicInteger()
  def fetch(url: String, metadata: Map[String, Seq[String]]): ProtocolResponse = {
    fetches.incrementAndGet()
    ProtocolResponse(s"<html><body>page at $url</body></html>".getBytes("UTF-8"), 200,
      Map("Content-Type" -> Seq("text/html")))
  }
}

/** The fixed cost of a crawl cycle: the frontier merge writes in
  * parallel through one exchange, a cycle leaves no cache behind, every
  * job of a cycle is labelled with its leg, and no plan of a cycle grows
  * with its batch. */
class CrawlCycleSpec extends AnyFunSuite with LocalSpark {

  private val chain = new UrlFilterChain(Seq(
    new BasicUrlNormalizer(), new BasicUrlFilter(), new SelfUrlFilter(),
    new MaxDepthFilter(5), RegexUrlFilter.parse(Seq("+."))))

  /** A ring of `pages` file:// pages, each linking to the next. */
  private def site(pages: Int): Seq[String] = {
    val dir = Files.createTempDirectory("cycle")
    (0 until pages).map { i =>
      Files.write(dir.resolve(s"p$i.html"),
        (s"<html><head><title>P$i</title></head><body>page $i of the ring " +
          s"""<a href="p${(i + 1) % pages}.html">next</a></body></html>""").getBytes("UTF-8"))
      s"file://$dir/p$i.html"
    }
  }

  private val noopSink = new IndexSink {
    def indexBatch(docs: DataFrame): Unit = docs.count(): Unit
    def deleteBatch(urls: DataFrame): Unit = urls.count(): Unit
  }

  /** Job starts (with their local properties), task counts per stage and
    * the physical plan text of every SQL execution start and adaptive
    * re-plan. Listener delivery is asynchronous: [[drain]] runs a marker
    * job and waits for its end, after which every earlier event has
    * arrived. */
  private class JobLog extends SparkListener {
    val jobs = new ConcurrentLinkedQueue[SparkListenerJobStart]()
    val tasks = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val plans = new ConcurrentLinkedQueue[String]()
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => plans.add(s.physicalPlanDescription)
      case u: SparkListenerSQLAdaptiveExecutionUpdate => plans.add(u.physicalPlanDescription)
      case _ =>
    }
    @volatile private var markerJob = -1
    @volatile var markerDone = false
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (e.properties.getProperty("spark.jobGroup.id") == "marker") markerJob = e.jobId
      else jobs.add(e)
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (e.jobId == markerJob) markerDone = true
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      tasks.merge(e.stageId, 1, (a: Int, b: Int) => a + b)
    def group(id: String): Seq[SparkListenerJobStart] = jobs.asScala.toSeq
      .filter(_.properties.getProperty("spark.jobGroup.id") == id).sortBy(_.jobId)
  }

  private def withJobLog[T](body: JobLog => T): T = {
    val sc = spark.sparkContext
    val log = new JobLog
    sc.addSparkListener(log)
    try body(log) finally sc.removeSparkListener(log)
  }

  private def drain(log: JobLog): Unit = {
    val sc = spark.sparkContext
    sc.setJobGroup("marker", "listener drain")
    try spark.range(1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (!log.markerDone && System.nanoTime() < deadline) Thread.sleep(10)
    assert(log.markerDone, "listener events did not drain")
  }

  test("merge writes a many-bucket delta from several tasks through exactly one bucket exchange") {
    import spark.implicits._
    val sc = spark.sparkContext
    val store = new FrontierStore(Files.createTempDirectory("merge").toString) // 64 buckets
    val updates = (0 until 200)
      .map(i => (s"http://h$i.example/p", Status.Discovered, Map.empty[String, Seq[String]]))
      .toDF("url", "status", "metadata")
    val plans = new ConcurrentLinkedQueue[String]()
    val qel = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(qel)
    // the write is the merge's last job; its result stage is its last stage
    val writeTasks = try withJobLog { log =>
      sc.setJobGroup("merge-under-test", "frontier merge")
      try store.merge(spark, updates) finally sc.clearJobGroup()
      drain(log)
      log.tasks.getOrDefault(log.group("merge-under-test").last.stageIds.max, 0)
    } finally spark.listenerManager.unregister(qel)

    assert(store.read(spark).count() == 200)
    val writes = plans.asScala.filter(_.contains("InsertIntoHadoopFsRelationCommand")).toSeq
    assert(writes.size == 1, plans.asScala.mkString("\n----\n"))
    // the final adaptive plan only (the string appends the initial one);
    // "Exchange " not preceded by a letter skips broadcast/reused nodes
    val fin = writes.head.split("== Initial Plan ==")(0)
    val exchanges = fin.linesIterator.filter(_.matches(".*(?<![A-Za-z])Exchange .*")).toSeq
    assert(exchanges.size == 1 && exchanges.head.contains("hashpartitioning(bucket"), fin)
    assert(writeTasks > 1, s"the delta write ran $writeTasks task(s)")
  }

  test("crawl() releases every cycle cache: persistent RDDs stay flat over 3 runs") {
    val sc = spark.sparkContext
    val work = Files.createTempDirectory("flat")
    def d(n: String): String = work.resolve(n).toString
    val digests = new DigestLedger(d("digests"))
    val bands = new BandLedger(d("bands"))
    val before = sc.getPersistentRDDs.size
    val counts = (1 to 3).map { i =>
      val store = new FrontierStore(d(s"frontier$i"))
      CrawlTopology.seed(spark, store, site(4), chain)
      val stats = CrawlTopology.crawl(spark, store, new ProtocolFactory(), chain,
        maxIterations = 3, docsOut = Some(d(s"docs$i")), crawlDelayMs = 0,
        respectRobots = false, indexSink = Some(noopSink), dedupContent = true,
        digestLedger = Some(digests), bandLedger = Some(bands))
      assert(stats.map(_.fetched).sum == 4)
      assert(spark.read.parquet(d(s"docs$i")).count() == 4)
      sc.getPersistentRDDs.size
    }
    assert(counts == Seq.fill(3)(before))
  }

  test("crawlOnce hands back readable docs and keeps no other cache, timed or not") {
    val sc = spark.sparkContext
    val work = Files.createTempDirectory("once")
    val before = sc.getPersistentRDDs.size
    for ((content, timeLegs) <- Seq((false, true), (true, true), (true, false))) {
      val store = new FrontierStore(Files.createTempDirectory(work, "f").toString)
      CrawlTopology.seed(spark, store, site(3), chain)
      val (st, docs) = CrawlTopology.crawlOnce(spark, store, new ProtocolFactory(), chain,
        crawlDelayMs = 0, respectRobots = false, timeLegs = timeLegs,
        contentStore =
          if (content) Some(new ContentStore(Files.createTempDirectory(work, "c").toString))
          else None)
      assert(st.fetched == 3 && st.docs == 3 && st.discovered == 3)
      assert(docs.count() == 3)
      docs.unpersist()
      assert(sc.getPersistentRDDs.size == before, s"content=$content timeLegs=$timeLegs")
    }
  }

  test("a cycle whose sink interrupts its thread fails and leaves no cache entry behind") {
    // what a stopped stream does to its batch thread: the interrupt lands
    // mid-cycle, with every boundary of the cycle cached
    val store = new FrontierStore(Files.createTempDirectory("interrupted").toString)
    CrawlTopology.seed(spark, store, site(3), chain)
    val interrupting = new IndexSink {
      def indexBatch(docs: DataFrame): Unit = {
        Thread.currentThread().interrupt()
        throw new InterruptedException("indexing stopped")
      }
      def deleteBatch(urls: DataFrame): Unit = ()
    }
    val before = CacheEntries.count(spark)
    intercept[InterruptedException] {
      CrawlTopology.crawlOnce(spark, store, new ProtocolFactory(), chain,
        crawlDelayMs = 0, respectRobots = false, indexSink = Some(interrupting))
    }
    val kept = Thread.interrupted() // and cleared for the specs after this one
    assert(CacheEntries.count(spark) == before)
    assert(kept, "the interrupt flag is kept")
  }

  test("with a non-empty content store, a miss is fetched once and stays a live fetch") {
    val work = Files.createTempDirectory("frozen")
    val Seq(a, b) = site(2)
    val cs = new ContentStore(work.resolve("content").toString)
    def cacheHits(urls: Seq[String]): Map[String, Boolean] = {
      val store = new FrontierStore(Files.createTempDirectory(work, "f").toString)
      CrawlTopology.seed(spark, store, urls, chain)
      val (st, docs) = CrawlTopology.crawlOnce(spark, store, new ProtocolFactory(), chain,
        crawlDelayMs = 0, respectRobots = false, contentStore = Some(cs))
      docs.unpersist()
      assert(st.fetched == urls.size && st.failed == 0)
      store.read(spark).collect().map(r => r.getAs[String]("url") ->
        r.getAs[scala.collection.Map[String, Seq[String]]]("metadata").contains("cache.hit"))
        .toMap.filter { case (u, _) => urls.contains(u) }
    }
    assert(cacheHits(Seq(a)) == Map(a -> false))
    // a is served from the store; b is fetched over the wire, and the
    // append of its capture must not turn its row into a cache hit
    assert(cacheHits(Seq(a, b)) == Map(a -> true, b -> false))
  }

  test("every job of a cycle is labelled with its leg, and the caller's label is restored") {
    val sc = spark.sparkContext
    val work = Files.createTempDirectory("labels")
    def d(n: String): String = work.resolve(n).toString
    val store = new FrontierStore(d("frontier"))
    CrawlTopology.seed(spark, store, site(3), chain)
    val labels = withJobLog { log =>
      sc.setJobGroup("cycle", "labelled cycle")
      sc.setJobDescription("outer")
      try {
        val (_, docs) = CrawlTopology.crawlOnce(spark, store, new ProtocolFactory(), chain,
          crawlDelayMs = 0, respectRobots = false,
          contentStore = Some(new ContentStore(d("content"))),
          indexSink = Some(noopSink), dedupContent = true,
          digestLedger = Some(new DigestLedger(d("digests"))),
          bandLedger = Some(new BandLedger(d("bands"))))
        docs.unpersist()
        assert(sc.getLocalProperty("spark.job.description") == "outer")
      } finally {
        sc.setJobDescription(null)
        sc.clearJobGroup()
      }
      drain(log)
      log.group("cycle").map(_.properties.getProperty("spark.job.description"))
    }
    val legs = Set("select", "content_store", "merge", "digest_ledger", "band_ledger",
      "index_sink", "stats_counts").map(l => s"crawl.$l")
    assert(labels.nonEmpty && labels.forall(legs.contains), labels.distinct)
    assert(legs.forall(labels.contains), labels.distinct)
  }

  /** Item counts of the literal lists in a plan's text: `x IN (a,b)` and
    * the `x INSET a, b` form the optimizer gives lists of over ten. */
  private def literalLists(plan: String): Seq[Int] =
    ("""\bIN \(([^()]*)\)""".r.findAllMatchIn(plan).map(_.group(1).split(",").length) ++
      """\bINSET ([^,\s\])]+(?:, [^,\s\])]+)*)""".r.findAllMatchIn(plan)
        .map(_.group(1).split(", ").length)).toSeq

  test("a cycle's plans do not grow with its batch: no plan nests the cycle or lists its keys") {
    def plans(pages: Int): Seq[String] = {
      val work = Files.createTempDirectory("plansize")
      def d(n: String): String = work.resolve(n).toString
      val store = new FrontierStore(d("frontier"))
      CrawlTopology.seed(spark, store, site(pages), chain)
      withJobLog { log =>
        val (st, docs) = CrawlTopology.crawlOnce(spark, store, new ProtocolFactory(), chain,
          perBucket = 100, limit = 100, crawlDelayMs = 0, respectRobots = false,
          contentStore = Some(new ContentStore(d("content"))),
          indexSink = Some(noopSink), dedupContent = true,
          digestLedger = Some(new DigestLedger(d("digests"))),
          bandLedger = Some(new BandLedger(d("bands"))))
        docs.unpersist()
        assert(st.fetched == pages)
        drain(log)
        log.plans.asScala.toSeq
      }
    }
    val (small, large) = (plans(3), plans(30))
    val (longest3, longest30) = (small.map(_.length).max, large.map(_.length).max)
    assert(longest30 <= 1.2 * longest3, s"longest plan: $longest3 chars at 3 pages, " +
      s"$longest30 at 30:\n${large.maxBy(_.length)}")
    // a plan that nests the cycle is as long at 3 pages as at 30: bound
    // it outright (a leg's own plan is about 12 000 chars; the cycle
    // nested under a later leg ran to 1.6 million)
    assert(longest30 <= 64 * 1024, s"a plan of $longest30 chars")
    for (p <- small ++ large; n <- literalLists(p))
      assert(n <= 16, s"a literal list of $n items:\n$p")
  }

  test("a recrawl whose digests and bands are all known indexes nothing and suppresses every doc") {
    val work = Files.createTempDirectory("recrawl")
    def d(n: String): String = work.resolve(n).toString
    val pages = site(4)
    val digests = new DigestLedger(d("digests"))
    val bands = new BandLedger(d("bands"))
    def ledgerRows: (Long, Long) =
      (spark.read.parquet(d("digests")).count(), spark.read.parquet(d("bands")).count())
    /** (doc urls of the cycle, urls it indexed) */
    def crawl(digestLedger: Option[DigestLedger]): (Set[String], Set[String]) = {
      val indexed = new ConcurrentLinkedQueue[String]()
      val sink = new IndexSink {
        def indexBatch(docs: DataFrame): Unit =
          docs.select("url").collect().foreach(r => indexed.add(r.getString(0)))
        def deleteBatch(urls: DataFrame): Unit = ()
      }
      val store = new FrontierStore(Files.createTempDirectory(work, "f").toString)
      CrawlTopology.seed(spark, store, pages, chain)
      val (_, docs) = CrawlTopology.crawlOnce(spark, store, new ProtocolFactory(), chain,
        crawlDelayMs = 0, respectRobots = false, indexSink = Some(sink),
        dedupContent = true, digestLedger = digestLedger, bandLedger = Some(bands))
      val urls = docs.select("url").collect().map(_.getString(0)).toSet
      docs.unpersist()
      (urls, indexed.asScala.toSet)
    }
    val first = crawl(Some(digests))
    assert(first == ((pages.toSet, pages.toSet)))
    val recorded = ledgerRows
    // every digest is known: the digest ledger's anti-join leaves nothing
    assert(crawl(Some(digests)) == ((pages.toSet, Set.empty[String])))
    // every doc's bands are known: the band ledger's anti-join suppresses all
    assert(crawl(None) == ((pages.toSet, Set.empty[String])))
    assert(ledgerRows == recorded)
  }

  test("with a content store, each miss is fetched exactly once and each hit not at all") {
    val work = Files.createTempDirectory("fetchonce")
    val urls = (0 until 6).map(i => s"http://h$i.example/p")
    val cs = new ContentStore(work.resolve("content").toString)
    def fetches(seeds: Seq[String]): Int = {
      val store = new FrontierStore(Files.createTempDirectory(work, "f").toString)
      CrawlTopology.seed(spark, store, seeds, chain)
      CountingProtocol.fetches.set(0)
      val (st, docs) = CrawlTopology.crawlOnce(spark, store,
        new ProtocolFactory(CountingProtocol), chain, crawlDelayMs = 0,
        respectRobots = false, contentStore = Some(cs))
      assert(st.fetched == seeds.size && st.docs == seeds.size)
      docs.unpersist()
      CountingProtocol.fetches.get
    }
    assert(fetches(urls.take(3)) == 3)
    // the store now has rows, so the hits read it: the cycle's append of
    // the misses' captures must not make a later leg re-run their fetch
    assert(fetches(urls) == 3)
    assert(fetches(urls) == 0)
  }

  test("a cycle lists the frontier's bucket paths once, for the select and the merge") {
    // 200 hosts fill most of the 64 buckets: a read of over 32 paths
    // lists them in a Spark job
    val urls = (0 until 200).map(i => s"http://h$i.example/p")
    val store = new FrontierStore(Files.createTempDirectory("listing").toString)
    CrawlTopology.seed(spark, store, urls, chain)
    val listings = withJobLog { log =>
      val (st, docs) = CrawlTopology.crawlOnce(spark, store,
        new ProtocolFactory(CountingProtocol), chain, maxKeys = 200, crawlDelayMs = 0,
        respectRobots = false)
      docs.unpersist()
      assert(st.fetched == urls.size)
      drain(log)
      log.jobs.asScala.toSeq.map(_.properties.getProperty("spark.job.description"))
        .count(d => d != null && d.startsWith("Listing leaf files"))
    }
    assert(listings == 1)
  }
}
