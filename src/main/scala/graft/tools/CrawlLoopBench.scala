package graft.tools

import java.nio.file.Files

import graft.fetch.{ContentStore, ProtocolFactory}
import graft.filters.{BasicUrlFilter, BasicUrlNormalizer, MaxDepthFilter, RegexUrlFilter, SelfUrlFilter, UrlFilterChain}
import graft.frontier.FrontierStore
import graft.index.{BandLedger, DigestLedger}
import graft.streaming.CrawlTopology

/** End-to-end crawl-LOOP throughput soak: the full standing query —
  * seed → frontier select → politeness-limited fetch (robots checked)
  * → parse → outlink discovery → URL filter chain → status merge →
  * content store → batch digest collapse → index-once digest/band
  * ledgers → LIVE index sink (embedded-Derby `JdbcIndexSink`, the same
  * code path a cluster points at a network RDBMS) → next cycle —
  * measured as sustained pages/sec at a realistic host count, not
  * per-stage.
  *
  * The corpus is H hosts × P pages of REAL files fetched through the
  * real `FileProtocol`; each host gets a distinct authority
  * (`file://hostN.example.com/...` — FileProtocol resolves by path, the
  * authority exists so `partitionKeyCol`/politeness see H distinct
  * hosts). Page 0 of each host links the
  * other P−1, so all discovery flows through parse → chain → merge.
  * Even-numbered pages (p ≥ 2) serve IDENTICAL boilerplate across all
  * hosts — the mirrored-mass shape at crawl scale — so the batch
  * digest collapse + cross-batch DigestLedger have real work: expected
  * index cardinality is H seeds + H·⌈(P−1)/2⌉ unique odd pages +
  * (P−2)/2 shared even pages, NOT the H·P fetch count.
  *
  * Politeness floor: each cycle selects `perHost` pages per host at
  * 1 s/host delay, so a cycle cannot finish faster than
  * (perHost−1) s; the loop needs ceil((P−1)/perHost) post-seed cycles
  * — wall time below cycles × perHost seconds means the fetch stage
  * kept hosts concurrent AND the select/merge/ledger overhead stayed
  * inside the politeness windows.
  *
  * Prints one JSON line:
  *   {"metric":"crawl_loop_throughput","hosts":H,"pages_per_host":P,
  *    "fetched":N,"cycles":C,"wall_sec":…, "pages_per_sec":…,
  *    "politeness_floor_sec":…, "merge_overhead_sec":…}
  *
  * Usage: runMain graft.tools.CrawlLoopBench [hosts] [pagesPerHost] [perHost]
  */
object CrawlLoopBench {
  def main(args: Array[String]): Unit = {
    val hosts = args.headOption.map(_.toInt).getOrElse(1000)
    val pages = args.lift(1).map(_.toInt).getOrElse(50)
    val perHost = args.lift(2).map(_.toInt).getOrElse(10)
    val delayMs = 1000L
    val spark = graft.Session.local()

    // H hosts × P pages; p0 is the seed and links the rest (relative
    // hrefs resolve against the page's own fake-host base URL)
    val dir = Scratch.dir("crawl_loop_corpus")
    val seeds = (0 until hosts).map { h =>
      val hostDir = dir.resolve(s"host$h")
      Files.createDirectories(hostDir)
      val links = (1 until pages)
        .map(p => s"""<a href="p$p.html">p$p</a>""").mkString("\n")
      Files.write(hostDir.resolve("p0.html"),
        s"<html><head><title>h$h index</title></head><body>$links</body></html>"
          .getBytes("UTF-8"))
      (1 until pages).foreach { p =>
        // even pages are byte-identical across hosts (mirrored mass);
        // odd pages are unique — the ledgers must index evens ONCE ever
        val body =
          if (p % 2 == 0)
            s"<html><head><title>shared p$p</title></head><body>shared boilerplate page $p</body></html>"
          else {
            // deterministic per-(host,page) token salad so odd pages are
            // genuinely distinct under shingling (not near-dup bands)
            val toks = (1 to 8).map(i => s"w${(h * 31 + p * 7 + i * 13) % 9973}").mkString(" ")
            s"<html><head><title>h$h p$p</title></head><body>host $h page $p content $toks</body></html>"
          }
        Files.write(hostDir.resolve(s"p$p.html"), body.getBytes("UTF-8"))
      }
      s"file://host$h.example.com$hostDir/p0.html"
    }

    // file:// URLs carry a synthetic authority; allow-everything regex
    // chain (the default chain's https-only rule would drop them), depth
    // cap + self/basic filters stay — the CrawlE2ESpec chain.
    val chain = new UrlFilterChain(Seq(
      new BasicUrlNormalizer(), new BasicUrlFilter(), new SelfUrlFilter(),
      new MaxDepthFilter(5),
      RegexUrlFilter.parse(Seq("+."))))

    val store = new FrontierStore(Scratch.dir("crawl_loop_frontier").toString, numBuckets = 64)
    val contentStore = new ContentStore(Scratch.dir("crawl_loop_content").toString)
    val digests = new DigestLedger(Scratch.dir("crawl_loop_digests").toString)
    val bands = new BandLedger(Scratch.dir("crawl_loop_bands").toString)
    // live index sink: embedded Derby via the production JdbcIndexSink —
    // on a cluster the identical code points at a network RDBMS/bulk API
    val jdbcUrl = s"jdbc:derby:${Scratch.dir("crawl_loop_index")}/idx;create=true"
    // create-only mode: the ledgers guarantee each digest arrives once,
    // so the OS `indexer.create=true` semantics (insert-if-absent) are
    // the right face — and Derby executes it ~3× faster than MERGE
    val sink = new graft.index.JdbcIndexSink(jdbcUrl, create = true)
    sink.ensureSchema()

    CrawlTopology.seed(spark, store, seeds, chain)

    val adaptiveDate = new graft.frontier.AdaptiveQueryDate()
    val limit = hosts * perHost
    var totalFetched = 0L
    var totalFailed = 0L
    var cycles = 0
    var fetchFloorSec = 0.0
    val cycleSecs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    var continue = true
    while (continue && cycles < 64) {
      val tc0 = System.nanoTime()
      val (st, docs) = CrawlTopology.crawlOnce(spark, store,
        new ProtocolFactory(), chain,
        perBucket = perHost, maxKeys = hosts, limit = limit,
        crawlDelayMs = delayMs, respectRobots = true,
        selectTime = Some(adaptiveDate.queryDate()),
        contentStore = Some(contentStore),
        indexSink = Some(sink),
        dedupContent = true, digestLedger = Some(digests),
        bandLedger = Some(bands))
      docs.unpersist()
      adaptiveDate.observe(st.selected, limit)
      val sec = (System.nanoTime() - tc0) / 1e9
      if (st.selected > 0) {
        cycleSecs += sec
        // a cycle fetching k pages on some host owes (k-1) delays
        fetchFloorSec += math.max(0,
          math.min(perHost, math.ceil(st.selected.toDouble / hosts)).toInt - 1) * delayMs / 1000.0
        totalFetched += st.fetched
        totalFailed += st.failed
        System.err.println(
          f"cycle=$cycles%2d selected=${st.selected}%6d fetched=${st.fetched}%6d " +
            f"failed=${st.failed}%4d wall=$sec%7.1fs")
      }
      continue = st.selected > 0
      cycles += 1
      if (store.generationCount > 16) store.compact(spark)
    }
    val wallSec = (System.nanoTime() - t0) / 1e9
    val mergeOverhead = cycleSecs.sum - fetchFloorSec
    // index cardinality: proves the index-once semantics held at soak
    // scale (expected ≈ H seeds + H·#odd unique pages + #shared evens,
    // minus any near-dup band suppression)
    val indexed = {
      val conn = java.sql.DriverManager.getConnection(jdbcUrl)
      try {
        val rs = conn.createStatement()
          .executeQuery("SELECT COUNT(*) FROM content_index")
        rs.next(); rs.getLong(1)
      } finally conn.close()
    }
    val oddUnique = (1 until pages).count(_ % 2 == 1)
    val sharedEvens = (1 until pages).count(p => p % 2 == 0)
    // expected MAXIMUM index cardinality BEFORE band-ledger near-dup
    // suppression (seeds + per-host odd-unique pages + shared evens);
    // the ledgers can only push `indexed` BELOW this, never above —
    // so indexed > expectedMax means index-once semantics broke.
    val expectedMax = hosts.toLong * (1 + oddUnique) + sharedEvens
    if (indexed > expectedMax)
      System.err.println(
        s"crawl_loop: INDEX-ONCE VIOLATION — indexed=$indexed exceeds expected_max_indexed=$expectedMax")
    println(f"""{"metric":"crawl_loop_throughput","hosts":$hosts,"pages_per_host":$pages,""" +
      f""""per_host_per_cycle":$perHost,"fetched":$totalFetched,"failed":$totalFailed,""" +
      f""""cycles":${cycleSecs.size},"wall_sec":$wallSec%.1f,""" +
      f""""pages_per_sec":${totalFetched / wallSec}%.1f,""" +
      f""""politeness_floor_sec":$fetchFloorSec%.1f,"overhead_sec":$mergeOverhead%.1f,""" +
      f""""indexed":$indexed,"expected_max_indexed":$expectedMax,""" +
      f""""index_once_held":${indexed <= expectedMax}}""")
    spark.stop()
  }
}
