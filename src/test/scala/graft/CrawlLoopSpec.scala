package graft

import java.nio.file.{Files, Path, Paths}
import java.sql.DriverManager

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite

import graft.fetch.ProtocolFactory
import graft.filters.{BasicUrlNormalizer, RegexUrlFilter, SelfUrlFilter, UrlFilterChain}
import graft.frontier.FrontierStore
import graft.index.JdbcIndexSink
import graft.model.Status
import graft.streaming.CrawlTopology

/** The crawl loop's one cycle step, seen through both faces: the
  * stream compacts the frontier like the batch loop does, both faces
  * crawl a fixture to the same frontier and index, and no other code
  * in `src/main` drives the loop's state. */
class CrawlLoopSpec extends AnyFunSuite with LocalSpark {

  // file:// only: the fixtures link nowhere else, and nothing may leave the host
  private val chain = new UrlFilterChain(Seq(
    new BasicUrlNormalizer(), new SelfUrlFilter(), RegexUrlFilter.parse(Seq("+^file:"))))

  private def cycle(store: FrontierStore,
                    sink: Option[JdbcIndexSink] = None): CrawlTopology.Cycle =
    t => CrawlTopology.crawlOnce(spark, store, new ProtocolFactory(), chain,
      crawlDelayMs = 0, respectRobots = false, indexSink = sink, selectTime = Some(t))

  private def statuses(store: FrontierStore): Map[String, String] =
    store.read(spark).collect()
      .map(r => r.getAs[String]("url") -> r.getAs[String]("status")).toMap

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  /** Runs a stream until `done` holds (or a deadline passes), lets the
    * running batch finish, and stops it. */
  private def runUntil(q: StreamingQuery)(done: => Boolean): Unit =
    try {
      val deadline = System.currentTimeMillis() + 300000
      while (!done && System.currentTimeMillis() < deadline) Thread.sleep(250)
      q.processAllAvailable()
    } finally q.stop()

  test("a stream whose merges cross 16 generations compacts and vacuums the frontier") {
    // a page chain over 20 hosts: each cycle fetches one host's page and
    // discovers the next host's, so every merge writes a new bucket and
    // leaves the generation before it live
    val hosts = 20
    val dir = Files.createTempDirectory("chain")
    def url(h: Int) = s"file://host$h.example.com$dir/h$h.html"
    (0 until hosts).foreach { h =>
      val link = if (h + 1 < hosts) s"""<a href="${url(h + 1)}">next</a>""" else ""
      Files.write(dir.resolve(s"h$h.html"),
        s"<html><head><title>h$h</title></head><body>host $h $link</body></html>"
          .getBytes("UTF-8"))
    }
    val root = tmp("frontier")
    val store = new FrontierStore(root, numBuckets = 1024)
    CrawlTopology.seed(spark, store, Seq(url(0)), chain)
    val q = CrawlTopology.startStream(spark, store, cycle(store),
      intervalMs = 200, checkpointDir = tmp("ckpt"), docsOut = tmp("docs") + "/docs")
    // the test thread scans the store while the stream compacts and
    // vacuums it: the vacuum keeps the generations of recent versions
    runUntil(q)(statuses(store).values.count(_ == Status.Fetched) == hosts)

    assert(statuses(store) == (0 until hosts).map(url(_) -> Status.Fetched).toMap)
    assert(store.generationCount <= 16, s"${store.generationCount} live generations")
    // the manifests on disk are the four the last commit's vacuum kept
    val manifests = Paths.get(root, "_manifest")
    val referenced = Files.list(manifests).iterator.asScala.toSeq
      .flatMap(m => Files.readAllLines(m).asScala)
      .filter(_.nonEmpty).map(_.split("\t")(1)).toSet
    val onDisk = Files.list(Paths.get(root)).iterator.asScala
      .map(_.getFileName.toString).filter(_.startsWith("delta_")).toSet
    assert(onDisk == referenced, s"unreferenced: ${onDisk -- referenced}")
  }

  test("crawl and startStream give the same frontier and the same index") {
    val site = Files.createTempDirectory("site")
    for (f <- Seq("index.html", "a.html", "b.html", "redir.html", "target.html")) {
      val in = getClass.getClassLoader.getResourceAsStream(s"site/$f")
      Files.copy(in, site.resolve(f)); in.close()
    }
    val runId = java.util.UUID.randomUUID().toString.take(8)
    def face(name: String): (FrontierStore, JdbcIndexSink, String) = {
      val jdbc = s"jdbc:derby:memory:loop_${name}_$runId;create=true"
      val sink = new JdbcIndexSink(jdbc)
      sink.ensureSchema()
      val store = new FrontierStore(tmp("frontier"))
      CrawlTopology.seed(spark, store, Seq(s"file://$site/index.html"), chain)
      (store, sink, jdbc)
    }
    def indexed(jdbc: String): Set[(String, String)] = {
      val conn = DriverManager.getConnection(jdbc)
      try {
        val rs = conn.createStatement().executeQuery("SELECT url, text_body FROM content_index")
        Iterator.continually(rs).takeWhile(_.next())
          .map(r => (r.getString(1), r.getString(2))).toSet
      } finally conn.close()
    }

    val (batchStore, batchSink, batchJdbc) = face("batch")
    val stats = CrawlTopology.crawl(spark, batchStore, cycle(batchStore, Some(batchSink)))
    assert(stats.last.selected == 0, "the batch loop ran out of iterations")
    val expected = statuses(batchStore)
    assert(expected.values.count(_ == Status.Fetched) >= 4, expected.toString)

    val (streamStore, streamSink, streamJdbc) = face("stream")
    val q = CrawlTopology.startStream(spark, streamStore, cycle(streamStore, Some(streamSink)),
      intervalMs = 200, checkpointDir = tmp("ckpt"), docsOut = tmp("docs") + "/docs")
    runUntil(q)(statuses(streamStore) == expected)

    assert(statuses(streamStore) == expected)
    assert(indexed(streamJdbc) == indexed(batchJdbc))
    assert(indexed(batchJdbc).nonEmpty)
  }

  test("only the cycle step and the frontier package drive the loop's state") {
    // repo-wide: the select date, its observation and compaction live in
    // CrawlTopology's Step (and the frontier package that defines them)
    val root = Paths.get("src/main/scala")
    val frontier = root.resolve("graft/frontier")
    val topology = root.resolve("graft/streaming/CrawlTopology.scala")
    assert(Files.isDirectory(frontier) && Files.isRegularFile(topology))
    val lines = Files.readAllLines(topology).asScala
    val stepStart = lines.indexWhere(_.contains("private final class Step("))
    val stepEnd = lines.indexWhere(_ == "  }", stepStart)
    assert(stepStart >= 0 && stepEnd > stepStart)
    val state = """new\s+(graft\.frontier\.)?AdaptiveQueryDate|\.observe\(|generationCount|\.compact\(""".r
    def inStep(p: Path, i: Int): Boolean = p == topology && i > stepStart && i < stepEnd
    val copies = Files.walk(root).iterator.asScala
      .filter(p => p.toString.endsWith(".scala") && !p.startsWith(frontier))
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (l, i) if state.findFirstIn(l).nonEmpty && !inStep(p, i) =>
            s"${root.relativize(p)}:${i + 1}"
        }
      }.toSeq.sorted
    assert(copies.isEmpty, copies.mkString(", "))
  }
}
