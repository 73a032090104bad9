package graft

import java.nio.file.Files
import java.sql.DriverManager

import org.scalatest.funsuite.AnyFunSuite

import graft.fetch.ProtocolFactory
import graft.filters.{BasicUrlFilter, BasicUrlNormalizer, RegexUrlFilter, SelfUrlFilter, UrlFilterChain, MaxDepthFilter}
import graft.frontier.FrontierStore
import graft.index.{IndexerMapping, JdbcIndexSink}
import graft.streaming.CrawlTopology

/** Round-trip of the live JDBC index sink against embedded Derby:
  * upsert vs create-only, sha256 ids, deletion, and the crawl-loop
  * wiring (IndexerBolt + DeletionBolt semantics). */
class IndexSinkSpec extends AnyFunSuite with LocalSpark {

  // Unique DB name per suite INSTANCE: in-memory Derby databases are
  // process-global in the forked test JVM, so a fixed name collides
  // with state left by other suites / earlier runs depending on suite
  // ORDER — the one flake the full suite ever showed. A UUID suffix
  // makes every run's databases fresh by construction.
  private val runId = java.util.UUID.randomUUID().toString.take(8)
  private def freshDb(name: String): String =
    s"jdbc:derby:memory:${name}_$runId;create=true"

  private def queryAll(jdbc: String, table: String): Map[String, (String, String)] = {
    val conn = DriverManager.getConnection(jdbc)
    try {
      val rs = conn.createStatement()
        .executeQuery(s"SELECT doc_id, url, text_body FROM $table")
      val b = Map.newBuilder[String, (String, String)]
      while (rs.next()) b += rs.getString(1) -> ((rs.getString(2), rs.getString(3)))
      b.result()
    } finally conn.close()
  }

  test("upsert mode: index, overwrite, delete") {
    import spark.implicits._
    val jdbc = freshDb("idx_upsert")
    val sink = new JdbcIndexSink(jdbc, "docs_idx", create = false)
    sink.ensureSchema()

    val docs = Seq(
      ("http://a.example/1", "first text", "t1"),
      ("http://a.example/2", "second text", "t2"))
      .toDF("url", "text", "title")
    sink.indexBatch(docs)
    val v1 = queryAll(jdbc, "docs_idx")
    assert(v1.size == 2)
    // doc id is sha256(url), hex — same as the reference's DigestUtils
    val sha1 = java.security.MessageDigest.getInstance("SHA-256")
      .digest("http://a.example/1".getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    assert(v1.contains(sha1))
    assert(v1(sha1)._2 == "first text")

    // overwrite: same id, new text wins
    sink.indexBatch(Seq(("http://a.example/1", "updated text", "t1b")).toDF("url", "text", "title"))
    assert(queryAll(jdbc, "docs_idx")(sha1)._2 == "updated text")

    // delete by url
    sink.deleteBatch(Seq("http://a.example/1").toDF("url"))
    val v3 = queryAll(jdbc, "docs_idx")
    assert(!v3.contains(sha1) && v3.size == 1)
    // deleting a never-indexed doc is a no-op (DeletionBolt contract)
    sink.deleteBatch(Seq("http://never.example/x").toDF("url"))
    assert(queryAll(jdbc, "docs_idx").size == 1)

    // one url twice in a batch (one task): the later row wins, for a new
    // id and for an indexed one alike
    sink.indexBatch(Seq(
        ("http://a.example/3", "third v1", "t3"), ("http://a.example/2", "second v1", "t2"),
        ("http://a.example/3", "third v2", "t3"), ("http://a.example/2", "second v2", "t2"))
      .toDF("url", "text", "title").coalesce(1))
    assert(queryAll(jdbc, "docs_idx").values.toSet == Set(
      "http://a.example/2" -> "second v2", "http://a.example/3" -> "third v2"))
  }

  test("create-only mode leaves existing docs untouched") {
    import spark.implicits._
    val jdbc = freshDb("idx_create")
    val sink = new JdbcIndexSink(jdbc, "docs_idx", create = true)
    sink.ensureSchema()
    sink.indexBatch(Seq(("http://a.example/1", "original", "t")).toDF("url", "text", "title"))
    sink.indexBatch(Seq(
      ("http://a.example/1", "clobbered?", "t"),
      ("http://a.example/2", "new doc", "t")).toDF("url", "text", "title"))
    val rows = queryAll(jdbc, "docs_idx")
    assert(rows.size == 2)
    assert(rows.values.map(_._2).toSet == Set("original", "new doc"))
  }

  test("crawl loop wires the sink: docs indexed, ERROR page deleted") {
    val tmp = Files.createTempDirectory("sinksite")
    Files.write(tmp.resolve("doc.pdf"), graft.parse.BinaryDocs.makePdf(
      "indexable pdf body", Some("T")))
    Files.write(tmp.resolve("bad.pdf"), Array.tabulate[Byte](64)(i => (i * 3).toByte))
    val chain = new UrlFilterChain(Seq(
      new BasicUrlNormalizer(), new BasicUrlFilter(), new SelfUrlFilter(),
      new MaxDepthFilter(5), RegexUrlFilter.parse(Seq("+."))))
    val jdbc = freshDb("idx_crawl")
    val sink = new JdbcIndexSink(jdbc, "docs_idx")
    sink.ensureSchema()
    val store = new FrontierStore(Files.createTempDirectory("frontier").toString)
    CrawlTopology.seed(spark, store,
      Seq(s"file://$tmp/doc.pdf", s"file://$tmp/bad.pdf"), chain)
    CrawlTopology.crawl(spark, store, new ProtocolFactory(), chain,
      maxIterations = 2, crawlDelayMs = 0, respectRobots = false,
      indexSink = Some(sink))
    val rows = queryAll(jdbc, "docs_idx")
    assert(rows.size == 1)
    val (url, text) = rows.values.head
    assert(url.endsWith("doc.pdf"))
    assert(text == "indexable pdf body")
  }
}
