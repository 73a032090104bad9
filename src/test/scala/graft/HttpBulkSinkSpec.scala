package graft

import java.net.InetSocketAddress

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.scalatest.funsuite.AnyFunSuite

import graft.index.HttpBulkIndexSink

/** HTTP `_bulk` index sink against a local stub server (the wire
  * contract of the reference's OpenSearch IndexerBolt/DeletionBolt) +
  * proxy-pool rotation on the fetch protocol (MultiProxyManager). */
class HttpBulkSinkSpec extends AnyFunSuite with LocalSpark {

  /** Stub `_bulk` endpoint: records every NDJSON line, answers the
    * bulk contract's `{"errors":false}` (or `true` when poisoned). */
  private class BulkStub(var failItems: Boolean = false) {
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val batches = new java.util.concurrent.atomic.AtomicInteger(0)
    val server: HttpServer = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
        if (ex.getRequestURI.getPath == "/_bulk" && ex.getRequestMethod == "POST") {
          body.linesIterator.filter(_.nonEmpty).foreach(lines.add)
          batches.incrementAndGet()
          val resp = s"""{"took":1,"errors":$failItems,"items":[]}""".getBytes("UTF-8")
          ex.getResponseHeaders.add("Content-Type", "application/json")
          ex.sendResponseHeaders(200, resp.length)
          ex.getResponseBody.write(resp)
        } else ex.sendResponseHeaders(404, -1)
        ex.close()
      }
    })
    server.start()
    def endpoint = s"http://127.0.0.1:${server.getAddress.getPort}"
    def stop(): Unit = server.stop(0)
  }

  private def sha(u: String) =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(u.getBytes("UTF-8")).map(b => f"$b%02x").mkString

  test("indexBatch posts action+source NDJSON pairs with sha256 ids") {
    import spark.implicits._
    val stub = new BulkStub()
    try {
      val docs = Seq(
        ("http://a.com/1", "Title A", "text body \"quoted\""),
        ("http://b.com/2", "Title B", "plain")).toDF("url", "title", "text")
      new HttpBulkIndexSink(stub.endpoint, index = "docs").indexBatch(docs)
      val got = stub.lines.toArray(Array.empty[String])
      assert(got.length == 4, "2 docs -> 2 action lines + 2 source lines")
      val actions = got.grouped(2).map(_.head).toSeq
      assert(actions.forall(_.startsWith("""{"index":{"_index":"docs","_id":"""")))
      assert(actions.exists(_.contains(sha("http://a.com/1"))))
      assert(actions.exists(_.contains(sha("http://b.com/2"))))
      val sources = got.grouped(2).map(_.last).toSeq
      assert(sources.exists(s => s.contains(""""url":"http://a.com/1"""") &&
        s.contains(""""text":"text body \"quoted\"""")))
    } finally stub.stop()
  }

  test("create mode uses the create action verb (no overwrite)") {
    import spark.implicits._
    val stub = new BulkStub()
    try {
      new HttpBulkIndexSink(stub.endpoint, create = true)
        .indexBatch(Seq(("http://a.com/1", "t")).toDF("url", "text"))
      assert(stub.lines.peek().startsWith("""{"create":{"""))
    } finally stub.stop()
  }

  test("deleteBatch posts delete actions by sha256 id") {
    import spark.implicits._
    val stub = new BulkStub()
    try {
      new HttpBulkIndexSink(stub.endpoint, index = "docs")
        .deleteBatch(Seq(Tuple1("http://gone.com/x")).toDF("url"))
      val got = stub.lines.toArray(Array.empty[String])
      assert(got.length == 1)
      assert(got(0) == s"""{"delete":{"_index":"docs","_id":"${sha("http://gone.com/x")}"}}""")
    } finally stub.stop()
  }

  test("batchSize splits one partition into multiple bulk requests") {
    import spark.implicits._
    val stub = new BulkStub()
    try {
      val docs = (1 to 7).map(i => (s"http://s.com/$i", s"t$i")).toDF("url", "text")
        .coalesce(1)
      new HttpBulkIndexSink(stub.endpoint, batchSize = 3).indexBatch(docs)
      assert(stub.batches.get() == 3, "7 docs / batchSize 3 -> 3 POSTs")
      assert(stub.lines.size() == 14)
    } finally stub.stop()
  }

  test("bulk item errors fail the task (retry semantics)") {
    import spark.implicits._
    val stub = new BulkStub(failItems = true)
    try {
      val ex = intercept[Exception] {
        new HttpBulkIndexSink(stub.endpoint)
          .indexBatch(Seq(("http://a.com/1", "t")).toDF("url", "text"))
      }
      assert(ex.getMessage != null)
    } finally stub.stop()
  }

  test("proxy pool rotates requests round-robin across proxies") {
    // two stub "proxies" (plain servers answering absolute-form URIs);
    // four fetches must alternate between them
    def proxyStub(hits: java.util.concurrent.atomic.AtomicInteger): HttpServer = {
      val s = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
      s.createContext("/", new HttpHandler {
        override def handle(ex: HttpExchange): Unit = {
          hits.incrementAndGet()
          val b = "<html>ok</html>".getBytes
          ex.sendResponseHeaders(200, b.length)
          ex.getResponseBody.write(b); ex.close()
        }
      })
      s.start(); s
    }
    val h1 = new java.util.concurrent.atomic.AtomicInteger(0)
    val h2 = new java.util.concurrent.atomic.AtomicInteger(0)
    val p1 = proxyStub(h1); val p2 = proxyStub(h2)
    try {
      val proto = new graft.fetch.HttpProtocol(proxyPool = Seq(
        s"127.0.0.1:${p1.getAddress.getPort}",
        s"127.0.0.1:${p2.getAddress.getPort}"))
      for (i <- 1 to 4) {
        val r = proto.fetch(s"http://upstream.invalid/p$i.html", Map.empty)
        assert(r.statusCode == 200)
      }
      assert(h1.get() == 2 && h2.get() == 2,
        s"round robin must alternate: got ${h1.get()}/${h2.get()}")
    } finally { p1.stop(0); p2.stop(0) }
  }
}
