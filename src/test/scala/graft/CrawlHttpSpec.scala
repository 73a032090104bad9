package graft

import java.net.{InetSocketAddress, URI}
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.apache.spark.TaskContext
import org.scalatest.funsuite.AnyFunSuite

import graft.fetch.{FetchStage, Protocol, ProtocolFactory, ProtocolResponse}
import graft.filters._
import graft.frontier.FrontierStore
import graft.model.Status
import graft.streaming.CrawlTopology

/** Serves every URL an empty page and logs (key, partition id, start ms)
  * per fetch; the key is the host's first label (tasks run in this JVM
  * under `local[…]`). */
object RecordingProtocol extends Protocol {
  val starts = new ConcurrentLinkedQueue[(String, Int, Long)]()
  def fetch(url: String, metadata: Map[String, Seq[String]]): ProtocolResponse = {
    starts.add((new URI(url).getHost.takeWhile(_ != '.'),
      TaskContext.getPartitionId(), System.currentTimeMillis()))
    ProtocolResponse("<html></html>".getBytes("UTF-8"), 200,
      Map("Content-Type" -> Seq("text/html")))
  }
}

/** Real-HTTP crawl: JDK HttpServer serving a tiny site with robots.txt —
  * exercises HttpProtocol, the robots cache/deny path, and redirect
  * handling end-to-end (FetcherBoltTest style, SURVEY §5.5). */
class CrawlHttpSpec extends AnyFunSuite with LocalSpark {

  private val pages: Map[String, (Int, String, String)] = Map(
    "/robots.txt" -> (200, "text/plain",
      "User-agent: *\nDisallow: /private/\n"),
    "/index.html" -> (200, "text/html",
      """<html><head><title>Root</title></head><body>
        |<a href="/a.html">A</a>
        |<a href="/private/secret.html">Secret</a>
        |<a href="/moved.html">Moved</a>
        |</body></html>""".stripMargin),
    "/a.html" -> (200, "text/html", "<html><body>Page A</body></html>"),
    "/private/secret.html" -> (200, "text/html", "<html><body>private</body></html>"),
    "/target.html" -> (200, "text/html", "<html><body>Landed</body></html>"))

  private def startServer(): HttpServer = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val path = ex.getRequestURI.getPath
        if (path == "/moved.html") {
          ex.getResponseHeaders.add("Location", "/target.html")
          ex.sendResponseHeaders(301, -1)
        } else pages.get(path) match {
          case Some((code, ctype, body)) =>
            val bytes = body.getBytes("UTF-8")
            ex.getResponseHeaders.add("Content-Type", ctype)
            ex.sendResponseHeaders(code, bytes.length)
            ex.getResponseBody.write(bytes)
          case None =>
            ex.sendResponseHeaders(404, -1)
        }
        ex.close()
      }
    })
    server.start()
    server
  }

  test("304 Not Modified: FETCHED status, no content row to parse") {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        ex.sendResponseHeaders(304, -1); ex.close()
      }
    })
    server.start()
    try {
      import spark.implicits._
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      val batch = Seq((s"$base/x.html", "127.0.0.1",
        Map.empty[String, Seq[String]])).toDF("url", "key", "metadata")
      val out = graft.fetch.FetchStage.fetch(spark, batch,
        new ProtocolFactory(), crawlDelayMs = 0, respectRobots = false).collect().head
      assert(out.getAs[String]("status") == Status.Fetched)
      assert(out.getAs[Int]("http_code") == 304)
      assert(out.isNullAt(out.fieldIndex("content"))) // nothing to parse
    } finally server.stop(0)
  }

  test("cookies from metadata reach the request when applicable") {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    @volatile var seenCookie: String = null
    server.createContext("/", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        seenCookie = ex.getRequestHeaders.getFirst("Cookie")
        val body = "<html></html>".getBytes
        ex.sendResponseHeaders(200, body.length)
        ex.getResponseBody.write(body); ex.close()
      }
    })
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      val proto = new graft.fetch.HttpProtocol()
      // applicable cookie + one gated out by Secure on plain http;
      // origin host rides along, as FetchStage records it
      val md = Map("set-cookie" -> Seq("sid=abc; Path=/", "tok=x; Secure"),
        "set-cookie.origin" -> Seq("127.0.0.1"))
      val resp = proto.fetch(s"$base/a.html", md)
      assert(resp.statusCode == 200)
      assert(seenCookie == "sid=abc")
    } finally server.stop(0)
  }

  test("FetchStage records Set-Cookie responses with their origin host") {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        ex.getResponseHeaders.add("Set-Cookie", "sid=xyz; Path=/")
        val body = "<html></html>".getBytes
        ex.sendResponseHeaders(200, body.length)
        ex.getResponseBody.write(body); ex.close()
      }
    })
    server.start()
    try {
      import spark.implicits._
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      val batch = Seq((s"$base/x.html", "127.0.0.1",
        Map.empty[String, Seq[String]])).toDF("url", "key", "metadata")
      val out = graft.fetch.FetchStage.fetch(spark, batch,
        new ProtocolFactory(), crawlDelayMs = 0, respectRobots = false).collect().head
      val md = out.getMap[String, scala.collection.Seq[String]](out.fieldIndex("metadata"))
      assert(md("set-cookie").toSeq == Seq("sid=xyz; Path=/"))
      assert(md("set-cookie.origin").toSeq == Seq("127.0.0.1"))
    } finally server.stop(0)
  }

  test("FetchStage keeps each key's crawl delay and overlaps the keys of one partition") {
    import spark.implicits._
    val (keys, pages, delayMs) = (8, 4, 200L)
    val batch = (for (k <- 0 until keys; p <- 0 until pages)
      yield (s"http://k$k.polite.test/p$p", s"k$k", Map.empty[String, Seq[String]]))
      .toDF("url", "key", "metadata")
    RecordingProtocol.starts.clear()
    val out = FetchStage.fetch(spark, batch, new ProtocolFactory(RecordingProtocol),
      crawlDelayMs = delayMs, respectRobots = false).collect()
    assert(out.map(_.getAs[String]("status")).toSeq == Seq.fill(keys * pages)(Status.Fetched))

    val byKey = RecordingProtocol.starts.asScala.toSeq.groupBy(_._1)
    assert(byKey.size == keys && byKey.values.forall(_.size == pages))
    for ((k, fetches) <- byKey) {
      val at = fetches.map(_._3).sorted
      assert(at.zip(at.tail).forall { case (a, b) => b - a >= delayMs }, s"$k: $at")
      assert(fetches.map(_._2).distinct.size == 1, s"$k drained in one partition")
    }
    // 8 keys over the session's 4 partitions: some partition holds two
    // or more, and its earliest-ready-first drain fetches them in
    // overlapping windows instead of one queue after the other
    val window = byKey.map { case (k, fs) => k -> (fs.map(_._3).min, fs.map(_._3).max) }
    val shared = byKey.keys.toSeq.groupBy(byKey(_).head._2).values.filter(_.size > 1)
    assert(shared.nonEmpty)
    for (ks <- shared; Seq(a, b) <- ks.sorted.combinations(2)) {
      val ((fa, la), (fb, lb)) = (window(a), window(b))
      assert(fa < lb && fb < la, s"$a [$fa, $la] and $b [$fb, $lb] do not overlap")
    }
  }

  test("http.method.head metadata switches the request to HEAD") {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    @volatile var seenMethod: String = null
    server.createContext("/", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        seenMethod = ex.getRequestMethod
        ex.getResponseHeaders.add("Content-Type", "text/html")
        if (ex.getRequestMethod == "HEAD") ex.sendResponseHeaders(200, -1)
        else {
          val b = "<html>body</html>".getBytes
          ex.sendResponseHeaders(200, b.length); ex.getResponseBody.write(b)
        }
        ex.close()
      }
    })
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      val proto = new graft.fetch.HttpProtocol()
      val resp = proto.fetch(s"$base/x.html",
        Map("http.method.head" -> Seq("true")))
      assert(seenMethod == "HEAD")
      assert(resp.statusCode == 200)
      assert(resp.content.isEmpty) // HEAD: headers only
      assert(resp.header("Content-Type").contains("text/html"))
      // without the flag it's a plain GET
      val resp2 = proto.fetch(s"$base/x.html", Map.empty)
      assert(seenMethod == "GET" && resp2.content.nonEmpty)
    } finally server.stop(0)
  }

  test("fixed forward proxy routes the request through the proxy host") {
    // the "proxy" is a plain HttpServer: for absolute-form request URIs
    // it still answers — seeing the full target URL proves the client
    // sent the request to the proxy address, not the (unresolvable) host
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    @volatile var seenUri: String = null
    server.createContext("/", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        seenUri = ex.getRequestURI.toString
        val b = "<html>via proxy</html>".getBytes
        ex.sendResponseHeaders(200, b.length)
        ex.getResponseBody.write(b); ex.close()
      }
    })
    server.start()
    try {
      val proto = new graft.fetch.HttpProtocol(
        proxyHost = Some("127.0.0.1"), proxyPort = server.getAddress.getPort)
      val resp = proto.fetch("http://upstream.invalid/page.html", Map.empty)
      assert(resp.statusCode == 200)
      assert(new String(resp.content, "UTF-8").contains("via proxy"))
      assert(seenUri.contains("upstream.invalid/page.html"))
    } finally server.stop(0)
  }

  test("robots sitemap autodiscovery: sitemap found, fetched, entries crawled") {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    def base = s"http://127.0.0.1:${server.getAddress.getPort}"
    server.createContext("/", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val (code, ctype, body) = ex.getRequestURI.getPath match {
          case "/robots.txt" =>
            (200, "text/plain", s"User-agent: *\nDisallow: /private/\nSitemap: $base/map.xml\n")
          case "/map.xml" =>
            (200, "application/xml",
              s"""<?xml version="1.0"?><urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
                 |<url><loc>$base/from-map.html</loc></url></urlset>""".stripMargin)
          case "/from-map.html" => (200, "text/html", "<html><body>mapped</body></html>")
          case "/seed.html" => (200, "text/html", "<html><body>seed</body></html>")
          case _ => (404, "text/plain", "")
        }
        val b = body.getBytes("UTF-8")
        ex.getResponseHeaders.add("Content-Type", ctype)
        ex.sendResponseHeaders(code, if (b.isEmpty) -1 else b.length)
        if (b.nonEmpty) ex.getResponseBody.write(b)
        ex.close()
      }
    })
    server.start()
    try {
      graft.fetch.RobotsCache.clearForTesting() // fresh robots fetch required
      val chain = new UrlFilterChain(Seq(
        new BasicUrlNormalizer(), new SelfUrlFilter(), RegexUrlFilter.parse(Seq("+."))))
      val store = new FrontierStore(Files.createTempDirectory("frontier").toString)
      CrawlTopology.seed(spark, store, Seq(s"$base/seed.html"), chain)
      CrawlTopology.crawl(spark, store,
        t => CrawlTopology.crawlOnce(spark, store, new ProtocolFactory(), chain,
          crawlDelayMs = 0, respectRobots = true, sitemapDiscovery = true,
          selectTime = Some(t)),
        maxIterations = 4)
      val byUrl = store.read(spark).collect()
        .map(r => r.getAs[String]("url") -> r.getAs[String]("status")).toMap
      // the robots Sitemap: directive was discovered and the sitemap fetched
      assert(byUrl(s"$base/map.xml") == Status.Fetched)
      // ...and its urlset entries crawled
      assert(byUrl(s"$base/from-map.html") == Status.Fetched)
    } finally server.stop(0)
  }

  test("http crawl: robots deny, redirect follow, 404 error") {
    val server = startServer()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      val chain = new UrlFilterChain(Seq(
        new BasicUrlNormalizer(), new SelfUrlFilter(), RegexUrlFilter.parse(Seq("+."))))
      val store = new FrontierStore(Files.createTempDirectory("frontier").toString)
      CrawlTopology.seed(spark, store, Seq(s"$base/index.html"), chain)

      CrawlTopology.crawl(spark, store,
        t => CrawlTopology.crawlOnce(spark, store, new ProtocolFactory(), chain,
          crawlDelayMs = 0, respectRobots = true, selectTime = Some(t)),
        maxIterations = 4)

      val byUrl = store.read(spark).collect()
        .map(r => r.getAs[String]("url") -> r.getAs[String]("status")).toMap
      assert(byUrl(s"$base/index.html") == Status.Fetched)
      assert(byUrl(s"$base/a.html") == Status.Fetched)
      // robots-denied page: discovered but ERRORed, never fetched
      assert(byUrl(s"$base/private/secret.html") == Status.Error)
      // 301 page recorded as REDIRECTION, target discovered + fetched
      assert(byUrl(s"$base/moved.html") == Status.Redirection)
      assert(byUrl(s"$base/target.html") == Status.Fetched)
    } finally server.stop(0)
  }
}
