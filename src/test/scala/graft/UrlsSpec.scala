package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.functions.Urls
import graft.model.Status

/** Truth tables for the scalar URL layer, modeled on the reference's
  * BasicURLNormalizerTest / URLPartitionerTest style (SURVEY §5.3). */
class UrlsSpec extends AnyFunSuite {

  test("normalize: lowercase scheme+host, strip fragment and default port") {
    assert(Urls.normalize("HTTP://WWW.Example.COM:80/Path#frag").contains("http://www.example.com/Path"))
    assert(Urls.normalize("https://example.com:443/a").contains("https://example.com/a"))
    assert(Urls.normalize("https://example.com:8443/a").contains("https://example.com:8443/a"))
  }

  test("normalize: empty path becomes /") {
    assert(Urls.normalize("http://example.com").contains("http://example.com/"))
    assert(Urls.normalize("http://example.com?q=1").contains("http://example.com/?q=1"))
  }

  test("normalize: session params removed, others kept in order") {
    assert(Urls.normalize("http://e.com/p?a=1&sid=x&b=2").contains("http://e.com/p?a=1&b=2"))
    assert(Urls.normalize("http://e.com/p?PHPSESSID=x").contains("http://e.com/p"))
  }

  test("normalize: dot segments resolved") {
    assert(Urls.normalize("http://e.com/a/b/../c/./d").contains("http://e.com/a/c/d"))
    assert(Urls.normalize("http://e.com/a/..").contains("http://e.com/"))
  }

  test("normalize: percent-escape normalization") {
    // decode unreserved, uppercase kept escapes, escape raw space
    assert(Urls.normalize("http://e.com/%7Euser").contains("http://e.com/~user"))
    assert(Urls.normalize("http://e.com/a%2fb").contains("http://e.com/a%2Fb"))
    assert(Urls.normalize("http://e.com/a b").contains("http://e.com/a%20b"))
  }

  test("normalize: rejects garbage") {
    assert(Urls.normalize("notaurl").isEmpty)
    assert(Urls.normalize("mailto:x@y.com").isEmpty)
    assert(Urls.normalize("").isEmpty)
  }

  test("resolve: relative links against base, skip pseudo-schemes") {
    assert(Urls.resolve("http://e.com/a/b.html", "c.html").contains("http://e.com/a/c.html"))
    assert(Urls.resolve("http://e.com/a/", "/root.html").contains("http://e.com/root.html"))
    assert(Urls.resolve("http://e.com/", "javascript:void(0)").isEmpty)
    assert(Urls.resolve("http://e.com/", "mailto:x@y.z").isEmpty)
    assert(Urls.resolve("http://e.com/", "https://other.com/x").contains("https://other.com/x"))
  }

  test("host and paid-level domain") {
    assert(Urls.host("https://sub.www.example.co.uk/p").contains("sub.www.example.co.uk"))
    assert(Urls.paidLevelDomain("sub.www.example.co.uk") == "example.co.uk")
    assert(Urls.paidLevelDomain("a.b.example.com") == "example.com")
    assert(Urls.paidLevelDomain("example.com") == "example.com")
    assert(Urls.paidLevelDomain("localhost") == "localhost")
  }

  test("partitionKey modes (URLPartitioner.java:44-93)") {
    val u = "https://news.example.co.uk/x"
    assert(Urls.partitionKey(u, "byHost").contains("news.example.co.uk"))
    assert(Urls.partitionKey(u, "byDomain").contains("example.co.uk"))
    assert(Urls.partitionKey(u, "byIP", Some("1.2.3.4")).contains("1.2.3.4"))
    assert(Urls.partitionKey("http://192.168.0.1/x", "byDomain").contains("192.168.0.1"))
  }

  test("digests") {
    assert(Urls.md5Hex("abc") == "900150983cd24fb0d6963f7d28e17f72")
  }

  test("Status.fromHttpCode (Status.java:26-34)") {
    assert(Status.fromHttpCode(200) == Status.Fetched)
    assert(Status.fromHttpCode(304) == Status.Fetched)
    assert(Status.fromHttpCode(301) == Status.Redirection)
    assert(Status.fromHttpCode(404) == Status.FetchError)
    assert(Status.fromHttpCode(500) == Status.FetchError)
  }
}
