package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.index.IndexerMapping
import graft.parse.{HtmlParser, SitemapParser}

/** Canonical-URL extraction + indexer guard, sitemap lastmod filter. */
class CanonicalSpec extends AnyFunSuite with LocalSpark {

  test("rel=canonical extracted in both attribute orders, resolved") {
    val p1 = HtmlParser.parse(
      """<html><head><link rel="canonical" href="/canon.html"></head></html>""",
      "http://e.com/page?x=1")
    assert(p1.canonicalUrl.contains("http://e.com/canon.html"))
    val p2 = HtmlParser.parse(
      """<html><head><link href="http://e.com/c2" rel="canonical"></head></html>""",
      "http://e.com/page")
    assert(p2.canonicalUrl.contains("http://e.com/c2"))
    assert(HtmlParser.parse("<html></html>", "http://e.com/").canonicalUrl.isEmpty)
  }

  test("indexer: canonical used when same PLD, ignored when cross-domain") {
    import spark.implicits._
    val docs = Seq(
      ("http://www.e.com/a?track=1", "text a", false, "http://e.com/a"),
      ("http://www.e.com/b", "text b", false, "http://evil.org/b"),
      ("http://www.e.com/c", "text c", false, null)
    ).toDF("url", "text", "noindex", "canonical")
      .withColumn("metadata",
        org.apache.spark.sql.functions.map().cast("map<string,array<string>>"))
    val out = IndexerMapping()(docs).collect().map(_.getAs[String]("url")).toSeq
    assert(out.contains("http://e.com/a"))          // same PLD -> canonical wins
    assert(out.contains("http://www.e.com/b"))      // cross-PLD guard keeps original
    assert(out.contains("http://www.e.com/c"))      // no canonical
  }

  test("sitemap lastmod parsing: date-only and full ISO") {
    assert(SitemapParser.parseLastMod("2024-01-01").isDefined)
    assert(SitemapParser.parseLastMod("2024-01-01T10:30:00+02:00").isDefined)
    assert(SitemapParser.parseLastMod("2024-01-01T10:30:00Z").isDefined)
    assert(SitemapParser.parseLastMod("not a date").isEmpty)
    val dateOnly = SitemapParser.parseLastMod("2024-01-02").get
    val full = SitemapParser.parseLastMod("2024-01-01T00:00:00Z").get
    assert(dateOnly > full)
  }
}
