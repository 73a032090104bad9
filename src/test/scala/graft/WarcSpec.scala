package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Warc

/** WARC write → read roundtrip (WARCSpout / WARCHdfsBolt semantics). */
class WarcSpec extends AnyFunSuite with LocalSpark {

  test("roundtrip: content rows -> gzipped WARC -> content rows") {
    import spark.implicits._
    val dir = Files.createTempDirectory("warc").toString
    val rows = Seq(
      ("http://a.example/x.html", 200, "<html>Hello A</html>".getBytes, "text/html"),
      ("http://b.example/y.html", 404, "not found".getBytes, "text/plain"),
      ("http://c.example/z.bin", 200, Array.tabulate(300)(_.toByte), "application/octet-stream"))
      .toDF("url", "http_code", "content", "content_type")

    Warc.write(rows.repartition(2), dir)

    val back = Warc.read(spark, dir)
    val got = back.collect().map(r =>
      r.getAs[String]("url") -> (r.getAs[Int]("http_code"),
        new String(r.getAs[Array[Byte]]("content").take(12), "ISO-8859-1"))).toMap
    assert(got.keySet == Set("http://a.example/x.html", "http://b.example/y.html",
      "http://c.example/z.bin"))
    assert(got("http://a.example/x.html")._1 == 200)
    assert(got("http://a.example/x.html")._2.startsWith("<html>Hello"))
    assert(got("http://b.example/y.html")._1 == 404)
    // binary payload length preserved
    val binRow = back.where(col("url") === "http://c.example/z.bin").collect().head
    assert(binRow.getAs[Array[Byte]]("content").length == 300)
    assert(binRow.getAs[String]("content_type") == "application/octet-stream")
  }

  test("retried task: duplicate completed attempts commit exactly one shard") {
    import org.apache.spark.sql.Row
    val dir = Files.createTempDirectory("warc-retry")
    val mk = () => Iterator(
      Row("http://a.example/1", 200, "one".getBytes, "text/plain"),
      Row("http://a.example/2", 200, "two".getBytes, "text/plain"))
    // both attempts of partition 0 run to completion (speculative retry)
    Warc.writeShard(dir.toString, 0, attempt = 11L, mk(), "2024-01-01T00:00:00Z")
    Warc.writeShard(dir.toString, 0, attempt = 12L, mk(), "2024-01-01T00:00:00Z")
    val names = Files.list(dir).toArray.map(_.toString.split('/').last).sorted.toSeq
    assert(names == Seq("part-00000.warc.gz"), s"expected one committed shard, got $names")
    // the reader sees each record exactly once
    val back = Warc.read(spark, dir.toString).collect()
    assert(back.length == 2)
    assert(back.map(_.getAs[String]("url")).toSet ==
      Set("http://a.example/1", "http://a.example/2"))
  }

  test("killed-mid-write and foreign tmp files are invisible to the reader") {
    import org.apache.spark.sql.Row
    val dir = Files.createTempDirectory("warc-kill")
    Warc.writeShard(dir.toString, 0, attempt = 1L,
      Iterator(Row("http://ok.example/", 200, "good".getBytes, "text/plain")),
      "2024-01-01T00:00:00Z")
    // a killed attempt's orphan: hidden tmp with TRUNCATED gzip bytes
    Files.write(dir.resolve(".part-00001-7.warc.gz.tmp"),
      Array[Byte](0x1f, 0x8b.toByte, 8, 0, 0))
    // a foreign tool's visible temp name — matches the *.warc* glob but
    // must be dropped by the .tmp suffix filter
    Files.write(dir.resolve("other.warc.gz.tmp"), Array[Byte](0x1f, 0x8b.toByte, 8))
    val back = Warc.read(spark, dir.toString).collect()
    assert(back.length == 1 && back.head.getAs[String]("url") == "http://ok.example/")
  }

  test("write()'s orphan sweep is scoped to its own job token") {
    import spark.implicits._
    val dir = Files.createTempDirectory("warc-sweep")
    // ANOTHER job's tmp (different/absent token): a concurrent write()
    // into the same directory — the sweep must NOT delete it (deleting a
    // live foreign tmp fails that job's rename). It stays hidden from
    // readers either way.
    Files.write(dir.resolve(".part-00009-3-deadbeef.warc.gz.tmp"), "junk".getBytes)
    val rows = Seq(("http://s.example/", 200, "x".getBytes, "text/plain"))
      .toDF("url", "http_code", "content", "content_type")
    Warc.write(rows.repartition(1), dir.toString)
    val leftover = Files.list(dir).toArray.map(_.toString).filter(_.endsWith(".tmp"))
    assert(leftover.toSeq == Seq(dir.resolve(".part-00009-3-deadbeef.warc.gz.tmp").toString),
      s"sweep touched a foreign job's tmp (or left its own): ${leftover.toSeq}")
    // the foreign tmp is invisible to the reader; the committed shard reads
    assert(Warc.read(spark, dir.toString).count() == 1)
  }

  test("warc record parser: record framing and http split") {
    val payload = ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\nBODY").getBytes
    val (code, headers, body) = Warc.parseHttpResponse(payload)
    assert(code == 200)
    assert(headers("Content-Type") == "text/html")
    assert(new String(body) == "BODY")
    // payload without header split
    val (c2, h2, b2) = Warc.parseHttpResponse("just bytes".getBytes)
    assert(c2 == 200 && h2.isEmpty && new String(b2) == "just bytes")
  }
}
