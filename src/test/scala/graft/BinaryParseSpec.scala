package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.parse.{BinaryDocs, BinaryParser, Ole2}

/** Binary-document (Tika-branch) extraction truth tables: PDF round
  * trips (compressed + uncompressed + Unicode + escapes), link
  * annotations, titles, RTF control-word handling, plain-text and
  * failure dispatch. */
class BinaryParseSpec extends AnyFunSuite with LocalSpark {

  test("pdf round trip, uncompressed stream") {
    val text = "the quick brown fox\njumps over the lazy dog"
    val pdf = BinaryDocs.makePdf(text, Some("A Title"), compress = false)
    val bp = BinaryParser.parsePdf(pdf).toOption.get
    assert(bp.text == text)
    assert(bp.title.contains("A Title"))
    assert(bp.metadata("pages") == Seq("1"))
    assert(bp.metadata("format") == Seq("pdf"))
  }

  test("pdf round trip, FlateDecode stream") {
    val text = ("word " * 200).trim
    val pdf = BinaryDocs.makePdf(text, None, compress = true)
    assert(BinaryParser.isPdf(pdf))
    val bp = BinaryParser.parsePdf(pdf).toOption.get
    assert(bp.text == text)
    assert(bp.title.isEmpty)
  }

  test("pdf string escapes and unicode") {
    val text = "parens (nested (deep)) and \\backslash"
    val bp = BinaryParser.parsePdf(BinaryDocs.makePdf(text, compress = true)).toOption.get
    assert(bp.text == text)
    val uni = "héllo wörld — ünïcode 日本語"
    val bp2 = BinaryParser.parsePdf(BinaryDocs.makePdf(uni, Some(uni), compress = false)).toOption.get
    assert(bp2.text == uni)
    assert(bp2.title.contains(uni))
  }

  test("pdf link annotations become outlinks") {
    val links = Seq("https://a.example/x", "https://b.example/y?q=(1)")
    val pdf = BinaryDocs.makePdf("body", links = links)
    val bp = BinaryParser.parsePdf(pdf).toOption.get
    assert(bp.outlinks == links)
  }

  test("rtf round trip with title, escapes, unicode") {
    val text = "line one\nline two\ttabbed {braces} and \\slash"
    val rtf = BinaryDocs.makeRtf(text, Some("Rtf Title"))
    assert(BinaryParser.isRtf(rtf))
    val bp = BinaryParser.parseRtf(rtf).toOption.get
    assert(bp.text == text)
    assert(bp.title.contains("Rtf Title"))
    val uni = "héllo — 日本語"
    assert(BinaryParser.parseRtf(BinaryDocs.makeRtf(uni)).toOption.get.text == uni)
  }

  test("rtf \\uN with \\'hh fallback byte: fallback consumed, not emitted") {
    // Word emits unicode as \uN + a one-byte \'hh fallback — the
    // fallback must be skipped as ONE character
    val rtf = "{\\rtf1\\ansi \\u26085\\'3f\\u26412\\'3f done}".getBytes("ISO-8859-1")
    assert(BinaryParser.parseRtf(rtf).toOption.get.text == "日本 done")
  }

  test("docx numeric entities: supplementary plane + malformed survive") {
    def zipOf(entries: (String, String)*): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      val z = new java.util.zip.ZipOutputStream(out)
      entries.foreach { case (n, b) =>
        z.putNextEntry(new java.util.zip.ZipEntry(n)); z.write(b.getBytes("UTF-8")); z.closeEntry()
      }
      z.close(); out.toByteArray
    }
    val docx = zipOf("word/document.xml" ->
      """<w:document><w:body><w:p><w:r><w:t>grin &#x1F600; num &#66 bad &#99999999999;</w:t></w:r></w:p></w:body></w:document>""")
    val bp = BinaryParser.parseZipContainer(docx).toOption.get
    val emoji = new String(Character.toChars(0x1F600))
    // surrogate pair decoded; unterminated/overflowing refs left as-is
    assert(bp.text == s"grin $emoji num &#66 bad &#99999999999;")
  }

  test("rtf skips font/color tables and optional destinations") {
    val rtf = ("{\\rtf1\\ansi{\\fonttbl{\\f0 Arial;}}{\\colortbl;\\red0;}" +
      "{\\*\\generator Acme 1.0;}Hello\\par World}").getBytes("ISO-8859-1")
    val bp = BinaryParser.parseRtf(rtf).toOption.get
    assert(bp.text == "Hello\nWorld")
    assert(!bp.text.contains("Arial"))
    assert(!bp.text.contains("Acme"))
  }

  test("docx round trip: paragraphs, tabs, title, hyperlink relationships") {
    val text = "first paragraph\nsecond\twith tab\n<specials> & \"quotes\""
    val links = Seq("https://x.example/a", "https://y.example/b?p=1&q=2")
    val docx = BinaryDocs.makeDocx(text, Some("Docx & Title"), links)
    assert(BinaryParser.isZip(docx))
    val bp = BinaryParser.parseZipContainer(docx).toOption.get
    assert(bp.text == text)
    assert(bp.title.contains("Docx & Title"))
    assert(bp.outlinks == links)
    assert(bp.metadata("format") == Seq("docx"))
    assert(bp.metadata("paragraphs") == Seq("3"))
    val uni = "日本語 — ünïcode"
    assert(BinaryParser.parseZipContainer(BinaryDocs.makeDocx(uni)).toOption.get.text == uni)
  }

  test("odt round trip: paragraphs, tabs, title") {
    val text = "alpha\nbeta\twith tab"
    val odt = BinaryDocs.makeOdt(text, Some("Odt Title"))
    val bp = BinaryParser.parseZipContainer(odt).toOption.get
    assert(bp.text == text)
    assert(bp.title.contains("Odt Title"))
    assert(bp.metadata("format") == Seq("odt"))
  }

  test("unknown zip container is a parse failure, not a crash") {
    val out = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.ZipOutputStream(out)
    z.putNextEntry(new java.util.zip.ZipEntry("random.bin"))
    z.write(Array[Byte](1, 2, 3)); z.closeEntry(); z.close()
    assert(BinaryParser.parseZipContainer(out.toByteArray).isLeft)
  }

  test("dispatch: magic bytes beat declared mime; text and failures routed") {
    val pdf = BinaryDocs.makePdf("x")
    // server lies: says text/plain, magic says pdf
    assert(BinaryParser.parse(pdf, "text/plain").toOption.get.metadata("format") == Seq("pdf"))
    val plain = BinaryParser.parse("just words".getBytes("UTF-8"), "text/plain")
    assert(plain.toOption.get.text == "just words")
    // binary junk with a binary mime → parse failure (ERROR status path)
    val junk = Array.tabulate[Byte](256)(i => i.toByte)
    assert(BinaryParser.parse(junk, "application/zstd").isLeft)
    // truncated pdf: header but no usable objects → empty text, not a crash
    val broken = "%PDF-1.4\n1 0 obj\n<< /Type /Catalog".getBytes("ISO-8859-1")
    assert(BinaryParser.parsePdf(broken).toOption.get.text == "")
  }

  test("fuzz: garbage with valid magics and truncated docs never throw") {
    // deterministic LCG — crawlers meet byte garbage constantly; every
    // parser entry point must return Left, never throw
    var state = 0x2545f4914f6cdd1dL
    def nextBytes(n: Int): Array[Byte] = Array.fill(n) {
      state = state * 6364136223846793005L + 1442695040888963407L
      (state >>> 33).toByte
    }
    val magics = Seq("%PDF-1.4\n", "{\\rtf1", "PK", "")
    for (m <- magics; len <- Seq(0, 1, 7, 64, 513, 4096)) {
      val junk = m.getBytes("ISO-8859-1") ++ nextBytes(len)
      BinaryParser.parse(junk, "application/pdf")
      BinaryParser.parse(junk, "application/rtf")
      BinaryParser.parse(junk, "application/octet-stream")
      BinaryParser.parse(junk, "text/plain")
    }
    // every truncation prefix of valid documents parses or fails cleanly
    val pdf = BinaryDocs.makePdf("text body", Some("T"), Seq("https://x.example/"))
    val docx = BinaryDocs.makeDocx("text body", Some("T"))
    val rtf = BinaryDocs.makeRtf("text body", Some("T"))
    for (doc <- Seq(pdf, docx, rtf); cut <- 1 until doc.length by 7) {
      BinaryParser.parse(doc.take(cut), "application/octet-stream")
    }
    succeed
  }

  test("supports() mirrors the RedirectionBolt shunt") {
    val pdf = BinaryDocs.makePdf("x")
    assert(BinaryParser.supports("application/pdf", pdf))
    assert(BinaryParser.supports("application/octet-stream", pdf)) // magic wins
    assert(BinaryParser.supports("text/plain", "words".getBytes))
    assert(!BinaryParser.supports("text/html", "<html></html>".getBytes))
    assert(!BinaryParser.supports("application/xhtml+xml", "<html/>".getBytes))
  }

  test("ole2 .doc round trip: UTF-16 piece, FAT + mini stream paths") {
    val text = "Hello legacy Word.\nSecond paragraph with caf\u00e9 \u4e2d\u6587."
    val bytes = BinaryDocs.makeDoc(text)
    assert(Ole2.isOle2(bytes))
    val bp = Ole2.parse(bytes).fold(e => fail(e), identity)
    assert(bp.text == text)
    assert(bp.metadata("format") == Seq("doc"))
    assert(bp.metadata("pieces") == Seq("1"))
  }

  test("ole2 .doc split pieces: CP1252-compressed + UTF-16 PCDs both decode") {
    val text = "An ascii-only document body that spans exactly two pieces."
    val bytes = BinaryDocs.makeDoc(text, splitCompressed = true)
    val bp = Ole2.parse(bytes).fold(e => fail(e), identity)
    assert(bp.text == text)
    assert(bp.metadata("pieces") == Seq("2"))
  }

  test("ole2 .doc paragraph normalization: CR and cell marks become newlines") {
    val bytes = BinaryDocs.makeDoc("one\rtwo\u0007three")
    val bp = Ole2.parse(bytes).fold(e => fail(e), identity)
    assert(bp.text == "one\ntwo\nthree")
  }

  test("ole2 .xls SST strings extracted") {
    val text = "Quarterly totals \u2014 sheet text"
    val bp = Ole2.parse(BinaryDocs.makeXls(text)).fold(e => fail(e), identity)
    assert(bp.text == text)
    assert(bp.metadata("format") == Seq("xls"))
  }

  test("ole2 .ppt text atoms extracted (bytes + chars atoms, nested containers)") {
    // latin-1 lines become TextBytesAtoms, the unicode line a
    // TextCharsAtom, each inside its own Slide container — the reader
    // must recurse and decode both encodings
    val text = "Slide title\nBullet one\n\u4e2d\u6587 caf\u00e9"
    val bp = Ole2.parse(BinaryDocs.makePpt(text)).fold(e => fail(e), identity)
    assert(bp.text == text)
    assert(bp.metadata("format") == Seq("ppt"))
    assert(bp.metadata("text_atoms") == Seq("3"))
  }

  test("ole2 dispatch: BinaryParser routes on the D0CF11E0 magic") {
    val doc = BinaryDocs.makeDoc("dispatched")
    val viaMime = BinaryParser.parse(doc, "application/msword")
    assert(viaMime.exists(_.text == "dispatched"))
    // magic beats a lying mime
    val viaLie = BinaryParser.parse(doc, "text/plain")
    assert(viaLie.exists(_.text == "dispatched"))
    assert(BinaryParser.supports("application/vnd.ms-excel", Array[Byte](1, 2)))
    assert(BinaryParser.supports("", doc))
  }

  test("ole2 fuzz: truncated and corrupted containers fail, never throw") {
    val doc = BinaryDocs.makeDoc("payload " * 40)
    for (n <- Seq(8, 100, 512, 700, 1500, doc.length - 7)) {
      val t = java.util.Arrays.copyOf(doc, n)
      assert(Ole2.parse(t).isLeft || Ole2.parse(t).isRight) // no throw
    }
    // flip bytes through the header/FAT region
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 200) {
      val m = doc.clone()
      for (_ <- 1 to 8) m(rnd.nextInt(m.length)) = rnd.nextInt(256).toByte
      Ole2.parse(m) // must not throw
    }
    // an OLE2 container with no recognized payload is a Left
    val alien = BinaryDocs.makeCfbf(Seq("Mystery" -> Array[Byte](1, 2, 3)))
    assert(Ole2.parse(alien).isLeft)
  }

  test("ole2 adversarial DIFAT: huge declared count + self-loop terminates") {
    val m = BinaryDocs.makeDoc("payload " * 20).clone()
    def put4(o: Int, v: Long): Unit = for (i <- 0 until 4)
      m(o + i) = ((v >> (8 * i)) & 0xff).toByte
    put4(68, 0L)            // first DIFAT sector = sector 0
    put4(72, 0xfffffffeL)   // declared DIFAT count: ~2^32
    put4(512 + 508, 0L)     // sector 0's next-DIFAT pointer -> itself
    val t0 = System.nanoTime()
    Ole2.parse(m) // Left or Right both fine — must return, fast
    assert((System.nanoTime() - t0) / 1e9 < 5.0,
      "a crafted DIFAT header must not hang the parser")
  }

  test("ole2 .xls SST spanning Continue records: multi-string, mid-string splits") {
    // force tiny records: every string header/fragment lands in its own
    // Continue; the parser must stitch fragments and keep alignment
    val texts = Seq(
      "first shared string, long enough to span several continue records",
      "second \u2014 unicode survives fragment boundaries: caf\u00e9 \u4e2d\u6587",
      "third")
    val bytes = BinaryDocs.makeXlsSst(texts, maxPayload = 32)
    val bp = Ole2.parse(bytes).fold(e => fail(e), identity)
    assert(bp.text == texts.mkString("\n"))
    assert(bp.metadata("sst_strings") == Seq("3"))
    // sanity: the split really happened (payload >> one record)
    assert(texts.map(_.length * 2).sum > 32)
  }

  test("ole2 .xls SST Continue fuzz: truncated continue chains never throw") {
    val bytes = BinaryDocs.makeXlsSst(Seq("alpha beta gamma delta " * 10), maxPayload = 24)
    for (n <- Seq(bytes.length - 1, bytes.length - 64, bytes.length - 512)) {
      if (n > 8) Ole2.parse(java.util.Arrays.copyOf(bytes, n)) // no throw
    }
    val rnd = new scala.util.Random(11)
    for (_ <- 1 to 100) {
      val m = bytes.clone()
      for (_ <- 1 to 6) m(rnd.nextInt(m.length)) = rnd.nextInt(256).toByte
      Ole2.parse(m) // no throw
    }
  }

  test("image dispatch: magic bytes route all four formats, dims from the header") {
    val cases = Seq(
      ("image/png", BinaryDocs.makePng(640, 480), 640, 480),
      ("image/gif", BinaryDocs.makeGif(320, 200), 320, 200),
      ("image/bmp", BinaryDocs.makeBmp(800, 600), 800, 600),
      ("image/jpeg", BinaryDocs.makeJpeg(1024, 768), 1024, 768))
    for ((mime, bytes, w, h) <- cases) {
      assert(BinaryParser.isImage(bytes), mime)
      // declared mime deliberately vague: the sniff must win
      val bp = BinaryParser.parse(bytes, "application/octet-stream")
        .fold(e => fail(s"$mime: $e"), identity)
      assert(bp.metadata("format") == Seq("image"), mime)
      assert(bp.metadata("image.mime") == Seq(mime))
      assert(bp.metadata("image.width") == Seq(w.toString), mime)
      assert(bp.metadata("image.height") == Seq(h.toString), mime)
      assert(bp.text.isEmpty && bp.outlinks.isEmpty, mime)
    }
    // a declared image that isn't one errors like any mismatched binary
    assert(BinaryParser.parse("not pixels".getBytes("UTF-8"), "image/webp").isLeft)
  }

  test("image payloads through the FULL parse stage carry parse.image.* metadata") {
    import spark.implicits._
    val fetched = Seq(
      ("http://site.example/a.png", "site.example", graft.model.Status.Fetched,
        200, BinaryDocs.makePng(640, 480), "image/png",
        null.asInstanceOf[String], 1L, Map.empty[String, Seq[String]]),
      ("http://site.example/b.jpg", "site.example", graft.model.Status.Fetched,
        200, BinaryDocs.makeJpeg(1024, 768), "application/octet-stream",
        null.asInstanceOf[String], 1L, Map.empty[String, Seq[String]]))
      .toDF("url", "key", "status", "http_code", "content", "content_type",
        "redirect_to", "fetch_ms", "metadata")
    val out = graft.parse.ParseStage.parse(fetched,
      new graft.filters.UrlFilterChain(Seq())).collect()
    val docs = out.filter(_.getAs[String]("kind") == "doc")
      .map(r => r.getAs[String]("url") ->
        r.getMap[String, scala.collection.Seq[String]](
          r.fieldIndex("metadata")).toMap)
      .toMap
    val png = docs("http://site.example/a.png")
    assert(png("parse.image.mime").toSeq == Seq("image/png"))
    assert(png("parse.image.width").toSeq == Seq("640"))
    assert(png("parse.image.height").toSeq == Seq("480"))
    // vague declared mime: the magic-byte sniff still routes to image
    val jpg = docs("http://site.example/b.jpg")
    assert(jpg("parse.image.mime").toSeq == Seq("image/jpeg"))
    assert(jpg("parse.image.width").toSeq == Seq("1024"))
    assert(jpg("parse.image.height").toSeq == Seq("768"))
  }
}
