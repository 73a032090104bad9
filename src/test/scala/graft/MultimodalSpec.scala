package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.multimodal.Multimodal

/** Multimodal plumbing: schema, framing, decode batch shape, the
  * media→embedding→ANN bridge, and size-aware partitioning. */
class MultimodalSpec extends AnyFunSuite with LocalSpark {

  private def docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  test("media table schema and deterministic framing") {
    val media = Multimodal.mediaFromDocuments(docs)
    // field names + types must match the declared contract
    // (nullability differs — derived columns carry their own flags)
    def shape(s: org.apache.spark.sql.types.StructType): Seq[(String, String)] =
      s.fields.map(f => f.name -> f.dataType.simpleString).toSeq
    assert(shape(media.schema) == shape(Multimodal.mediaSchema))
    val fs = Multimodal.frameSample(media, everyNth = 3).collect()
    assert(fs.nonEmpty)
    fs.foreach { r =>
      val n = r.getAs[Long]("n_frames")
      val sampled = r.getAs[Int]("sampled_frames")
      assert(sampled == (if (n <= 0) 0 else ((n - 1) / 3 + 1)))
    }
  }

  test("decodePartitions: one feature row per media row, codec stubbed") {
    val media = Multimodal.mediaFromDocuments(docs)
    val out = Multimodal.decodePartitions(spark, media)
    assert(out.count() == media.count())
    val r = out.where(col("n_frames") > 0).head()
    val mean = r.getAs[Double]("mean_feature")
    assert(mean > 0 && mean < 256) // mean byte value of utf-8 text
  }

  test("pseudo-embeddings are unit vectors and feed the ANN operators") {
    val media = Multimodal.mediaFromDocuments(docs)
    val emb = Multimodal.pseudoEmbeddings(media, dim = 16)
    emb.cache()
    assert(emb.count() == media.count())
    val norms = emb.select(
      sqrt(aggregate(transform(col("embedding"), x => x.cast("double") * x),
        lit(0.0), (a, b) => a + b)).as("n")).collect().map(_.getDouble(0))
    assert(norms.forall(n => math.abs(n - 1.0) < 1e-5))

    // the full pipeline shape: media -> embed -> bucketed near-dup
    val pairs = graft.analytics.Similarity.nearDupPairs(
      emb, "media_id", "embedding", dim = 16, numPlanes = 4, topN = 5)
    assert(pairs.count() == 5)
    emb.unpersist()
  }

  private def hx(s: String): Array[Byte] =
    s.replaceAll("\\s", "").grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  private def dims(b: Array[Byte]): Option[(String, Int, Int)] =
    Option(graft.multimodal.ImageHeaders.parseRow(b)).map(r =>
      (r.getUTF8String(0).toString, r.getInt(1), r.getInt(2)))

  test("image headers: byte-built fixtures parse to exact dimensions") {
    // PNG 640×480: signature + IHDR (width/height big-endian u32)
    assert(dims(hx("89504E470D0A1A0A 0000000D 49484452 00000280 000001E0 0802000000 00000000"))
      === Some(("image/png", 640, 480)))
    // GIF89a and GIF87a 320×200 (little-endian u16)
    assert(dims(hx("474946383961 4001 C800 F70000")) === Some(("image/gif", 320, 200)))
    assert(dims(hx("474946383761 4001 C800 F70000")) === Some(("image/gif", 320, 200)))
    // BMP BITMAPINFOHEADER 100×50, and top-down (height -50 two's complement)
    val bmpHead = "424D 00000000 00000000 36000000 28000000"
    assert(dims(hx(s"$bmpHead 64000000 32000000 0100 1800" + "00" * 24))
      === Some(("image/bmp", 100, 50)))
    assert(dims(hx(s"$bmpHead 64000000 CEFFFFFF 0100 1800" + "00" * 24))
      === Some(("image/bmp", 100, 50)))
    // BMP OS/2 BITMAPCOREHEADER (dib size 12, u16 fields) 64×32
    assert(dims(hx("424D 00000000 00000000 1A000000 0C000000 4000 2000 0100 1800"))
      === Some(("image/bmp", 64, 32)))
    // JPEG: SOI + APP0(JFIF) + COM + SOF0 1024×768 (height BEFORE width)
    assert(dims(hx("FFD8 FFE00010 4A46494600 0101 00 0001 0001 0000" +
      "FFFE0004 ABCD" + "FFC00011 08 0300 0400 03 011100 021101 031101"))
      === Some(("image/jpeg", 1024, 768)))
    // progressive JPEG (SOF2) with a DHT (C4 — must be skipped, not
    // mistaken for a frame header) before it
    assert(dims(hx("FFD8 FFC40005 100000 FFC20011 08 0040 0080 03 011100 021101 031101"))
      === Some(("image/jpeg", 128, 64)))
  }

  test("image headers: non-images and truncated payloads return null") {
    assert(dims(null) === None)
    assert(dims("just some text".getBytes("UTF-8")) === None)
    assert(dims(Array[Byte]()) === None)
    assert(dims(hx("89504E470D0A1A0A 0000000D")) === None)         // truncated PNG
    assert(dims(hx("FFD8 FFDA0002")) === None)                     // SOS before SOF
    assert(dims(hx("FFD8 00")) === None)                           // lost marker sync
    assert(dims(hx("474946383961 0000 C800 F70000")) === None)     // zero width GIF
    // a payload that merely STARTS like text but is long enough to
    // index must not throw
    assert(dims(("BM" + "x" * 60).getBytes("UTF-8")).forall(_._1 == "image/bmp"))
  }

  test("media table: image payloads carry real headers; dims parse to the formula") {
    val media = Multimodal.mediaFromDocuments(docs)
    val imgs = media.where(col("kind") === "image")
      .select(col("media_id"), col("meta.mime"), col("meta.width"), col("meta.height"))
      .collect()
    assert(imgs.nonEmpty)
    val mimes = Seq("image/png", "image/gif", "image/bmp", "image/jpeg")
    imgs.foreach { r =>
      val id = r.getLong(0)
      assert(r.getString(1) === mimes(((id / 3) % 4).toInt), s"media_id=$id")
      assert(r.getInt(2) === 16 + (id * 7 % 1000).toInt, s"media_id=$id width")
      assert(r.getInt(3) === 16 + (id * 13 % 800).toInt, s"media_id=$id height")
    }
    // audio/video stay opaque: no dims, duration heuristic intact
    val av = media.where(col("kind") =!= "image")
      .select(col("meta.mime"), col("meta.width"), col("meta.duration_ms")).collect()
    assert(av.forall(r => r.getString(0) == "application/octet-stream" && r.isNullAt(1)))
    assert(av.forall(!_.isNullAt(2)))
  }

  test("size-aware repartition sizes task count by byte volume") {
    val media = Multimodal.mediaFromDocuments(docs)
    val total = media.select(sum(length(col("bytes")))).head().getLong(0)
    val target = total / 7 + 1 // force ~7 partitions
    val parts = Multimodal.sizeAwareRepartition(media, target)
      .rdd.getNumPartitions
    assert(parts >= 6 && parts <= 8, s"got $parts partitions")
    assert(Multimodal.sizeAwareRepartition(media, Long.MaxValue).rdd.getNumPartitions == 1)
  }
}
