package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

import graft.frontier.FrontierStore
import graft.model.Status
import graft.parse.Charsets

/** HybridSpout refill, deletion stream, typed reads, charset detect. */
class FrontierExtrasSpec extends AnyFunSuite with LocalSpark {

  private val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
  private val t1 = Timestamp.valueOf("2024-01-02 00:00:00")

  test("Budget.allocate: largest-remainder quotas sum to the budget; caps and zero-total") {
    import spark.implicits._
    val due = Seq(("h1", 3L), ("h2", 5L), ("h3", 9L)).toDF("key", "n_due")
    // total 17, B=10: base (1,2,5) sum 8, remainders (13,16,5) ->
    // leftover 2 goes to h2 (16) and h1 (13)
    val q = graft.frontier.Budget.allocate(due, "key", "n_due", 10L)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(q == Map("h1" -> 2L, "h2" -> 3L, "h3" -> 5L))
    assert(q.values.sum == 10L)
    // B > total: every host capped at its own queue depth
    val full = graft.frontier.Budget.allocate(due, "key", "n_due", 100L)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(full == Map("h1" -> 3L, "h2" -> 5L, "h3" -> 9L))
    // zero-size queues: no division by zero, all-zero quotas
    val empty = Seq(("h1", 0L), ("h2", 0L)).toDF("key", "n_due")
    val z = graft.frontier.Budget.allocate(empty, "key", "n_due", 10L)
      .collect().map(_.getLong(2))
    assert(z.forall(_ == 0L))
  }

  test("Budget.allocate: budget × n overflowing BIGINT raises instead of wrapping") {
    import spark.implicits._
    // budget * n = 2^62 * 8 wraps a BIGINT; the guard must raise, not
    // hand out negative quotas
    val due = Seq(("h1", 8L), ("h2", 1L)).toDF("key", "n_due")
    val e = intercept[Exception] {
      graft.frontier.Budget.allocate(due, "key", "n_due", 1L << 62)
        .collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("overflow")), s"unexpected error: $e")
    // negative due counts are invalid input and must also raise (an
    // unguarded negative n can wrap budget * n just the same)
    val neg = Seq(("h1", -3L), ("h2", 1L)).toDF("key", "n_due")
    val en = intercept[Exception] {
      graft.frontier.Budget.allocate(neg, "key", "n_due", 100L).collect()
    }
    assert(msgs(en).exists(_.contains("overflow")), s"unexpected error: $en")
    // same magnitudes below the bound still allocate fine
    val ok = graft.frontier.Budget.allocate(due, "key", "n_due", Long.MaxValue / 8)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(ok == Map("h1" -> 8L, "h2" -> 1L))
  }

  private def store(rows: (String, String)*): FrontierStore = {
    import spark.implicits._
    val st = new FrontierStore(Files.createTempDirectory("frontier").toString)
    st.merge(spark,
      rows.map { case (u, s) => (u, s, Map.empty[String, Seq[String]]) }
        .toDF("url", "status", "metadata"), t0)
    st
  }

  test("refill: keyset pagination strictly after the cursor") {
    import spark.implicits._
    // 4 DISCOVERED urls on one host, all due at t0
    val st = store((1 to 4).map(i => s"http://h.com/p$i" -> Status.Discovered): _*)
    // cursor: already saw everything up to just before t0 -> all 4 match;
    // perKey = 2 limits the refill
    val c1 = Seq(("h.com", Timestamp.valueOf("2023-12-31 00:00:00"))).toDF("key", "last_seen")
    assert(st.refill(spark, c1, t1, perKey = 2).count() == 2)
    // cursor at t0: strictly-after excludes all of them
    val c2 = Seq(("h.com", t0)).toDF("key", "last_seen")
    assert(st.refill(spark, c2, t1, perKey = 2).count() == 0)
    // unknown key: no rows
    val c3 = Seq(("other.com", Timestamp.valueOf("2020-01-01 00:00:00"))).toDF("key", "last_seen")
    assert(st.refill(spark, c3, t1).count() == 0)
  }

  test("adaptive query date: freezes on full batches, resets on partial/empty/timeout") {
    import graft.frontier.AdaptiveQueryDate
    val aq = new AdaptiveQueryDate(resetAfterMs = 1000)
    val t = 1700000000000L

    // first poll at t: date == now
    assert(aq.queryDate(t).getTime == t)
    // full batch -> freeze the horizon at t
    aq.observe(selected = 10, limit = 10, nowMs = t)
    assert(aq.isFrozen)
    assert(aq.queryDate(t + 300).getTime == t) // later poll keeps digging at t
    aq.observe(10, 10, t + 300)                // still full: freeze time unchanged
    assert(aq.queryDate(t + 600).getTime == t)
    // partial batch -> reset: next date jumps to now
    aq.observe(selected = 3, limit = 10, nowMs = t + 600)
    assert(!aq.isFrozen)
    assert(aq.queryDate(t + 700).getTime == t + 700)
    // freeze again, then exceed resetAfterMs measured from the FIRST freeze
    aq.observe(10, 10, t + 700)
    assert(aq.queryDate(t + 800).getTime == t + 700)
    assert(aq.queryDate(t + 1800).getTime == t + 1800) // 1.1s after freeze: reset
    assert(!aq.isFrozen)
  }

  test("keyPriority re-orders key selection by recent throughput") {
    import spark.implicits._
    // h1 is due EARLIER (would win the default min-due ordering)
    val st = new FrontierStore(Files.createTempDirectory("frontier").toString)
    st.merge(spark, Seq(
      ("http://h1.com/a", graft.model.Status.Discovered, Map.empty[String, Seq[String]]))
      .toDF("url", "status", "metadata"), t0)
    st.merge(spark, Seq(
      ("http://h2.com/a", graft.model.Status.Discovered, Map.empty[String, Seq[String]]))
      .toDF("url", "status", "metadata"), t1)

    val later = Timestamp.valueOf("2024-01-03 00:00:00")
    // default ordering: earliest due date -> h1 wins the single key slot
    val def1 = st.selectBatch(spark, later, perBucket = 5, maxKeys = 1, limit = 10)
      .collect().map(_.getAs[String]("key")).distinct
    assert(def1.toSeq == Seq("h1.com"))

    // PriorityURLBuffer behavior: acks favor h2 -> it takes the slot
    val acks = Seq(("h2.com", 50L), ("h1.com", 3L)).toDF("key", "priority")
    val pri = st.selectBatch(spark, later, perBucket = 5, maxKeys = 1, limit = 10,
        keyPriority = Some(acks))
      .collect().map(_.getAs[String]("key")).distinct
    assert(pri.toSeq == Seq("h2.com"))
  }

  test("deletions: ERROR rows exposed as the deletion stream") {
    val st = store("http://h.com/ok" -> Status.Fetched)
    val stErr = new FrontierStore(st.root, maxFetchErrors = 1)
    import spark.implicits._
    stErr.merge(spark,
      Seq(("http://h.com/bad", Status.FetchError, Map.empty[String, Seq[String]]))
        .toDF("url", "status", "metadata"), t1)
    val dels = stErr.deletions(spark).collect()
    assert(dels.map(_.getAs[String]("url")).toSeq == Seq("http://h.com/bad"))
    assert(dels.head.getAs[String]("url_sha256").length == 64)
  }

  test("readTyped: Dataset[StatusRow] round-trips fields") {
    val st = store("http://h.com/x" -> Status.Discovered)
    val rows = st.readTyped(spark).collect()
    assert(rows.length == 1)
    assert(rows.head.url == "http://h.com/x")
    assert(rows.head.status == Status.Discovered)
    assert(rows.head.key.contains("h.com"))
  }

  test("adaptive scheduler in merge: unchanged grows interval, changed shrinks") {
    import spark.implicits._
    import graft.frontier.AdaptiveScheduler
    val st = new FrontierStore(Files.createTempDirectory("frontier").toString,
      adaptive = Some(AdaptiveScheduler(defaultMins = 100, minMins = 10,
        maxMins = 10000, incRate = 0.5, decRate = 0.5)))
    def fetched(sig: String) = Seq(
      ("http://h.com/x", Status.Fetched, Map("signature" -> Seq(sig))))
      .toDF("url", "status", "metadata")

    st.merge(spark, fetched("AAA"), t0)
    // first fetch: no old signature -> "changed" -> default*0.5 floored
    val int1 = st.read(spark).collect().head
      .getAs[Map[String, Seq[String]]]("metadata")("fetchInterval").head.toInt
    assert(int1 == 50) // 100 * 0.5

    st.merge(spark, fetched("AAA"), t1)
    // same signature -> unchanged -> grows 50 * 1.5 = 75
    val row2 = st.read(spark).collect().head
    val int2 = row2.getAs[Map[String, Seq[String]]]("metadata")("fetchInterval").head.toInt
    assert(int2 == 75)
    // next_fetch_date = t1 + 75 min
    assert(row2.getAs[java.time.LocalDateTime]("next_fetch_date").toString
      .startsWith("2024-01-02T01:15"))

    st.merge(spark, fetched("BBB"), t1)
    // changed signature -> shrinks 75 * 0.5 = 37
    val int3 = st.read(spark).collect().head
      .getAs[Map[String, Seq[String]]]("metadata")("fetchInterval").head.toInt
    assert(int3 == 37) // 37.5 cast to int

    // a rediscovery (incoming DISCOVERED duplicate) must NOT touch the
    // surviving row's schedule or interval — only fetch results adapt
    val before = st.read(spark).collect().head
    st.merge(spark,
      Seq(("http://h.com/x", Status.Discovered, Map.empty[String, Seq[String]]))
        .toDF("url", "status", "metadata"),
      Timestamp.valueOf("2024-01-02 00:30:00"))
    val after = st.read(spark).collect().head
    assert(after.getAs[String]("status") == Status.Fetched)
    assert(after.getAs[java.time.LocalDateTime]("next_fetch_date") ==
      before.getAs[java.time.LocalDateTime]("next_fetch_date"))
    assert(after.getAs[Map[String, Seq[String]]]("metadata")("fetchInterval").head.toInt == 37)

    // HTTP 304 counts as unchanged even with no fresh signature
    st.merge(spark,
      Seq(("http://h.com/x", Status.Fetched,
        Map("fetch.statusCode" -> Seq("304"))))
        .toDF("url", "status", "metadata"),
      Timestamp.valueOf("2024-01-02 01:00:00"))
    val int4 = st.read(spark).collect().head
      .getAs[Map[String, Seq[String]]]("metadata")("fetchInterval").head.toInt
    assert(int4 == 55) // 37 * 1.5 = 55.5 -> grows, not shrinks
  }

  test("compact collapses generations, content preserved") {
    import spark.implicits._
    val st = new FrontierStore(Files.createTempDirectory("frontier").toString)
    for (h <- 1 to 4)
      st.merge(spark,
        Seq((s"http://host$h.com/p", Status.Discovered, Map.empty[String, Seq[String]]))
          .toDF("url", "status", "metadata"), t0)
    assert(st.generationCount == 4)
    st.compact(spark)
    assert(st.generationCount == 1)
    assert(st.read(spark).count() == 4)
  }

  test("charset detection: BOM > header > meta > utf-8 default") {
    val utf8Bom = Array[Byte](0xef.toByte, 0xbb.toByte, 0xbf.toByte) ++ "hi".getBytes("UTF-8")
    assert(Charsets.decode(utf8Bom, None) == "hi")
    val latin = "café".getBytes("ISO-8859-1")
    assert(Charsets.decode(latin, Some("text/html; charset=ISO-8859-1")) == "café")
    val metaPage = "<html><head><meta charset=\"ISO-8859-1\"></head>café</html>"
      .getBytes("ISO-8859-1")
    assert(Charsets.decode(metaPage, None).contains("café"))
    assert(Charsets.decode("plain".getBytes("UTF-8"), None) == "plain")
  }
}
