package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.frontier.{DefaultScheduler, FrontierStore}
import graft.model.Status

/** Frontier merge + select semantics (AbstractStatusUpdaterBolt /
  * AggregationSpout — SURVEY §2.7, §3.2/§3.3). */
class FrontierSpec extends AnyFunSuite with LocalSpark {

  private def freshStore(maxErrors: Int = 3): FrontierStore =
    new FrontierStore(Files.createTempDirectory("frontier").toString,
      maxFetchErrors = maxErrors)

  private def statusRows(rows: (String, String)*) = {
    import spark.implicits._
    rows.map { case (u, s) => (u, s, Map.empty[String, Seq[String]]) }
      .toDF("url", "status", "metadata")
  }

  private val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
  private val t1 = Timestamp.valueOf("2024-01-02 00:00:00")

  test("merge: duplicate discoveries dedup to one row") {
    val st = freshStore()
    st.merge(spark, statusRows(
      "http://a.com/x" -> Status.Discovered,
      "http://a.com/x" -> Status.Discovered,
      "http://a.com/y" -> Status.Discovered), t0)
    assert(st.read(spark).count() == 2)
  }

  test("merge: DISCOVERED never downgrades an existing FETCHED row") {
    val st = freshStore()
    st.merge(spark, statusRows("http://a.com/x" -> Status.Fetched), t0)
    st.merge(spark, statusRows("http://a.com/x" -> Status.Discovered), t1)
    val row = st.read(spark).collect().head
    assert(row.getAs[String]("status") == Status.Fetched)
  }

  test("merge: fetch result overrides DISCOVERED and schedules re-fetch") {
    val st = freshStore()
    st.merge(spark, statusRows("http://a.com/x" -> Status.Discovered), t0)
    st.merge(spark, statusRows("http://a.com/x" -> Status.Fetched), t1)
    val row = st.read(spark).collect().head
    assert(row.getAs[String]("status") == Status.Fetched)
    // DefaultScheduler: FETCHED + 1440 min
    assert(row.getAs[java.time.LocalDateTime]("next_fetch_date").toString
      .startsWith("2024-01-03T00:00"))
  }

  test("merge: FETCH_ERROR escalates to ERROR after maxFetchErrors, never refetched") {
    val st = freshStore(maxErrors = 2)
    st.merge(spark, statusRows("http://a.com/x" -> Status.FetchError), t0)
    assert(st.read(spark).collect().head.getAs[String]("status") == Status.FetchError)
    st.merge(spark, statusRows("http://a.com/x" -> Status.FetchError), t1)
    val row = st.read(spark).collect().head
    assert(row.getAs[String]("status") == Status.Error)
  }

  test("merge: success clears the error count (AbstractStatusUpdaterBolt.java:189-209)") {
    val st = freshStore(maxErrors = 3)
    st.merge(spark, statusRows("http://a.com/x" -> Status.FetchError), t0)
    st.merge(spark, statusRows("http://a.com/x" -> Status.Fetched), t0)
    st.merge(spark, statusRows("http://a.com/x" -> Status.FetchError), t1)
    st.merge(spark, statusRows("http://a.com/x" -> Status.FetchError), t1)
    // 2 errors after reset < 3 -> still FETCH_ERROR
    assert(st.read(spark).collect().head.getAs[String]("status") == Status.FetchError)
  }

  test("selectBatch: due-date filter, per-key top-K, key ordering, purgatory") {
    val st = freshStore()
    // 3 hosts x 3 urls, all DISCOVERED (due immediately at t0)
    val urls = for (h <- 1 to 3; p <- 1 to 3) yield s"http://h$h.com/p$p"
    st.merge(spark, statusRows(urls.map(_ -> Status.Discovered): _*), t0)

    val batch = st.selectBatch(spark, t1, perBucket = 2, maxKeys = 2, limit = 10)
    val got = batch.collect()
    assert(got.length == 4) // 2 keys x 2 urls
    assert(got.map(_.getAs[String]("key")).distinct.length == 2)

    // purgatory anti-join removes in-flight urls
    val inflight = st.read(spark).limit(9)
      .select("url_sha256")
    val batch2 = st.selectBatch(spark, t1, perBucket = 5, maxKeys = 5, limit = 100,
      excludeInFlight = Some(inflight))
    assert(batch2.count() == 0)

    // nothing due before its next_fetch_date; due exactly AT now is
    // selected (reference: nextFetchDate <= now)
    val stF = freshStore()
    stF.merge(spark, statusRows("http://a.com/x" -> Status.Fetched), t0)
    val tHalf = Timestamp.valueOf("2024-01-01 12:00:00")
    assert(stF.selectBatch(spark, tHalf, 5, 5, 10).count() == 0)
    assert(stF.selectBatch(spark, t1, 5, 5, 10).count() == 1)
  }

  test("selectBatch: salted two-phase top-K matches the single-window result on a skewed frontier") {
    val st = freshStore()
    // one hot host with 40 due urls, two cold hosts with 2 each — the
    // shape where the per-key window sort becomes the straggler at scale
    val urls = (1 to 40).map(p => f"http://hot.com/p$p%03d") ++
      (for (h <- Seq("c1", "c2"); p <- Seq("a", "b", "c", "d")) yield s"http://$h.com/$p")
    st.merge(spark, statusRows(urls.map(_ -> Status.Discovered): _*), t0)

    def rows(salt: Int) =
      st.selectBatch(spark, t1, perBucket = 3, maxKeys = 3, limit = 100,
        saltBuckets = salt)
        .orderBy("key", "url").collect()
        .map(r => (r.getAs[String]("key"), r.getAs[String]("url")))
    val unsalted = rows(1)
    assert(unsalted.length == 9) // 3 keys x 3 per bucket
    assert(rows(8).toSeq == unsalted.toSeq)
    assert(rows(3).toSeq == unsalted.toSeq)
  }

  test("scheduler column expressions: custom intervals and never-refetch") {
    import spark.implicits._
    val sched = DefaultScheduler(customs = Seq(
      DefaultScheduler.CustomInterval("isFeed", "true", 60)))
    val df = Seq(
      (Status.Fetched, Map.empty[String, Seq[String]]),
      (Status.Error, Map.empty[String, Seq[String]]),
      (Status.Fetched, Map("isFeed" -> Seq("true")))
    ).toDF("status", "metadata")
    val out = df.select(sched.nextFetchDate(col("status"), col("metadata"),
      lit(t0).cast("timestamp_ntz")).as("nfd")).collect()
    assert(out(0).getAs[java.time.LocalDateTime]("nfd").toString.startsWith("2024-01-02T00:00"))
    assert(out(1).getAs[java.time.LocalDateTime]("nfd").toString.startsWith("2024-02-01T00:00")) // 44640 min = 31 d
    assert(out(2).getAs[java.time.LocalDateTime]("nfd").toString.startsWith("2024-01-01T01:00")) // custom 60
  }

  test("incremental merge: only touched buckets rewritten; vacuum drops dead generations") {
    val root = Files.createTempDirectory("frontier").toString
    val st = new FrontierStore(root, numBuckets = 8)
    st.merge(spark, statusRows("http://hosta.com/1" -> Status.Discovered), t0)
    st.merge(spark, statusRows("http://hostb.com/1" -> Status.Discovered), t0)
    // both rows visible across generations
    assert(st.read(spark).count() == 2)
    val gens = new java.io.File(root).list().filter(_.startsWith("delta_")).sorted
    assert(gens.length == 2, gens.mkString(","))

    // remerging hosta rewrites only its bucket; hostb's generation stays
    st.merge(spark, statusRows("http://hosta.com/1" -> Status.Fetched), t1)
    assert(st.read(spark).count() == 2)
    val byUrl = st.read(spark).collect()
      .map(r => r.getAs[String]("url") -> r.getAs[String]("status")).toMap
    assert(byUrl("http://hosta.com/1") == Status.Fetched)
    assert(byUrl("http://hostb.com/1") == Status.Discovered)

    // three more commits: delta_0 (hosta's first write) is named only
    // by versions 0 and 1, which fall out of the four kept manifests,
    // so the last commit's own vacuum deletes it
    for (_ <- 1 to 3) st.merge(spark, statusRows("http://hosta.com/1" -> Status.Fetched), t1)
    assert(new java.io.File(root, "_manifest").list().sorted.toSeq == Seq("2", "3", "4", "5"))
    val after = new java.io.File(root).list().filter(_.startsWith("delta_")).sorted
    assert(!after.contains("delta_0"), after.mkString(","))
    assert(after.contains("delta_1"), after.mkString(",")) // hostb's live generation
    assert(st.read(spark).count() == 2) // still fully readable
  }

  test("a frame read before a merge and a compaction still collects") {
    val st = new FrontierStore(Files.createTempDirectory("frontier").toString, numBuckets = 8)
    st.merge(spark, statusRows("http://hosta.com/1" -> Status.Discovered), t0)
    st.merge(spark, statusRows("http://hostb.com/1" -> Status.Discovered), t0)
    val held = st.read(spark)
    st.merge(spark, statusRows("http://hosta.com/1" -> Status.Fetched), t1)
    st.compact(spark) // one generation now; the vacuum spares the held one
    assert(st.generationCount == 1)
    assert(held.select("url", "status").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap == Map(
        "http://hosta.com/1" -> Status.Discovered,
        "http://hostb.com/1" -> Status.Discovered))
  }

  test("statusCounts aggregation") {
    val st = freshStore()
    st.merge(spark, statusRows(
      "http://a.com/1" -> Status.Discovered,
      "http://a.com/2" -> Status.Discovered,
      "http://b.com/1" -> Status.Fetched), t0)
    val counts = st.statusCounts(spark).collect()
      .map(r => r.getAs[String]("status") -> r.getAs[Long]("n")).toMap
    assert(counts == Map(Status.Discovered -> 2L, Status.Fetched -> 1L))
  }
}
