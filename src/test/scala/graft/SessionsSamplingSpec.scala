package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.analytics.{Sampling, Sessions}

/** Sessionization gap semantics + deterministic-sampling invariants. */
class SessionsSamplingSpec extends AnyFunSuite with LocalSpark {

  private def ts(min: Long): Timestamp = new Timestamp(min * 60000L)

  test("sessionize: gap splits, boundary gap stays, per-user independence") {
    import spark.implicits._
    val events = Seq(
      // user 1: events at 0, 10, 45, 80 min -> gaps 10, 35, 35 => 3 sessions
      (1L, 1L, ts(0), 1.0), (2L, 1L, ts(10), 1.0),
      (3L, 1L, ts(45), 1.0), (4L, 1L, ts(80), 1.0),
      // user 2: exactly 30-min gap is NOT a split (strictly greater splits)
      (5L, 2L, ts(0), 1.0), (6L, 2L, ts(30), 1.0),
      // user 3: single event
      (7L, 3L, ts(500), 1.0))
      .toDF("event_id", "user_id", "ts", "value")
    val out = Sessions.sessionize(events, gapMinutes = 30)
      .select("event_id", "session_seq").as[(Long, Long)].collect().toMap
    assert(out(1L) == 1 && out(2L) == 1)
    assert(out(3L) == 2)
    assert(out(4L) == 3)
    assert(out(5L) == 1 && out(6L) == 1)
    assert(out(7L) == 1)

    val stats = Sessions.sessionStats(events, gapMinutes = 30)
      .where(col("user_id") === 1 && col("session_seq") === 1).collect().head
    assert(stats.getAs[Long]("n_events") == 2)
    assert(stats.getAs[Timestamp]("session_start") == ts(0))
    assert(stats.getAs[Timestamp]("session_end") == ts(10))
  }

  test("stratified sample: rates honored, deterministic across partitioning") {
    import spark.implicits._
    val docs = (0L until 2000L).map(i => (i, if (i % 4 == 0) "en" else "de"))
      .toDF("doc_id", "lang")
    val rates = Map("en" -> 0.5, "de" -> 0.1)
    val s1 = Sampling.stratifiedSample(docs, "lang", "doc_id", rates)
      .select("doc_id").as[Long].collect().toSet
    // same rows no matter how the input is split — no RNG anywhere
    val s2 = Sampling.stratifiedSample(docs.repartition(13), "lang", "doc_id", rates)
      .select("doc_id").as[Long].collect().toSet
    assert(s1 == s2)
    // rates approximately honored (hash spread, not exact)
    val en = s1.count(_ % 4 == 0)
    val de = s1.size - en
    assert(math.abs(en / 500.0 - 0.5) < 0.1, s"en rate off: $en/500")
    assert(math.abs(de / 1500.0 - 0.1) < 0.05, s"de rate off: $de/1500")
    // unlisted stratum default rate 0 -> dropped entirely
    val none = Sampling.stratifiedSample(docs, "lang", "doc_id", Map("xx" -> 1.0))
    assert(none.count() == 0)
  }

  test("temperature sample: sqrt(cap/n) rates, small groups untouched, deterministic") {
    import spark.implicits._
    // en: 1600 docs, cap 400 -> rate sqrt(0.25) = 0.5 exactly
    // de: 400 docs  -> rate 1.0 (capped) — kept in full
    val docs = (0L until 2000L).map(i => (i, if (i % 5 == 4) "de" else "en"))
      .toDF("doc_id", "lang")
    val s1 = Sampling.temperatureSample(docs, "lang", "doc_id", 400L)
      .select("doc_id").as[Long].collect().toSet
    val s2 = Sampling.temperatureSample(docs.repartition(13), "lang", "doc_id", 400L)
      .select("doc_id").as[Long].collect().toSet
    assert(s1 == s2) // no RNG, any parallelism
    val de = s1.count(_ % 5 == 4)
    assert(de == 400, s"small group must be untouched: $de") // rate capped at 1
    val en = s1.size - de
    assert(math.abs(en / 1600.0 - 0.5) < 0.1, s"en rate off: $en/1600")
  }

  test("sampling bucket matches its SQL mirror") {
    import spark.implicits._
    val ids = Seq(0L, 1L, 17L, 9999L, 123456789L).toDF("id")
    val sparkBuckets = ids.select(Sampling.bucket(col("id"))).as[Long].collect()
    val sqlBuckets = ids.selectExpr(Sampling.bucketSql("id")).as[Long].collect()
    assert(sparkBuckets.sameElements(sqlBuckets))
  }

  test("sampling bucket is overflow-safe past 2^33 (web-corpus id range)") {
    import spark.implicits._
    val p = BigInt(2147483647L)
    val m = BigInt(2654435761L)
    // exact arbitrary-precision reference of the documented formula
    def ref(id: Long): Long =
      ((((BigInt(id) mod p) + p) mod p) * m mod BigInt(10000)).toLong
    val huge = Seq(
      (1L << 33) + 7L,       // first range the old form corrupted
      (1L << 40) + 123L,
      (1L << 62) + 999999L,  // deep BIGINT range
      3500000001L,           // just past the old ~3.5e9 cliff
      Long.MaxValue, 0L, 42L)
    val got = huge.toDF("id").select(Sampling.bucket(col("id"))).as[Long].collect()
    assert(got.toSeq == huge.map(ref))
    assert(got.forall(b => b >= 0 && b < 10000))
    // the SQL mirror agrees at the same extremes (driver-oracle parity)
    val sqlGot = huge.toDF("id").selectExpr(Sampling.bucketSql("id")).as[Long].collect()
    assert(sqlGot.toSeq == got.toSeq)
    // ids below 2^31 keep their pre-fix buckets (q45/q51 stability)
    val small = Seq(0L, 1L, 9999L, 123456789L, 2147483646L)
    val smallGot = small.toDF("id").select(Sampling.bucket(col("id"))).as[Long].collect()
    val legacy = small.map(id => ((BigInt(id) * m) mod BigInt(10000)).toLong)
    assert(smallGot.toSeq == legacy)
  }
  test("sessionizeSkewAware: bit-identical to plain sessionize on a planted hot key (VERDICT r15 ask #6)") {
    import spark.implicits._
    // hot user 7 owns 600 events — a mix of dense bursts (intra-session),
    // >30-min gaps (session breaks), and boundary-straddling runs so the
    // chunk stitch sees merges AND non-merges at chunk edges; users 1-5
    // are normal-sized and must take the plain path untouched.
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Timestamp, Double)]
    var id = 0L
    var t = 0L
    (1 to 600).foreach { i =>
      id += 1
      // deterministic gap pattern: mostly 5 min, every 13th event 45 min,
      // every 97th 200 min
      t += (if (i % 97 == 0) 200 else if (i % 13 == 0) 45 else 5)
      rows += ((id, 7L, ts(t), 1.0))
    }
    (1L to 5L).foreach { u =>
      (1 to 20).foreach { i =>
        id += 1
        rows += ((id, u, ts(i * (if (i % 7 == 0) 40 else 10)), 1.0))
      }
    }
    val events = rows.toSeq.toDF("event_id", "user_id", "ts", "value")
    val plain = Sessions.sessionize(events, gapMinutes = 30)
      .select("event_id", "user_id", "session_seq")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    // threshold 100 makes ONLY user 7 hot; 8 chunks over its time span
    val skew = Sessions.sessionizeSkewAware(events, gapMinutes = 30,
        hotThreshold = 100, chunks = 8)
      .select("event_id", "user_id", "session_seq")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(skew.toSeq == plain.toSeq)
    // sanity: the hot user really did split into multiple sessions and
    // multiple chunks (the stitch actually exercised)
    assert(plain.filter(_._2 == 7L).map(_._3).max > 10)
    // degenerate corners: threshold no one crosses (pure plain path) and
    // a single-chunk hot user both stay identical
    val skewCold = Sessions.sessionizeSkewAware(events, gapMinutes = 30,
        hotThreshold = 10000, chunks = 8)
      .select("event_id", "user_id", "session_seq")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(skewCold.toSeq == plain.toSeq)
    val skewOne = Sessions.sessionizeSkewAware(events, gapMinutes = 30,
        hotThreshold = 100, chunks = 1)
      .select("event_id", "user_id", "session_seq")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(skewOne.toSeq == plain.toSeq)
  }
}
