package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.streaming.EventStreams

/** Structured-Streaming throughput soak: sustained rows/sec through the
  * three §2 streaming faces that carry state — windowed status counts
  * (watermark + tumbling agg), engine-native watermark dedup
  * (`dropDuplicatesWithinWatermark`), and the TTL dedup cache
  * (`flatMapGroupsWithState`, the reference's Caffeine
  * expireAfterAccess semantics from `AbstractStatusUpdaterBolt`).
  *
  * Each leg drives a `rate` source at a fixed rows/sec for a fixed
  * wall window into a `noop` sink and reports the SUSTAINED processed
  * throughput from the query's own progress events (total input rows /
  * wall). The rate source backlogs when the pipeline can't keep up, so
  * processed-rows/wall is the honest number — a leg that keeps pace
  * reports ≈ the offered rate, a leg that can't reports its ceiling.
  *
  * One JSON line per leg:
  *   {"metric":"streaming_soak","leg":"...","offered_rows_per_sec":R,
  *    "rows":N,"batches":B,"wall_sec":…,"rows_per_sec":…}
  *
  * Usage: runMain graft.tools.StreamingSoak [secondsPerLeg] [rateScale]
  */
object StreamingSoak {
  def main(args: Array[String]): Unit = {
    val seconds = args.headOption.map(_.toInt).getOrElse(60)
    val scale = args.lift(1).map(_.toDouble).getOrElse(1.0)
    val spark = graft.Session.local()
    import spark.implicits._

    def rateSource(rowsPerSec: Int): DataFrame =
      spark.readStream.format("rate")
        .option("rowsPerSecond", rowsPerSec)
        .option("numPartitions", 8)
        .load()

    /** Run a leg: start, soak for `seconds`, stop, report.
      * Rows are accumulated in a StreamingQueryListener, NOT read from
      * q.recentProgress — recentProgress is a ring buffer capped at
      * spark.sql.streaming.numRecentProgressUpdates (default 100), so
      * a fast-batch leg completing >100 micro-batches in the window
      * would silently drop its earliest batches and understate
      * rows/sec. The listener sees every progress event. The snapshot
      * is taken before stop(): rows counted match the wall measured
      * (the event bus is async, so we settle briefly first). */
    def soak(leg: String, offered: Int, out: DataFrame,
             mode: String = "append"): Unit = {
      import org.apache.spark.sql.streaming.StreamingQueryListener
      val totalRows = new java.util.concurrent.atomic.AtomicLong(0)
      val batches = new java.util.concurrent.atomic.AtomicLong(0)
      @volatile var queryId: java.util.UUID = null
      val listener = new StreamingQueryListener {
        override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
          if (queryId != null && e.progress.id == queryId) {
            totalRows.addAndGet(e.progress.numInputRows)
            batches.incrementAndGet()
          }
        override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      }
      spark.streams.addListener(listener)
      val q = out.writeStream.format("noop").outputMode(mode)
        .option("checkpointLocation",
          Scratch.dir(s"stream_soak_$leg").toString + "/ckpt")
        .start()
      queryId = q.id
      val t0 = System.nanoTime()
      Thread.sleep(seconds * 1000L)
      // let the async listener bus deliver the last completed batch's
      // progress event before snapshotting (untimed relative to rows:
      // wall is stamped at snapshot, after the same settle)
      Thread.sleep(500L)
      val rows = totalRows.get()
      val nBatches = batches.get()
      val wall = (System.nanoTime() - t0) / 1e9
      q.stop()
      spark.streams.removeListener(listener)
      println(f"""{"metric":"streaming_soak","leg":"$leg","offered_rows_per_sec":$offered,"rows":$rows,"batches":$nBatches,"wall_sec":$wall%.1f,"rows_per_sec":${rows / wall}%.0f}""")
    }

    // ---- leg 1: watermarked tumbling-window status counts ----
    val offered1 = (500000 * scale).toInt
    val ev1 = rateSource(offered1).select(
      col("timestamp").as("ts"),
      element_at(
        array(lit("DISCOVERED"), lit("FETCHED"), lit("FETCH_ERROR"),
          lit("REDIRECTION"), lit("ERROR")),
        (col("value") % 5 + 1).cast("int")).as("status"))
    soak("windowed_status_counts", offered1,
      EventStreams.statusCountsWindowed(ev1, "ts", "status",
        windowDur = "10 seconds", watermark = "10 seconds"),
      mode = "update")

    // ---- leg 2: engine-native watermark dedup ----
    // url space cycles every 1 M values: at the offered rate the stream
    // turns duplicate-heavy within seconds — the state store holds ~1 M
    // keys and every later row is a drop
    val offered2 = (200000 * scale).toInt
    val ev2 = rateSource(offered2).select(
      concat(lit("https://host"), (col("value") % 997).cast("string"),
        lit(".example.com/p/"), (col("value") % 1000000).cast("string")).as("url"),
      col("timestamp").as("ts"))
    soak("watermark_dedup", offered2,
      EventStreams.dedupWithinWatermark(ev2, "url", "ts", "10 seconds"))

    // ---- leg 2b/2c: same dedup on the RocksDB state store ----
    // The default HDFS-backed store is commit-bound (it rewrites the
    // full ~1 M-key map snapshot every batch) — the measured 653 k/s
    // ceiling. RocksDB commits incrementally; changelog checkpointing
    // additionally moves snapshot upload off the commit path. The
    // provider is read from the session conf at query START, so
    // setting it here scopes it to these legs.
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    soak("watermark_dedup_rocksdb", offered2,
      EventStreams.dedupWithinWatermark(ev2, "url", "ts", "10 seconds"))
    spark.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
    soak("watermark_dedup_rocksdb_changelog", offered2,
      EventStreams.dedupWithinWatermark(ev2, "url", "ts", "10 seconds"))
    spark.conf.unset(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled")
    spark.conf.unset("spark.sql.streaming.stateStore.providerClass")

    // ---- leg 3: TTL dedup cache (flatMapGroupsWithState) ----
    val offered3 = (100000 * scale).toInt
    val ev3 = rateSource(offered3).select(
      concat(lit("https://host"), (col("value") % 997).cast("string"),
        lit(".example.com/p/"), (col("value") % 200000).cast("string")).as("url"),
      col("timestamp").as("ts")).as[EventStreams.Seen]
    soak("ttl_dedup_cache", offered3,
      EventStreams.dedupStream(ev3, ttlMs = 60000, watermark = "10 seconds").toDF())

    spark.stop()
  }
}
