package perfbench

import java.util.UUID
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import graft.streaming.EventStreams

/** The three stateful `EventStreams` faces, one after another, each fed
  * by `rate-micro-batch` (fixed rows per batch, a fixed start timestamp
  * and 1 s of event time per batch) into a noop sink on the default
  * state store. The default trigger starts the next batch as soon as
  * the previous one ends, so each leg is a closed loop. Numbers come
  * from every progress event the engine posts, collected by the
  * benchmark's own listener; the query runs no extra action. */
object StatusStream {
  final case class Params(rowsPerBatch: Int, warmBatches: Int, timedBatches: Int,
                          keyOffset: Long, keySpace: Long, ttlKeySpace: Long)

  private final class Progress extends StreamingQueryListener {
    val events = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      events.add(e.progress): Unit
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def of(id: UUID): Seq[StreamingQueryProgress] =
      events.asScala.filter(_.id == id).toSeq.sortBy(_.batchId)
  }

  def run(spark: SparkSession, work: java.nio.file.Path, p: Params,
          markTimed: () => Unit): Map[String, Any] = {
    val listener = new Progress
    spark.streams.addListener(listener)
    val total = p.warmBatches + p.timedBatches

    def source(): DataFrame = spark.readStream.format("rate-micro-batch")
      .option("rowsPerBatch", p.rowsPerBatch)
      .option("numPartitions", spark.sparkContext.defaultParallelism)
      .option("startTimestamp", 1700000000000L)
      .option("advanceMillisPerBatch", 1000L)
      .load()
      .withColumn("k", col("value") + lit(p.keyOffset))

    // a url per key in [0, space): the host is a function of the key
    def url(space: Long) = {
      val key = col("k") % space
      concat(lit("https://host"), (key % 997).cast("string"),
        lit(".example.com/p/"), key.cast("string"))
    }

    def leg(name: String, out: DataFrame, mode: String): Map[String, Any] = {
      val q = out.writeStream.format("noop").outputMode(mode)
        .option("checkpointLocation", work.resolve(s"ckpt_$name").toString)
        .start()
      try {
        val deadline = System.nanoTime() + 150L * 1000 * 1000 * 1000
        while (listener.of(q.id).count(_.numInputRows > 0) < total) {
          require(q.isActive, s"stream leg $name stopped: ${q.exception}")
          require(System.nanoTime() < deadline, s"stream leg $name did not finish $total batches")
          Thread.sleep(5)
        }
      } finally q.stop()
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      val batches = listener.of(q.id).filter(_.numInputRows > 0).take(total)
      Map("batches" -> batches.zipWithIndex.map { case (b, i) =>
        val st = b.stateOperators.headOption
        Map("batch_id" -> b.batchId, "timed" -> (i >= p.warmBatches),
          "input_rows" -> b.numInputRows,
          "trigger_ms" -> b.durationMs.get("triggerExecution").longValue(),
          "state_rows" -> st.map(_.numRowsTotal).getOrElse(-1L),
          "state_commit_ms" -> st.map(_.commitTimeMs).getOrElse(-1L),
          "state_mem_bytes" -> st.map(_.memoryUsedBytes).getOrElse(-1L))
      })
    }

    markTimed()
    val statuses = array(Seq("DISCOVERED", "FETCHED", "FETCH_ERROR", "REDIRECTION", "ERROR").map(lit): _*)
    val windowed = leg("windowed_counts",
      EventStreams.statusCountsWindowed(
        source().select(col("timestamp").as("ts"),
          element_at(statuses, (col("k") % 5 + 1).cast("int")).as("status")),
        "ts", "status", windowDur = "10 seconds", watermark = "10 seconds"),
      "update")
    val watermark = leg("watermark_dedup",
      EventStreams.dedupWithinWatermark(
        source().select(url(p.keySpace).as("url"), col("timestamp").as("ts")),
        "url", "ts", "10 seconds"),
      "append")
    import spark.implicits._
    val ttl = leg("ttl_dedup",
      EventStreams.dedupStream(
        source().select(url(p.ttlKeySpace).as("url"), col("timestamp").as("ts"))
          .as[EventStreams.Seen],
        ttlMs = 60000, watermark = "10 seconds").toDF(),
      "append")
    spark.streams.removeListener(listener)
    Map("legs" -> Map("windowed_counts" -> windowed, "watermark_dedup" -> watermark,
      "ttl_dedup" -> ttl))
  }
}
