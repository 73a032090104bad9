package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.frontier.FrontierStore

/** The "custom crawl source": the frontier table as a Structured
  * Streaming DataSource V2 — each micro-batch IS one frontier
  * selection (`AbstractQueryingSpout.nextTuple` → `populateBuffer`,
  * SURVEY §3.2), so a crawl is just
  *
  * {{{
  * spark.readStream.format("graft.sources.FrontierSource")
  *   .option("path", frontierRoot)
  *   .option("perBucket", "2").option("maxKeys", "10").option("limit", "50")
  *   .load()                   // url_sha256, url, status, next_fetch_date, key, metadata
  *   .writeStream.foreachBatch { (batch, id) => fetch/parse/merge(batch) }
  * }}}
  *
  * Offset/trigger design — sized for the semantics the reference
  * actually has, not more:
  *
  *   - Offset = (store version, select time). `latestOffset` polls
  *     [[FrontierStore.version]] (one directory listing — the spout's
  *     cheap "is there new work?" check; the trigger interval is
  *     `spout.min.delay.queries`) and stamps a new offset only when a
  *     merge committed, so an idle frontier schedules no batches.
  *   - `planInputPartitions` selects at the end offset's version and
  *     time and collects on the driver — ≤ `limit` rows by
  *     construction. One InputPartition per partition key keeps the
  *     fetch stage's politeness locality (the reference's FIELDS(key)).
  *   - Replay of a logged range re-selects the same rows while the
  *     store keeps that version (`FrontierStore.vacuum` keeps the
  *     newest four); a vacuumed version selects from the latest
  *     instead — at-least-once, the reference's ack/fail redelivery;
  *     the idempotent sha256-keyed merge downstream makes it
  *     exactly-once end to end.
  */
class FrontierSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    FrontierSource.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new FrontierTable(properties.asScala.toMap)
}

object FrontierSource {
  val schema: StructType = StructType(Seq(
    StructField("url_sha256", StringType),
    StructField("url", StringType),
    StructField("status", StringType),
    StructField("next_fetch_date", TimestampNTZType),
    StructField("key", StringType),
    StructField("metadata", MapType(StringType, ArrayType(StringType)))))
}

final class FrontierTable(props: Map[String, String]) extends Table with SupportsRead {
  override def name(): String = s"frontier(${props.getOrElse("path", "?")})"
  override def schema(): StructType = FrontierSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = FrontierSource.schema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new FrontierMicroBatchStream(
            props.getOrElse("path",
              throw new IllegalArgumentException("option 'path' is required")),
            props.getOrElse("perBucket", "5").toInt,
            props.getOrElse("maxKeys", "100").toInt,
            props.getOrElse("limit", "500").toInt)
      }
    }
}

/** Offset = (store version, select time in epoch ms). */
final case class FrontierOffset(version: Long, atMs: Long) extends Offset {
  override def json(): String = s"""{"version":$version,"atMs":$atMs}"""
}

final class FrontierMicroBatchStream(path: String, perBucket: Int, maxKeys: Int,
                                     limit: Int)
    extends MicroBatchStream {

  private val store = new FrontierStore(path)
  @volatile private var last = FrontierOffset(-1L, 0L)

  override def initialOffset(): Offset = FrontierOffset(-1L, 0L)

  override def latestOffset(): Offset = {
    val v = store.version
    if (v != last.version) last = FrontierOffset(v, System.currentTimeMillis())
    last
  }

  override def deserializeOffset(json: String): Offset = {
    val Seq(version, atMs) = "-?\\d+".r.findAllIn(json).map(_.toLong).toSeq
    // a restart resumes at the logged offset: an unchanged store schedules no batch
    if (version > last.version) last = FrontierOffset(version, atMs)
    FrontierOffset(version, atMs)
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val e = end.asInstanceOf[FrontierOffset]
    if (start.asInstanceOf[FrontierOffset].version == e.version) return Array.empty
    val spark = SparkSession.active
    def select(version: Long) = store.selectBatch(spark, new java.sql.Timestamp(e.atMs),
      perBucket = perBucket, maxKeys = maxKeys, limit = limit, version = version).collect()
    // ≤ limit rows: safe to collect; a vacuumed version (its manifest gone,
    // or a frame built before its files went: FAILED_READ_FILE) selects from the latest
    def gone(t: Throwable): Boolean = t != null && (t.isInstanceOf[java.io.FileNotFoundException]
      || t.isInstanceOf[java.nio.file.NoSuchFileException] || gone(t.getCause))
    val rows = try select(e.version) catch { case t: Exception if gone(t) => select(store.version) }
    rows.groupBy(_.getAs[String]("key")).values
      .map(rows => FrontierPartition(rows.toSeq): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new FrontierReaderFactory()

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

final case class FrontierPartition(rows: Seq[Row]) extends InputPartition

final class FrontierReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val rows = partition.asInstanceOf[FrontierPartition].rows
    val conv = CatalystTypeConverters.createToCatalystConverter(FrontierSource.schema)
    new PartitionReader[InternalRow] {
      private val it = rows.iterator
      private var current: InternalRow = _
      override def next(): Boolean =
        if (it.hasNext) { current = conv(it.next()).asInstanceOf[InternalRow]; true }
        else false
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
  }
}
