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
  *   - `latestOffset` polls the store's `versionSignature` (one tiny
  *     manifest read — the spout's cheap "is there new work?" check,
  *     `spout.min.delay.queries` pacing is the trigger interval). The
  *     offset advances only when a merge swapped the manifest, so an
  *     idle frontier schedules no batches and `processAllAvailable`
  *     converges in tests.
  *   - `planInputPartitions` runs the frontier window query and
  *     collects it on the driver — bounded by construction: the batch
  *     is ≤ `limit` rows (reference defaults select ~10 URLs per poll;
  *     `maxKeys × perBucket` caps ours). One InputPartition per
  *     partition key preserves the politeness locality the fetch stage
  *     needs (FIELDS(key) grouping in the reference topology).
  *   - Replay of a committed-but-unprocessed range re-runs the
  *     selection against the CURRENT store — at-least-once, exactly
  *     the reference's ack/fail redelivery contract; end-to-end
  *     exactly-once comes from the idempotent sha256-keyed merge
  *     downstream, same as the rest of the engine.
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

/** Offset = (poll sequence, store version at that poll). */
final case class FrontierOffset(seq: Long, version: String) extends Offset {
  override def json(): String = s"""{"seq":$seq,"version":"$version"}"""
}

final class FrontierMicroBatchStream(path: String, perBucket: Int, maxKeys: Int,
                                     limit: Int)
    extends MicroBatchStream {

  private val store = new FrontierStore(path)
  @volatile private var last = FrontierOffset(0L, "uninitialized")

  override def initialOffset(): Offset = FrontierOffset(0L, "uninitialized")

  override def latestOffset(): Offset = {
    val v = store.versionSignature
    if (v != last.version) last = FrontierOffset(last.seq + 1, v)
    last
  }

  override def deserializeOffset(json: String): Offset = {
    // minimal parse of the json() shape above
    val seq = "\"seq\":(\\d+)".r.findFirstMatchIn(json).map(_.group(1).toLong).getOrElse(0L)
    val ver = "\"version\":\"([^\"]*)\"".r.findFirstMatchIn(json).map(_.group(1)).getOrElse("")
    val o = FrontierOffset(seq, ver)
    if (o.seq > last.seq) last = o // restart: resume the sequence
    o
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val (s, e) = (start.asInstanceOf[FrontierOffset], end.asInstanceOf[FrontierOffset])
    if (s.seq == e.seq) return Array.empty
    val spark = SparkSession.active
    val batch = store.selectBatch(spark, new java.sql.Timestamp(System.currentTimeMillis()),
      perBucket = perBucket, maxKeys = maxKeys, limit = limit)
    // bounded by construction (≤ limit rows): safe to collect, and
    // grouping by key gives the politeness-local partitions downstream
    batch.collect().groupBy(_.getAs[String]("key")).values
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
