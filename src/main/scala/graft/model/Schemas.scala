package graft.model

import org.apache.spark.sql.types._

/** Canonical DataFrame schemas of the engine.
  *
  * The reference has exactly three tuple shapes (SURVEY §1.1): the content
  * stream (`FetcherBolt.java:912-915`), the status stream
  * (`StatusEmitterBolt.java:62-67`) and the deletion stream. The persistent
  * dataset is the status/frontier table (`external/sql/.../StatusUpdaterBolt
  * .java:103-109`, OpenSearch status doc). Here those become fixed
  * `StructType`s with the engine's hot fields promoted to typed columns so
  * Catalyst can prune/push down instead of digging in the metadata map.
  */
object Schemas {

  /** Open column set: Metadata = MAP<STRING, ARRAY<STRING>>
    * (reference `core/.../Metadata.java:34-44`). */
  val metadataType: MapType = MapType(StringType, ArrayType(StringType), valueContainsNull = false)

  /** The frontier / status table — one row per normalized URL. */
  val status: StructType = StructType(Seq(
    StructField("url_sha256", StringType, nullable = false),
    StructField("url", StringType, nullable = false),
    StructField("status", StringType, nullable = false),
    StructField("next_fetch_date", TimestampType, nullable = true), // null = never re-fetch
    StructField("key", StringType, nullable = true),                // host | PLD | IP
    StructField("bucket", IntegerType, nullable = true),
    StructField("metadata", metadataType, nullable = true)
  ))

  /** Post-fetch content rows (default stream). */
  val content: StructType = StructType(Seq(
    StructField("url", StringType, nullable = false),
    StructField("content", BinaryType, nullable = true),
    StructField("metadata", metadataType, nullable = true)
  ))

  /** Outlink struct produced by the parse stage
    * (reference `core/.../parse/Outlink.java:21`). */
  val outlink: StructType = StructType(Seq(
    StructField("target_url", StringType, nullable = false),
    StructField("anchor", StringType, nullable = true),
    StructField("metadata", metadataType, nullable = true)
  ))
}

/** Typed row for the frontier table (used with Dataset[StatusRow] where
  * compile-time field checks help; DataFrame elsewhere). */
case class StatusRow(
    url_sha256: String,
    url: String,
    status: String,
    next_fetch_date: Option[java.sql.Timestamp],
    key: Option[String],
    bucket: Option[Int],
    metadata: Option[Map[String, Seq[String]]])

/** Outlink produced by parsing. */
case class OutlinkRow(target_url: String, anchor: Option[String])
