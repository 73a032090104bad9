package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr

/** Table access + the derived crawl-status view shared by the crawl-domain
  * queries and their DuckDB oracles.
  *
  * The driver's synthetic tables (TESTDATA.md) have no crawl tables, so the
  * crawl operators are exercised over a deterministic `status` view derived
  * from `events`: each event becomes a frontier row whose url/key/status/
  * next_fetch_date are pure-SQL functions of the event columns — the SAME
  * expressions are used in the DuckDB oracle, so results hash-match.
  */
object Tables {
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir)
    else spark.read.parquet(s"$dir/$name.parquet")

  /** `events.ts` has shipped under two physical parquet encodings:
    * TIMESTAMP(NANOS) (readable only via the nanosAsLong legacy conf,
    * which [[graft.Session]] sets, as a long of nanoseconds) and annotated
    * TIMESTAMP_MICROS (read natively as a timestamp). Branch on the
    * *read* schema rather than assuming one encoding; both paths land on
    * TIMESTAMP_NTZ microseconds, matching the oracle's
    * `CAST(ts AS TIMESTAMP)`. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = spark.read.parquet(s"$dir/events.parquet")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // nanos-as-long: values are whole microseconds, so div 1000 is exact
        raw.withColumn("ts", expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)"))
      case _ =>
        raw.withColumn("ts", expr("cast(ts as timestamp_ntz)"))
    }
  }

  /** Derived frontier rows from `events` (Spark side). Mirror of
    * [[statusViewSql]]. 20 hosts ≈ partition keys; event_type maps onto
    * crawl Status; ts is the next_fetch_date. */
  def statusView(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events").selectExpr(
      "event_id",
      "concat('https://host', cast(user_id % 20 as string), '.example.com/page/', cast(event_id as string)) AS url",
      "concat('host', cast(user_id % 20 as string), '.example.com') AS key",
      // the LONG key index behind `key` (bijection): per-row joins and
      // aggregations should key on this and render the string key on
      // the post-agg rows — measured at sf1000 (1 B rows) a broadcast
      // anti-join probing on the STRING key cost 46 s that the long
      // key doesn't (50.5 vs 6.9 s end-to-end, identical classes).
      "user_id % 20 AS key_id",
      """CASE event_type
           WHEN 'purchase' THEN 'FETCHED'
           WHEN 'view'     THEN 'DISCOVERED'
           WHEN 'click'    THEN 'DISCOVERED'
           WHEN 'signup'   THEN 'REDIRECTION'
           ELSE 'FETCH_ERROR'
         END AS status""",
      "ts AS next_fetch_date",
      "value AS fetch_time_ms"
    )

  /** Render the string `key` back from the long `key_id` — the inverse
    * of the bijection [[statusView]] establishes, kept HERE next to the
    * view so the key format exists in exactly one place on the Spark
    * side (queries that aggregated on the long key_id re-render the
    * string on their few-row outputs; if the view's key expression ever
    * changes, this is the only other line to touch). */
  def keyFromId(keyId: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{concat, lit}
    concat(lit("host"), keyId.cast("string"), lit(".example.com"))
  }

  /** Events with portable TIMESTAMP on the DuckDB side (ts is
    * TIMESTAMP_NS there; cast normalizes the output schema). */
  val eventsSql: String =
    "SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props FROM events"

  /** The same view as DuckDB SQL (inlined as a CTE by oracle queries). */
  val statusViewSql: String =
    """SELECT
      |  event_id,
      |  concat('https://host', CAST(user_id % 20 AS VARCHAR), '.example.com/page/', CAST(event_id AS VARCHAR)) AS url,
      |  concat('host', CAST(user_id % 20 AS VARCHAR), '.example.com') AS key,
      |  user_id % 20 AS key_id,
      |  CASE event_type
      |    WHEN 'purchase' THEN 'FETCHED'
      |    WHEN 'view'     THEN 'DISCOVERED'
      |    WHEN 'click'    THEN 'DISCOVERED'
      |    WHEN 'signup'   THEN 'REDIRECTION'
      |    ELSE 'FETCH_ERROR'
      |  END AS status,
      |  CAST(ts AS TIMESTAMP) AS next_fetch_date,
      |  value AS fetch_time_ms
      |FROM events""".stripMargin

  /** Synthetic messy URLs over `documents` for normalizer/filter queries —
    * again identical expressions on both sides. */
  def docUrlView(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents").selectExpr(
      "doc_id", "text", "lang", "source", "n_chars",
      """concat('https://', source, '.example.com/p/', cast(doc_id as string),
        |  CASE WHEN doc_id % 7 = 0 THEN '.jpg'
        |       WHEN doc_id % 5 = 0 THEN '?s=1'
        |       ELSE '.html' END) AS url""".stripMargin.replace("\n", " ")
    )

  val docUrlViewSql: String =
    """SELECT doc_id, text, lang, source, n_chars,
      |  concat('https://', source, '.example.com/p/', CAST(doc_id AS VARCHAR),
      |    CASE WHEN doc_id % 7 = 0 THEN '.jpg'
      |         WHEN doc_id % 5 = 0 THEN '?s=1'
      |         ELSE '.html' END) AS url
      |FROM documents""".stripMargin
}
