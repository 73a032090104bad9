package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Tables._

/** Remaining SURVEY-inventory shapes as oracle-checked queries: seed-file
  * parsing (StringTabScheme), metadata-projection globs
  * (MetadataTransfer), the adaptive scheduler arithmetic, distinct
  * aggregation, and status-stream unions.
  */
object CoverageQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // FileSpout + StringTabScheme (`core/.../util/StringTabScheme.java:28`):
    // parse `URL \t k=v \t k=v` seed lines relationally — synthesize the
    // lines from documents, split back out.
    "q17_seed_tab_parse" -> ((s, dir) =>
      t(s, dir, "documents")
        .selectExpr(
          """concat('https://', source, '.example.com/d/', cast(doc_id as string),
            | chr(9), 'lang=', lang, chr(9), 'depth=', cast(doc_id % 4 as string)) AS line"""
            .stripMargin.replace("\n", ""))
        .select(split(col("line"), "\t").as("parts"))
        .select(
          element_at(col("parts"), 1).as("url"),
          substring_index(element_at(col("parts"), 2), "=", -1).as("lang"),
          substring_index(element_at(col("parts"), 3), "=", -1).cast("int").as("depth"))
        .groupBy("lang", "depth").agg(count(lit(1)).as("n"))
        .orderBy("lang", "depth")),

    // MetadataTransfer key projection (`MetadataTransfer.java:151-180`):
    // whitelist exact keys + globs over an open key set; output the kept
    // keys as a joined string (engine-portable representation).
    "q18_metadata_transfer" -> ((s, dir) =>
      t(s, dir, "events")
        .selectExpr("event_id",
          """map('depth', cast(event_id % 5 as string),
            |    'fetch.statusCode', '200',
            |    'fetch.loadingTime', cast(event_id % 97 as string),
            |    concat('x.', event_type), 'v',
            |    'discard', 'y') AS md""".stripMargin.replace("\n", " "))
        .select(col("event_id"),
          // native TransferKeysExpr: the relational spelling's
          // map_filter λ runs per map entry through the interpreted
          // higher-order path — it was the suite's largest sf100 row
          graft.functions.UrlExpressions.transferKeptKeys(col("md"),
            exact = Seq("depth", "signature"), prefixes = Seq("fetch."))
            .as("kept"))
        .groupBy("kept").agg(count(lit(1)).as("n"))
        .orderBy("kept")),

    // AdaptiveScheduler interval arithmetic (`AdaptiveScheduler.java:140-318`):
    // unchanged content grows the interval ×1.5 capped at max; changed
    // shrinks ×0.5 floored at min. Pure IEEE arithmetic both engines.
    "q19_adaptive_schedule" -> ((s, dir) =>
      t(s, dir, "events")
        .select(col("event_id"),
          col("value").as("prev_mins"),
          (col("event_id") % 2 === 0).as("unchanged"))
        .select(col("event_id"),
          when(col("unchanged"), least(col("prev_mins") * 1.5, lit(10080.0)))
            .otherwise(greatest(col("prev_mins") * 0.5, lit(60.0))).as("new_mins"))
        .orderBy("event_id")),

    // Distinct aggregation: distinct active users + event count per type.
    "q33_distinct_users" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("users"), count(lit(1)).as("n"))
        .orderBy("event_type")),

    // Stream-union semantics (`crawler.flux:95-130` — many bolts emit
    // into one status stream): two derived update streams unioned then
    // counted. unionByName + aggregate, one shuffle.
    "q34_status_stream_union" -> ((s, dir) => {
      val v = statusView(s, dir)
      val fetcherEmits = v.where(col("status") === "FETCHED")
        .select(col("key"), lit("fetcher").as("emitter"))
      val parserEmits = v.where(col("status") === "DISCOVERED")
        .select(col("key"), lit("parser").as("emitter"))
      fetcherEmits.unionByName(parserEmits)
        .groupBy("key", "emitter").agg(count(lit(1)).as("n"))
        .orderBy("key", "emitter")
    }),

    // Set difference at (user, day) grain: days a user viewed but did
    // not purchase — EXCEPT compiles to a left-anti over hash-distinct
    // sides, one shuffle each.
    "q39_except_users" -> ((s, dir) => {
      val v = t(s, dir, "events")
        .select(col("user_id"), to_date(col("ts")).as("d"), col("event_type"))
      v.where(col("event_type") === "view").select("user_id", "d").distinct()
        .except(v.where(col("event_type") === "purchase").select("user_id", "d").distinct())
        .orderBy("user_id", "d")
    }),

    // Set intersection: (user, day) pairs with both a click and a signup.
    "q40_intersect_users" -> ((s, dir) => {
      val v = t(s, dir, "events")
        .select(col("user_id"), to_date(col("ts")).as("d"), col("event_type"))
      v.where(col("event_type") === "click").select("user_id", "d").distinct()
        .intersect(v.where(col("event_type") === "signup").select("user_id", "d").distinct())
        .orderBy("user_id", "d")
    }),

    // Pivot: status-count matrix per key (StatusMetricsBolt as a wide
    // table). Fixed pivot values keep the schema static; one shuffle,
    // the pivot itself is a conditional aggregation.
    "q41_status_pivot" -> ((s, dir) =>
      statusView(s, dir)
        .groupBy("key")
        .pivot("status", Seq("DISCOVERED", "FETCHED", "REDIRECTION", "FETCH_ERROR"))
        .agg(count(lit(1)))
        .select(col("key"),
          coalesce(col("DISCOVERED"), lit(0L)).as("n_discovered"),
          coalesce(col("FETCHED"), lit(0L)).as("n_fetched"),
          coalesce(col("REDIRECTION"), lit(0L)).as("n_redirection"),
          coalesce(col("FETCH_ERROR"), lit(0L)).as("n_fetch_error"))
        .orderBy("key")),

    // Exact interpolated quantiles of fetch-time per event type —
    // percentile() (exact: sort + interpolate, deterministic) so the
    // DuckDB quantile_cont oracle matches bit-for-bit.
    "q42_value_quantiles" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy("event_type")
        .agg(
          expr("percentile(value, 0.5)").as("p50"),
          expr("percentile(value, 0.95)").as("p95"))
        .orderBy("event_type")),

    // Binary-document parse (the Tika branch, `external/tika/.../
    // ParserBolt.java:152-354`): build a PDF (compressed / plain),
    // DOCX, or RTF from each document's text by id mod 4, then extract
    // text/title/pages/links back with `BinaryParser`. The oracle is
    // the original text — the extract path must be byte-exact.
    // Map-only per doc: no shuffle beyond the final presentation sort.
    "q43_binary_extract" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)]
        .mapPartitions(_.map { case (id, text) =>
          import graft.parse.{BinaryDocs, BinaryParser, Ole2}
          val title = s"Doc $id"
          val link = s"https://example.com/doc/$id"
          val (fmt, parsed) = (id % 8) match {
            case 0 | 2 => "pdf" -> BinaryParser.parsePdf(
              BinaryDocs.makePdf(text, Some(title), links = Seq(link),
                compress = id % 8 == 0))
            case 1 => "docx" -> BinaryParser.parseZipContainer(
              BinaryDocs.makeDocx(text, Some(title), links = Seq(link)))
            case 3 => "rtf" -> BinaryParser.parseRtf(
              BinaryDocs.makeRtf(text, Some(title)))
            // legacy OLE2 family — split .doc text into a CP1252 +
            // UTF-16 piece pair (when ASCII) so both PCD encodings run;
            // non-ASCII texts take makeDoc's single-UTF-16-piece path
            case 4 => "doc" -> Ole2.parse(
              BinaryDocs.makeDoc(text, splitCompressed = true))
            case 5 => "xls" -> Ole2.parse(BinaryDocs.makeXls(text))
            case 6 => "ppt" -> Ole2.parse(BinaryDocs.makePpt(text))
            case _ => "odt" -> BinaryParser.parseZipContainer(
              BinaryDocs.makeOdt(text, Some(title)))
          }
          val bp = parsed.fold(e => sys.error(e), identity)
          (id, fmt, bp.title.orNull, bp.text,
            bp.metadata.get("pages").flatMap(_.headOption).map(_.toInt).getOrElse(0),
            bp.outlinks.size)
        })
        .toDF("doc_id", "fmt", "title", "extracted", "pages", "n_links")
        .orderBy("doc_id")
    }),

    // Image payloads through the binary parse DISPATCH (the Tika
    // branch's type detection, `external/tika/.../ParserBolt.java:74`):
    // build a PNG/GIF/BMP/JPEG header carrying dimensions derived from
    // the doc id, hand it to `BinaryParser.parse` under a deliberately
    // vague declared mime (magic bytes must win), and read the
    // `image.*` metadata back. The oracle recomputes mime + dims from
    // the id arithmetic — the build→route→measure path must be exact.
    // Map-only per doc, like q43.
    "q52_image_parse" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .select(col("doc_id").cast("long"))
        .as[Long]
        .mapPartitions(_.map { id =>
          import graft.parse.{BinaryDocs, BinaryParser}
          val w = 16 + (id * 7 % 1000).toInt
          val h = 16 + (id * 13 % 800).toInt
          val bytes = (id % 4) match {
            case 0 => BinaryDocs.makePng(w, h)
            case 1 => BinaryDocs.makeGif(w, h)
            case 2 => BinaryDocs.makeBmp(w, h)
            case _ => BinaryDocs.makeJpeg(w, h)
          }
          val bp = BinaryParser.parse(bytes, "application/octet-stream")
            .fold(e => sys.error(e), identity)
          def md(k: String) = bp.metadata(k).head
          (id, md("image.mime"), md("image.width").toLong,
            md("image.height").toLong)
        })
        .toDF("doc_id", "mime", "width", "height")
        .orderBy("doc_id")
    })
  )

  val oracles: Map[String, String] = Map(
    "q17_seed_tab_parse" ->
      """WITH lines AS (
        |  SELECT concat('https://', source, '.example.com/d/', CAST(doc_id AS VARCHAR),
        |    chr(9), 'lang=', lang, chr(9), 'depth=', CAST(doc_id % 4 AS VARCHAR)) AS line
        |  FROM documents),
        |parts AS (SELECT string_split(line, chr(9)) AS p FROM lines),
        |parsed AS (SELECT p[1] AS url,
        |    split_part(p[2], '=', -1) AS lang,
        |    CAST(split_part(p[3], '=', -1) AS INT) AS depth
        |  FROM parts)
        |SELECT lang, depth, count(*) AS n FROM parsed
        |GROUP BY lang, depth ORDER BY lang, depth""".stripMargin,

    "q18_metadata_transfer" ->
      """WITH md AS (SELECT event_id,
        |    [['depth', CAST(event_id % 5 AS VARCHAR)],
        |     ['fetch.statusCode', '200'],
        |     ['fetch.loadingTime', CAST(event_id % 97 AS VARCHAR)],
        |     [concat('x.', event_type), 'v'],
        |     ['discard', 'y']] AS kvs
        |  FROM events),
        |kept AS (SELECT event_id,
        |    array_to_string(list_sort(list_transform(
        |      list_filter(kvs, kv -> kv[1] = 'depth' OR kv[1] = 'signature'
        |                             OR starts_with(kv[1], 'fetch.')),
        |      kv -> kv[1])), ',') AS kept
        |  FROM md)
        |SELECT kept, count(*) AS n FROM kept GROUP BY kept ORDER BY kept""".stripMargin,

    "q19_adaptive_schedule" ->
      """SELECT event_id,
        |  CASE WHEN event_id % 2 = 0 THEN least(value * 1.5, 10080.0)
        |       ELSE greatest(value * 0.5, 60.0) END AS new_mins
        |FROM events ORDER BY event_id""".stripMargin,

    "q33_distinct_users" ->
      """SELECT event_type, count(DISTINCT user_id) AS users, count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q34_status_stream_union" ->
      s"""WITH status_view AS (${Tables.statusViewSql}),
         |u AS (
         |  SELECT key, 'fetcher' AS emitter FROM status_view WHERE status = 'FETCHED'
         |  UNION ALL
         |  SELECT key, 'parser' FROM status_view WHERE status = 'DISCOVERED')
         |SELECT key, emitter, count(*) AS n FROM u
         |GROUP BY key, emitter ORDER BY key, emitter""".stripMargin,

    "q39_except_users" ->
      """SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events WHERE event_type = 'view'
        |EXCEPT
        |SELECT DISTINCT user_id, CAST(ts AS DATE) FROM events WHERE event_type = 'purchase'
        |ORDER BY user_id, d""".stripMargin,

    "q40_intersect_users" ->
      """SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events WHERE event_type = 'click'
        |INTERSECT
        |SELECT DISTINCT user_id, CAST(ts AS DATE) FROM events WHERE event_type = 'signup'
        |ORDER BY user_id, d""".stripMargin,

    "q41_status_pivot" ->
      s"""WITH v AS (${Tables.statusViewSql})
         |SELECT key,
         |  count(*) FILTER (status = 'DISCOVERED')  AS n_discovered,
         |  count(*) FILTER (status = 'FETCHED')     AS n_fetched,
         |  count(*) FILTER (status = 'REDIRECTION') AS n_redirection,
         |  count(*) FILTER (status = 'FETCH_ERROR') AS n_fetch_error
         |FROM v GROUP BY key ORDER BY key""".stripMargin,

    "q42_value_quantiles" ->
      """SELECT event_type,
        |  quantile_cont(value, 0.5)  AS p50,
        |  quantile_cont(value, 0.95) AS p95
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q43_binary_extract" ->
      """SELECT doc_id,
        |  CASE doc_id % 8 WHEN 0 THEN 'pdf' WHEN 2 THEN 'pdf'
        |    WHEN 1 THEN 'docx' WHEN 3 THEN 'rtf' WHEN 4 THEN 'doc'
        |    WHEN 5 THEN 'xls' WHEN 6 THEN 'ppt' ELSE 'odt' END AS fmt,
        |  CASE WHEN doc_id % 8 IN (4, 5, 6) THEN NULL
        |    ELSE 'Doc ' || CAST(doc_id AS VARCHAR) END AS title,
        |  text AS extracted,
        |  CASE WHEN doc_id % 8 IN (0, 2) THEN 1 ELSE 0 END AS pages,
        |  CASE WHEN doc_id % 8 IN (0, 1, 2) THEN 1 ELSE 0 END AS n_links
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q52_image_parse" ->
      """SELECT doc_id,
        |  CASE doc_id % 4 WHEN 0 THEN 'image/png' WHEN 1 THEN 'image/gif'
        |    WHEN 2 THEN 'image/bmp' ELSE 'image/jpeg' END AS mime,
        |  16 + (doc_id * 7) % 1000 AS width,
        |  16 + (doc_id * 13) % 800 AS height
        |FROM documents ORDER BY doc_id""".stripMargin
  )
}
