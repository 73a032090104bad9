package graft.fetch

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.Status

/** The fetch stage — FetcherBolt re-expressed for Spark
  * (`core/.../bolt/FetcherBolt.java:69,472-791`).
  *
  * Shape: `repartition(key)` (the politeness "shuffle" — Storm's
  * FIELDS(key) grouping, `crawler.flux:53-55`) then `mapPartitions`
  * draining per-key FIFO queues earliest-ready-first: all URLs of one
  * host land in one partition, so per-host crawl-delay is enforced
  * locally with no coordination, and hosts sharing a partition overlap
  * their politeness windows (FetcherBolt's fetch threads over
  * FetchItemQueues do the same) instead of serializing them. Robots
  * rules come from an executor-local TTL cache.
  *
  * Emits a union row per URL: content fields for FETCHED pages plus a
  * status for every URL (FetcherBolt routes FETCHED→content stream,
  * errors/redirects→status stream; here one DataFrame, split by
  * `filter` downstream — Spark's exchange reuse means the split does
  * not re-fetch).
  *
  * Politeness-vs-batch-completion (SURVEY §7 risk): the per-key
  * selection upstream bounds URLs/host/batch (`maxURLsPerBucket`), so a
  * batch's max wait is perBucket × crawlDelay — keep batches small and
  * frequent rather than sleeping long inside tasks.
  */
object FetchStage {

  val outputSchema: StructType = StructType(Seq(
    StructField("url", StringType, nullable = false),
    StructField("key", StringType, nullable = true),
    StructField("status", StringType, nullable = false),
    StructField("http_code", IntegerType, nullable = false),
    StructField("content", BinaryType, nullable = true),
    StructField("content_type", StringType, nullable = true),
    StructField("redirect_to", StringType, nullable = true),
    StructField("fetch_ms", LongType, nullable = false),
    StructField("metadata", MapType(StringType, ArrayType(StringType), valueContainsNull = false),
      nullable = true)))

  /** Fetch a batch of (url, key, metadata) rows with politeness.
    *
    * BOUNDED-BATCH CONTRACT: each partition's (url, key, metadata)
    * rows are materialized into per-host queues up front (the
    * earliest-ready-first drain needs every host's queue visible to
    * overlap politeness windows), so `batch` must be a bounded
    * frontier selection — the shape `FrontierStore.selectBatch`
    * produces (≤ maxBucketSize × buckets rows), NOT an unbounded
    * stream of the whole frontier. Callers outside the selection path
    * must cap the batch themselves; memory is O(batch rows) per
    * partition, content bytes are emitted incrementally.
    *
    * @param crawlDelayMs   default per-host delay (reference default 1 s,
    *                       `crawler-default.yaml:22`)
    * @param maxCrawlDelayMs robots Crawl-delay above this skips the host
    *                       (`fetcher.max.crawl.delay`=30 s)
    * @param respectRobots  robots deny ⇒ ERROR status row
    *                       (`FetcherBolt.java:576-590`)
    */
  def fetch(spark: SparkSession, batch: DataFrame,
            protocols: ProtocolFactory = new ProtocolFactory(),
            crawlDelayMs: Long = 1000,
            maxCrawlDelayMs: Long = 30000,
            respectRobots: Boolean = true,
            /** robots `Sitemap:` autodiscovery (`sitemap.discovery`,
              * `FetcherBolt.java:535-568`): on a fresh robots fetch,
              * emit each allowed sitemap URL as a DISCOVERED row
              * (`isSitemap=true`); the page row carries
              * `sitemap.found` for the SitemapUrlFilter. Per-URL
              * metadata `sitemap.discovery=true/false` overrides. */
            sitemapDiscovery: Boolean = false): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(outputSchema)
    val nParts = spark.sparkContext.defaultParallelism
    val robots = new RobotsCache(protocols)

    val in = batch.select(col("url"), col("key"), col("metadata"))
    in.repartition(nParts, col("key"))
      .mapPartitions { rows =>
        // Per-key FIFO queues drained EARLIEST-READY-FIRST: several
        // hosts hash into one partition, and a sequential row-by-row
        // drain would SUM their politeness waits (a partition holding 3
        // hosts × 20 URLs at 1 s/host took ~57 s; measured). Instead
        // the drain interleaves hosts exactly like FetcherBolt's fetch
        // threads pulling from FetchItemQueues (`FetcherBolt.java:
        // 472-540`): fetch whichever host's window opens next, sleep
        // only when EVERY queue is blocked — so per-host delays overlap
        // and the partition drains in ~max (not sum) of its hosts'
        // politeness floors. Materializing the queues is bounded by the
        // upstream per-key selection (perBucket × keys; see Scaladoc) —
        // input rows are (url, key, metadata), no content.
        // `process(row)` = the per-URL fetch, returning the rows to
        // emit plus the politeness delay before the SAME key's next URL.
        def process(r: Row): (Seq[Row], Long) = {
          val url = r.getString(0)
          val key = Option(r.getString(1)).getOrElse("")
          // values arrive as mutable.ArraySeq — convert to immutable Seq
          val md: Map[String, Seq[String]] =
            if (r.isNullAt(2)) Map.empty
            else r.getMap[String, scala.collection.Seq[String]](2).toMap
              .map { case (k, v) => k -> v.toSeq }
          val (rules, robotsFromCache) =
            if (respectRobots) robots.rulesForCached(url)
            else (RobotRules.allowAll, true)

          // sitemap autodiscovery rows (fresh robots fetch only)
          val smDisco = md.get("sitemap.discovery").flatMap(_.headOption) match {
            case Some(v) => v.equalsIgnoreCase("true")
            case None => sitemapDiscovery
          }
          def urlPath(u: String): String = {
            val i = u.indexOf("://")
            val rest = if (i < 0) u else u.substring(i + 3)
            val s = rest.indexOf('/')
            if (s < 0) "/" else rest.substring(s)
          }
          val sitemapRows =
            if (smDisco && !robotsFromCache && rules.sitemaps.nonEmpty)
              rules.sitemaps
                .filter(sm => rules.isAllowed(urlPath(sm)))
                .map(sm => Row(sm, key, Status.Discovered, 0, null, null, null, 0L,
                  Map("isSitemap" -> Seq("true"))))
            else Nil
          // host has sitemaps -> flag rides the page row into the
          // frontier (SitemapFilter state, reference issue #710)
          val mdF =
            if (rules.sitemaps.nonEmpty) md + ("sitemap.found" -> Seq("true")) else md

          val path = urlPath(url)
          val delay = rules.crawlDelayMs.getOrElse(crawlDelayMs)

          if (respectRobots && !rules.isAllowed(path)) {
            // denied rows cost no politeness delay (no request was made)
            (sitemapRows :+ Row(url, key, Status.Error, -2, null, null, null, 0L,
              mdF + ("fetch.error" -> Seq("robots_denied"))), 0L)
          } else if (delay > maxCrawlDelayMs) {
            // host demands a delay we won't honor -> skip (FetcherBolt.java:592-633)
            (sitemapRows :+ Row(url, key, Status.Error, -3, null, null, null, 0L,
              mdF + ("fetch.error" -> Seq("crawl_delay_too_long"))), 0L)
          } else {
            val t0 = System.currentTimeMillis()
            val resp = protocols.fetch(url, md)
            val ms = System.currentTimeMillis() - t0
            val status = Status.fromHttpCode(resp.statusCode)
            // Location may be relative — resolve against the page url
            // (FetcherBolt emits the resolved target as DISCOVERED)
            val redirect =
              if (status == Status.Redirection)
                resp.header("Location")
                  .flatMap(l => graft.functions.Urls.resolve(url, l)).orNull
              else null
            // remember Set-Cookie responses (+ the origin host, so the
            // protocol's RFC 6265 gate can refuse host-only cookies on
            // other hosts) — CookieConverter round-trip via metadata
            val setCookies = resp.headers.collect {
              case (k, vs) if k.equalsIgnoreCase("Set-Cookie") => vs
            }.flatten.toSeq
            val cookieMd =
              if (setCookies.isEmpty) Map.empty[String, Seq[String]]
              else Map("set-cookie" -> setCookies,
                "set-cookie.origin" -> graft.functions.Urls.host(url).toSeq)
            val mdOut = mdF ++ cookieMd +
              ("fetch.statusCode" -> Seq(resp.statusCode.toString)) +
              ("fetch.byteLength" -> Seq(resp.content.length.toString)) +
              ("fetch.loadingTime" -> Seq(ms.toString))
            // 304 Not Modified maps to FETCHED (Status.java:26-34) but
            // carries no body — emit no content so the parse stage
            // skips it (the previous parse's outcome stands)
            (sitemapRows :+ Row(url, key, status, resp.statusCode,
              if (status == Status.Fetched && resp.statusCode != 304) resp.content else null,
              resp.header("Content-Type").orNull,
              redirect, ms, mdOut), delay)
          }
        }

        val queues = mutable.LinkedHashMap.empty[String, mutable.Queue[Row]]
        rows.foreach { r =>
          val key = Option(r.getString(1)).getOrElse("")
          queues.getOrElseUpdate(key, mutable.Queue.empty) += r
        }
        // min-heap of (next-allowed time, key); insertion seq breaks
        // ties deterministically (FIFO among simultaneously-ready hosts)
        final case class Slot(at: Long, seq: Long, key: String)
        val heap = mutable.PriorityQueue.empty[Slot](
          Ordering.by[Slot, (Long, Long)](s => (s.at, s.seq)).reverse)
        var seqNo = 0L
        queues.keysIterator.foreach { k =>
          heap.enqueue(Slot(0L, seqNo, k)); seqNo += 1
        }
        val pending = mutable.Queue.empty[Row]
        new Iterator[Row] {
          def hasNext: Boolean = pending.nonEmpty || heap.nonEmpty
          def next(): Row = {
            while (pending.isEmpty) {
              val slot = heap.dequeue()
              val q = queues(slot.key)
              val now = System.currentTimeMillis()
              // the heap head is the EARLIEST-available host: sleeping
              // here means every queue in the partition is blocked
              if (slot.at > now) Thread.sleep(slot.at - now)
              val (emitted, delayMs) = process(q.dequeue())
              pending ++= emitted
              if (q.nonEmpty) {
                heap.enqueue(
                  Slot(System.currentTimeMillis() + delayMs, seqNo, slot.key))
                seqNo += 1
              }
            }
            pending.dequeue()
          }
        }
      }(enc)
  }
}
