package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.InternalBridge
import org.apache.spark.sql.streaming.Trigger

import graft.fetch.{FetchStage, ProtocolFactory}
import graft.filters.UrlFilterChain
import graft.frontier.{AdaptiveQueryDate, FrontierStore}
import graft.model.Status
import graft.parse.ParseStage

/** The crawl loop — the reference's standing topology
  * (`archetype/.../crawler.flux:13-130`) as Spark stages:
  *
  *   frontier select (window top-K per key)
  *     → fetch (repartition(key) + politeness mapPartitions)
  *     → parse (flatMap: docs ∪ outlinks ∪ redirects)
  *     → status merge (idempotent upsert on url_sha256)
  *     → indexable docs out
  *
  * `crawlOnce` is one frontier micro-batch; exactly-once comes from the
  * idempotent merge keyed on sha256(url) — strictly stronger than the
  * reference's at-least-once + dedup-by-docid (SURVEY §2.9). One private
  * cycle step runs it (adaptive select date, docs out, compaction), and
  * both faces repeat that step: `crawl` until a selection comes back
  * empty, `startStream` on every tick of a rate-source heartbeat
  * (foreachBatch, checkpointed progress).
  */
object CrawlTopology {

  final case class CrawlStats(selected: Long, fetched: Long, failed: Long,
                              docs: Long, discovered: Long,
                              /** the cap the selection ran with
                                * (crawlOnce's `limit`) */
                              limit: Int,
                              /** per-leg wall seconds, reported by
                                * every cycle */
                              legs: Map[String, Double] = Map.empty)

  /** Seed the frontier from (url [, metadata]) rows — FileSpout +
    * StringTabScheme semantics (`core/.../spout/FileSpout.java:52`). */
  def seed(spark: SparkSession, store: FrontierStore, urls: Seq[String],
           chain: UrlFilterChain = UrlFilterChain.default(),
           at: java.sql.Timestamp = now()): Unit = {
    import spark.implicits._
    val rows = urls.flatMap(u => chain(u, None, Map.empty))
      .map(u => (u, Status.Discovered, Map.empty[String, Seq[String]]))
    store.merge(spark, rows.toDF("url", "status", "metadata"), at)
  }

  /** Parse a seed file in the reference's tab-separated format:
    * `URL \t k=v \t k=v` (`core/.../util/StringTabScheme.java:28`). */
  def parseSeedLine(line: String): Option[(String, Map[String, Seq[String]])] = {
    val parts = line.split("\t").map(_.trim).filter(_.nonEmpty)
    if (parts.isEmpty || parts(0).startsWith("#")) None
    else Some((parts(0),
      parts.drop(1).flatMap { kv =>
        val i = kv.indexOf('=')
        if (i <= 0) None else Some(kv.substring(0, i) -> Seq(kv.substring(i + 1)))
      }.toMap))
  }

  def now(): java.sql.Timestamp = new java.sql.Timestamp(System.currentTimeMillis())

  /** One crawl micro-batch. Returns (stats, indexable docs).
    *
    * Every call reports each leg's wall seconds in `CrawlStats.legs`.
    * `timeLegs` has no effect: it is kept for callers that pass it by
    * name, and a timed cycle runs the same jobs as an untimed one.
    *
    * The returned docs are CACHED (materialized by the parse leg's
    * count aggregate), so consuming them never re-runs the fetch; every
    * other cache of the cycle is released before return. The caller owns
    * the docs: `docs.unpersist()` once it has consumed them, as the
    * loop's step does for [[crawl]] and [[startStream]]. */
  def crawlOnce(spark: SparkSession, store: FrontierStore,
                protocols: ProtocolFactory = new ProtocolFactory(),
                chain: UrlFilterChain = UrlFilterChain.default(),
                perBucket: Int = 5, maxKeys: Int = 100, limit: Int = 500,
                crawlDelayMs: Long = 1000,
                respectRobots: Boolean = true,
                contentStore: Option[graft.fetch.ContentStore] = None,
                selectTime: Option[java.sql.Timestamp] = None,
                indexSink: Option[graft.index.IndexSink] = None,
                sitemapDiscovery: Boolean = false,
                dedupContent: Boolean = false,
                digestLedger: Option[graft.index.DigestLedger] = None,
                bandLedger: Option[graft.index.BandLedger] = None,
                timeLegs: Boolean = false): (CrawlStats, DataFrame) = {
    val batchTime = now()
    val indexerMapping = graft.index.IndexerMapping()
    // Every leg's Spark jobs carry the job description `crawl.<leg>`, so
    // a listener or the UI can attribute them, and every leg adds its
    // wall time to `legSecs`; neither adds an action.
    val sc = spark.sparkContext
    val legSecs = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def leg[T](name: String)(f: => T): T = {
      val prev = sc.getLocalProperty("spark.job.description")
      sc.setJobDescription(s"crawl.$name")
      val t0 = System.nanoTime()
      try f
      finally {
        legSecs(name) = legSecs.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
        sc.setJobDescription(prev)
      }
    }
    // The cycle's boundaries: each bounded intermediate (the selection,
    // the cache hits, the fetched union, the parse output, the status
    // updates and the two ledgers' keyed batches) is cached ONCE and read
    // downstream through a leaf plan over its cached rows
    // (InternalBridge.leaf). Every later leg then plans, analyses and
    // renders a plan the size of its own leg instead of the whole cycle
    // nested under it — that driver work, not the data, set the cycle's
    // cost. A leaf also hides the files its original read, so an append
    // to a store the cycle read re-caches no downstream plan. The fetched
    // union and the parse output are materialized inside their own legs
    // by the cycle's stats aggregates, so their work is timed and
    // labelled there. The cached originals are released before return.
    val held = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def boundary(df: DataFrame): DataFrame = {
      held += df.cache()
      InternalBridge.leaf(df)
    }
    try {
      // selection may run at an adaptive horizon (backlog digging), but
      // merges/schedules always stamp wall-clock batchTime — scheduling
      // new discoveries at a frozen horizon would make them immediately
      // due and defeat the freeze.
      val batch = leg("select")(boundary(store.selectBatch(spark,
        selectTime.getOrElse(batchTime), perBucket, maxKeys, limit)))
      val selected = leg("select")(batch.count())
      if (selected == 0)
        return (CrawlStats(0, 0, 0, 0, 0, limit, legs = legSecs.toMap), spark.emptyDataFrame)

      // Cache check (S3CacheChecker semantics): hits skip the network and
      // re-enter the pipeline as synthetic FETCHED rows; only misses go
      // through the fetch stage, whose new captures append to the store.
      // The hits are a boundary and the fetch takes the batch minus the
      // hits, so no plan downstream of the check reads the store: Spark
      // re-caches every cached plan that reads a path it writes, and a
      // fetched union whose plan still read the store would lose its cache
      // to that append and re-run the fetch in every later leg.
      val hits = contentStore.map(cs => leg("content_store")(boundary(cs.split(spark, batch)._1)))
      // the fetch's own aggregate materializes the fetched union
      val (fetched, nFetched, nFailed) = leg("fetch") {
        val live = FetchStage.fetch(spark,
          hits.fold(batch)(h =>
            batch.join(broadcast(h.select("url_sha256")), Seq("url_sha256"), "left_anti")),
          protocols, crawlDelayMs = crawlDelayMs, respectRobots = respectRobots,
          sitemapDiscovery = sitemapDiscovery)
        val f = boundary(hits.fold(live)(h => live.unionByName(h.select(
          col("url"), col("key"), lit(Status.Fetched).as("status"),
          lit(200).as("http_code"), col("content"),
          lit(null).cast("string").as("content_type"),
          lit(null).cast("string").as("redirect_to"), lit(0L).as("fetch_ms"),
          // strip any previous cache.hit first — a second cache hit on the
          // same URL would otherwise die on map_concat's duplicate-key
          // EXCEPTION policy
          map_concat(
            map_filter(coalesce(col("metadata"), map()), (k, _) => k =!= "cache.hit"),
            map(lit("cache.hit"), array(lit("true")))).as("metadata")))))
        val c = f.agg(
          count_if(col("status") === Status.Fetched),
          count_if(col("status").isin(Status.FetchError, Status.Error))).head()
        (f, c.getLong(0), c.getLong(1))
      }
      for (cs <- contentStore; h <- hits)
        // the live captures only, not the hits served from the store
        leg("content_store")(cs.store(fetched
          .where(col("status") === Status.Fetched && col("content").isNotNull)
          .join(broadcast(h.select("url")), Seq("url"), "left_anti")
          .select(col("url"), col("content"), lit(batchTime).as("fetch_time"))))
      // handed to the caller: cached on its own so that releasing the
      // parse output keeps the docs readable without a re-fetch; the
      // parse's own aggregate materializes both, reading the docs through
      // their cache
      val (parsed, docs, nDocs, nDisc) = leg("parse_chain") {
        val p = boundary(ParseStage.parse(fetched, chain))
        val d = p.where(col("kind") === "doc").cache()
        held += d // until handed over: a failed or stopped cycle releases it too
        val c = d.select(lit(true).as("doc"))
          .unionByName(p.where(isOutlink).select(lit(false).as("doc")))
          .agg(count_if(col("doc")), count_if(!col("doc"))).head()
        (p, d, c.getLong(0), c.getLong(1))
      }
      // read again by the index sink's deletions
      val updates = leg("merge") {
        val u = boundary(statusUpdates(fetched, parsed, chain))
        store.merge(spark, u, batchTime)
        u
      }

      // live index sink (IndexerBolt + DeletionBolt wiring): index this
      // batch's docs through the mapping projection; delete EVERY page
      // whose status row turned ERROR this batch — robots-denied and
      // unparseable pages included, not just parse failures (DeletionBolt
      // also "deletes" never-indexed docs — a no-op at the backend).
      // Errors produced by the merge's own escalation (3rd FETCH_ERROR)
      // surface on a later batch's select, not here.
      indexSink.foreach { sink =>
        // optional batch-scoped digest collapse before indexing: pages
        // serving byte-identical extracted content index ONCE per
        // micro-batch (lexicographically-first url wins — deterministic),
        // while every url keeps its own status row from the merge above.
        // The reference's signature idea (AdaptiveScheduler change
        // detection, MD5SignatureParseFilter) applied ACROSS urls. One
        // batch-sized shuffle on the digest — the exactDedup shape; at
        // cluster scale this is a hash exchange on sha-distributed keys,
        // never a hotspot. Null-signature rows partition by their own url,
        // so they are always kept.
        val batchDeduped =
          if (dedupContent) {
            val w = org.apache.spark.sql.expressions.Window
              .partitionBy(coalesce(col("signature"), col("url"))).orderBy("url")
            docs.withColumn("__rn", row_number().over(w))
              .where(col("__rn") === 1).drop("__rn")
          } else docs
        // cross-batch face: the ledger remembers every digest indexed by
        // EARLIER batches, so identical content indexes once ever. The
        // membership check broadcasts the bounded batch into a
        // shard-pruned ledger sliver — the unbounded side never moves
        // (DigestLedger scaladoc). Null signatures fall back to the url
        // hash, i.e. are always fresh.
        // The known set is COLLECTED (bounded by the batch: membership of
        // batch keys only) into a local relation rather than left as a
        // lazy semi-join: record() appends to the ledger path, and a
        // `fresh` plan still reading the ledger files would be recomputed
        // at indexBatch time against the POST-record ledger, where every
        // just-recorded doc suppresses itself.
        val toIndex = digestLedger match {
          case Some(ledger) if dedupContent =>
            // read by the check, the record and the index: computed once
            val keyed = leg("digest_ledger")(boundary(batchDeduped.withColumn("__d",
              coalesce(col("signature"), sha2(col("url"), 256)))))
            val known = leg("digest_ledger")(ledger.known(spark,
              keyed.select(col("__d").as("digest")))) // ≤ batch size
            val fresh = keyed.join(broadcast(known.withColumnRenamed("digest", "__d")),
              Seq("__d"), "left_anti")
            leg("digest_ledger")(ledger.record(fresh.select(col("__d").as("digest"))))
            fresh.drop("__d")
          case _ => batchDeduped
        }
        // near-dup cross-batch face: suppress docs whose MinHash band
        // keys collide with content an EARLIER batch indexed (BandLedger
        // scaladoc: same shard-pruned bounded-batch-broadcast shape as
        // the digest ledger; within-batch near-dups deliberately both
        // index — the rule must not depend on intra-batch ordering).
        // Known band keys are collected for the same reason as the digest
        // stage above: the suppression decision must be frozen BEFORE
        // record() appends, or the recompute would suppress the batch's
        // own just-recorded bands.
        val toIndexFinal = bandLedger match {
          case Some(ledger) =>
            // (url, bk) of every doc, MinHashed once for the check, the
            // suppression and the record
            val bands = leg("band_ledger")(boundary(
              graft.index.BandLedger.bandKeys(toIndex, "text").select("url", "bk")))
            val known = leg("band_ledger")(ledger.known(spark,
              bands.select("bk"))) // ≤ 2 × batch size
            val suppressed = broadcast(bands.join(broadcast(known), Seq("bk"), "left_semi")
              .select("url").distinct())
            def unsuppressed(df: DataFrame): DataFrame =
              df.join(suppressed, Seq("url"), "left_anti")
            leg("band_ledger")(ledger.record(unsuppressed(bands).select("bk")))
            unsuppressed(toIndex)
          case None => toIndex
        }
        leg("index_sink") {
          sink.indexBatch(indexerMapping(toIndexFinal))
          sink.deleteBatch(updates.where(col("status") === Status.Error).select("url"))
        }
      }
      held -= docs
      (CrawlStats(selected, nFetched, nFailed, nDocs, nDisc, limit, legs = legSecs.toMap), docs)
    } finally release(held)
  }

  /** Unpersists every frame, even when one `unpersist` throws. Stopping a
    * stream interrupts its batch thread, and an interrupted `unpersist`
    * throws before its block removal; so the interrupt is held back while
    * releasing and restored after, and the first failure is rethrown. */
  private[graft] def release(frames: Iterable[DataFrame]): Unit = {
    val interrupted = Thread.interrupted()
    val failures = frames.flatMap { df =>
      try { df.unpersist(); None } catch { case e: Exception => Some(e) }
    }
    if (interrupted || failures.exists(_.isInstanceOf[InterruptedException]))
      Thread.currentThread().interrupt()
    failures.headOption.foreach(e => throw e)
  }

  /** Parse output rows that discover a URL: outlinks and redirects. */
  private val isOutlink = col("kind").isin("outlink", "redirect")

  /** The cycle's status updates for the frontier merge: each fetched
    * page's own row (with its parse signature), redirect targets,
    * outlinks, parse errors and robots-sitemap autodiscoveries. */
  private def statusUpdates(fetched: DataFrame, parsed: DataFrame,
                            chain: UrlFilterChain): DataFrame = {
    // attach the parse signature to the page's status row so the
    // adaptive scheduler's change detection has something to compare
    // (the docs output keeps its own copy) — tiny batch-sized join
    val docSigs = parsed.where(col("kind") === "doc")
      .select(col("url"), col("signature").as("__sig"))
    // robots-sitemap autodiscoveries (FetchStage DISCOVERED rows): new
    // URLs, so they pass the URL filter chain WITH their metadata (the
    // isSitemap flag is the SitemapUrlFilter exemption)
    val chainMdUdf = udf((t: String, md: Map[String, Seq[String]]) =>
      chain(t, None, Option(md).getOrElse(Map.empty)).orNull)
    val discoveredFromFetch = fetched
      .where(col("status") === Status.Discovered)
      .select(chainMdUdf(col("url"), col("metadata")).as("url"),
        lit(Status.Discovered).as("status"), col("metadata"))
      .where(col("url").isNotNull)

    val fetchStatuses = fetched
      .where(col("status") =!= Status.Discovered)
      .select(
        col("url"),
        when(col("redirect_to").isNotNull, Status.Redirection).otherwise(col("status")).as("status"),
        col("metadata"))
      .join(docSigs, Seq("url"), "left")
      .withColumn("metadata",
        when(col("__sig").isNotNull,
          graft.model.MetadataOps.mdSet(col("metadata"), "signature", col("__sig")))
          .otherwise(col("metadata")))
      .drop("__sig")
    // Location-header redirect targets pass the URL filter chain like
    // every other discovery — redirects must not bypass normalization
    // or the exclusion rules
    val chainUdf = udf((t: String, src: String) =>
      chain(t, Option(src), Map.empty[String, Seq[String]]).orNull)
    val redirectTargets = fetched
      .where(col("redirect_to").isNotNull)
      .select(chainUdf(col("redirect_to"), col("url")).as("url"),
        lit(Status.Discovered).as("status"), col("metadata"))
      .where(col("url").isNotNull)
    val outlinkStatuses = parsed
      .where(isOutlink)
      .select(col("target_url").as("url"),
        lit(Status.Discovered).as("status"), col("metadata"))
    // binary-parse failures (Tika handleException path): the page's own
    // ERROR row — merge precedence (ERROR sorts before FETCHED at equal
    // rank) makes it win over the fetch stage's FETCHED row
    val parseErrors = parsed.where(col("kind") === "error")
      .select(col("url"), col("status"), col("metadata"))

    fetchStatuses.unionByName(redirectTargets)
      .unionByName(outlinkStatuses).unionByName(parseErrors)
      .unionByName(discoveredFromFetch)
  }

  /** One crawl micro-batch at the select date it is given: a
    * [[crawlOnce]] that the caller builds, e.g.
    * `t => crawlOnce(spark, store, chain = chain, selectTime = Some(t))`. */
  type Cycle = java.sql.Timestamp => (CrawlStats, DataFrame)

  /** The step every crawl loop repeats: run the cycle at the
    * backlog-digging select date (AggregationSpout's adaptive queryDate:
    * frozen while selections fill the cap the cycle reports in
    * `CrawlStats.limit`, reset otherwise), append its docs to `docsOut`
    * (parquet) and release them, and compact (and so vacuum) the
    * frontier above 16 live generations. The date is driver-side state
    * between cycles, so a loop holds one step. */
  private final class Step(spark: SparkSession, store: FrontierStore, cycle: Cycle,
                           docsOut: Option[String]) {
    private val date = new AdaptiveQueryDate()

    def apply(): CrawlStats = {
      val (st, docs) = cycle(date.queryDate())
      date.observe(st.selected, st.limit)
      try docsOut.foreach { dir =>
        if (st.docs > 0)
          docs.select("url", "title", "text", "signature", "noindex")
            .write.mode("append").parquet(dir)
      } finally release(Seq(docs))
      // keep reads at a bounded number of generation scans
      if (store.generationCount > 16) store.compact(spark)
      st
    }
  }

  /** Run cycles until one selects nothing or `maxIterations` ran; the
    * stats include that last, empty cycle. */
  def crawl(spark: SparkSession, store: FrontierStore, cycle: Cycle,
            maxIterations: Int = 10,
            docsOut: Option[String] = None): Seq[CrawlStats] = {
    val step = new Step(spark, store, cycle, docsOut)
    val (full, rest) = Iterator.continually(step()).take(maxIterations)
      .span(_.selected > 0)
    full.toVector ++ rest.take(1)
  }

  /** Continuous crawl: a rate-source heartbeat triggers one step per
    * tick via foreachBatch — the Structured Streaming face of the loop,
    * with checkpointed progress. Stop via the returned query handle. */
  def startStream(spark: SparkSession, store: FrontierStore, cycle: Cycle,
                  intervalMs: Long = 2000, // spout.min.delay.queries=2s analogue
                  checkpointDir: String,
                  docsOut: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val step = new Step(spark, store, cycle, Some(docsOut))
    spark.readStream
      .format("rate").option("rowsPerSecond", 1).load()
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(intervalMs))
      .foreachBatch { (_: DataFrame, _: Long) => step(); () }
      .start()
  }

  /** Continuous seed ingestion — FileSpout as a STREAM
    * (`core/.../spout/FileSpout.java:52` keeps reading seed files
    * dropped into a directory): watch `seedDir` with the file stream
    * source, parse `URL \t k=v …` lines (StringTabScheme), apply the
    * filter chain, merge as DISCOVERED. New files appearing in the
    * directory flow into the frontier on the next trigger; the merge's
    * NOT-MATCHED semantics dedupe re-delivered seeds. */
  def seedStream(spark: SparkSession, store: FrontierStore, seedDir: String,
                 chain: UrlFilterChain = UrlFilterChain.default(),
                 checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    spark.readStream.text(seedDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val rows = batch.collect().toSeq // seed batches are small
          .flatMap(r => parseSeedLine(r.getString(0)))
          .flatMap { case (url, md) =>
            chain(url, None, md).map(u => (u, Status.Discovered, md))
          }
        if (rows.nonEmpty) {
          import spark.implicits._
          store.merge(spark, rows.toDF("url", "status", "metadata"))
        }
        ()
      }
      .start()

  /** The frontier as a streaming DataFrame via the custom DSv2 source
    * ([[graft.sources.FrontierSource]]): each micro-batch is one
    * frontier selection, scheduled only when a merge changed the store
    * — the push-based alternative to [[startStream]]'s fixed-interval
    * heartbeat. Compose downstream with `foreachBatch { fetch → parse
    * → merge }`; the merge both persists results and (by bumping the
    * store version) schedules the next selection, closing the crawl
    * loop through the source itself. */
  def frontierStream(spark: SparkSession, frontierRoot: String,
                     perBucket: Int = 5, maxKeys: Int = 100,
                     limit: Int = 500): DataFrame =
    spark.readStream
      .format("graft.sources.FrontierSource")
      .option("path", frontierRoot)
      .option("perBucket", perBucket.toString)
      .option("maxKeys", maxKeys.toString)
      .option("limit", limit.toString)
      .load()
}
