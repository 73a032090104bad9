package graft.frontier

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.CrawlFunctions
import graft.model.Status

/** The frontier/status table: one row per normalized URL, the engine's
  * single piece of long-lived state (SURVEY §1.4).
  *
  * Storage = hash-bucketed parquet with a per-bucket version manifest
  * (`_CURRENT`: one `bucket TAB generation` line per bucket, swapped
  * atomically). A merge rewrites ONLY the buckets its updates hash
  * into — at 100 TB a micro-batch touching 2 % of hosts rewrites 2 %
  * of the table, not all of it; untouched buckets keep their old
  * files (poor-man's Delta partition-pruned MERGE; a real Delta
  * `MERGE INTO` slots straight into [[merge]]'s interface).
  *
  * The table is hash-distributed on `url_sha256` (the merge shuffles
  * both sides once on that key); bucket dirs give the frontier query
  * partition pruning and `next_fetch_date` min/max file stats prune
  * not-due files on select.
  *
  * Merge semantics = `AbstractStatusUpdaterBolt.execute`
  * (`core/.../persistence/AbstractStatusUpdaterBolt.java:139-242`):
  *  - existing row + incoming DISCOVERED ⇒ keep existing (dedup cache);
  *  - incoming non-DISCOVERED overrides (fresh fetch result);
  *  - FETCH_ERROR increments `fetch.error.count`; ≥ maxFetchErrors ⇒ ERROR;
  *  - scheduler sets `next_fetch_date`; ERROR ⇒ the 44640-min backoff
  *    (DefaultScheduler.java's error default; -1 would mean never/null).
  */
final class FrontierStore(val root: String, numBuckets: Int = 64,
                          maxFetchErrors: Int = 3,
                          scheduler: DefaultScheduler = DefaultScheduler(),
                          adaptive: Option[AdaptiveScheduler] = None) extends Serializable {

  private def currentFile = Paths.get(root, "_CURRENT")

  def exists: Boolean = Files.exists(currentFile)

  /** The manifest's bytes; None before the first merge. The file is
    * only ever replaced by an atomic move, so one read is one version. */
  private def currentBytes: Option[Array[Byte]] =
    if (!exists) None else Some(Files.readAllBytes(currentFile))

  private def signatureOf(bytes: Option[Array[Byte]]): String =
    bytes.fold("absent")(b => java.security.MessageDigest.getInstance("MD5")
      .digest(b).map(x => f"$x%02x").mkString)

  /** Opaque signature of the table's current version — changes exactly
    * when a merge/compact swaps the manifest pointer. Lets pollers
    * (e.g. the streaming frontier source) detect "new frontier state"
    * with one small file read, no table scan. */
  def versionSignature: String = signatureOf(currentBytes)

  /** bucket -> generation dir (relative), e.g. 7 -> "delta_3". */
  private def manifestOf(bytes: Option[Array[Byte]]): Map[Int, String] =
    bytes.fold(Map.empty[Int, String])(b => new String(b).linesIterator
      .filter(_.nonEmpty).map { l =>
        val Array(k, g) = l.split("\t"); k.toInt -> g
      }.toMap)

  private def manifest: Map[Int, String] = manifestOf(currentBytes)

  private def emptyFrontier(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      graft.model.Schemas.status)
      .withColumn("next_fetch_date", col("next_fetch_date").cast("timestamp_ntz"))
      .withColumn("error_count", lit(0))

  /** Read the frontier rows of a manifest's buckets. One scan per delta
    * generation (basePath recovers the bucket column), unioned. The
    * schema is pinned ([[FrontierStore.stored]]): an inferring read
    * starts a one-task footer job per generation on every select and
    * every merge. */
  private def readBuckets(spark: SparkSession, entries: Map[Int, String]): DataFrame =
    if (entries.isEmpty) emptyFrontier(spark)
    else entries.groupBy(_._2).map { case (gen, es) =>
      spark.read
        .schema(FrontierStore.stored)
        .option("basePath", s"$root/$gen")
        .parquet(es.keys.toSeq.sorted.map(b => s"$root/$gen/bucket=$b"): _*)
        .select("url_sha256", "url", "status", "next_fetch_date", "key",
          "bucket", "metadata", "error_count")
    }.reduce(_.unionByName(_))

  /** The last [[read]]: its session, the version it read and the frame.
    * Building a read lists every bucket path it names (a Spark listing
    * job once the paths outnumber the parallel-listing threshold), so a
    * crawl cycle's select and merge, which read the same version, share
    * one frame and one listing. Not serialized: a frame belongs to the
    * driver. */
  @transient @volatile private var lastRead: (SparkSession, String, DataFrame) = _

  /** Read the current frontier table (empty-schema DF when absent). The
    * same frame is returned while the session and the manifest version
    * are unchanged; its listing is of that version's immutable
    * generation files. */
  def read(spark: SparkSession): DataFrame = {
    val bytes = currentBytes
    val version = signatureOf(bytes)
    lastRead match {
      case (s, v, df) if (s eq spark) && v == version => df
      case _ =>
        val df = readBuckets(spark, manifestOf(bytes))
        lastRead = (spark, version, df)
        df
    }
  }

  private def nextGeneration: Int =
    if (!exists) 0
    else manifest.values.map(_.stripPrefix("delta_").toInt).maxOption.map(_ + 1).getOrElse(0)

  /** Task count of a delta write: one task per bucket up to the
    * cluster's parallelism. */
  private def writeParallelism(spark: SparkSession): Int =
    math.min(numBuckets, spark.sparkContext.defaultParallelism).max(1)

  /** Write the merged content of `touched` buckets as one new delta
    * generation and swap the manifest pointer atomically. `preClustered`
    * promises the input is ALREADY hash-distributed by bucket (merge's
    * bucket-aligned window leaves it so) — the repartition exchange is
    * skipped, halving the write path's shuffle bytes; a false promise
    * is still correct, just multi-file per bucket. */
  private def writeDelta(df: DataFrame, touched: Set[Int],
                         preClustered: Boolean = false): Unit = {
    val gen = s"delta_$nextGeneration"
    // cluster by bucket before the partitionBy write: a partitionBy
    // write from W tasks creates up to W files PER BUCKET (≈2 000 tiny
    // files per delta at 32 tasks × 64 buckets — the ContentStore
    // finding applied to the frontier), and every subsequent select
    // pays the listing/open cost. One shuffle of the delta bounds the
    // generation at one file per touched bucket. The count is PINNED
    // (min(buckets, parallelism)): an unpinned repartition(col) lets
    // AQE coalesce a small delta to ONE task that writes every bucket
    // file serially (~13 ms parquet-writer setup each — the
    // ContentStore measurement); pinning keeps the write parallel
    // while each bucket still hashes to exactly one task.
    (if (preClustered) df
     else df.repartition(writeParallelism(df.sparkSession), col("bucket")))
      .write.partitionBy("bucket").mode("overwrite")
      // zstd over the default snappy: the store's peak disk is two
      // coexisting generations (the old one is the merge's INPUT while
      // the new one writes — copy-on-write's honest 2× amplification),
      // so ~35% smaller generations directly shrink the merge's disk
      // high-water mark; zstd decode speed keeps reads scan-bound.
      .option("compression", "zstd")
      .parquet(s"$root/$gen")
    val updated = manifest ++ touched.map(_ -> gen)
    val tmp = Paths.get(root, "_CURRENT.tmp")
    Files.createDirectories(Paths.get(root))
    Files.write(tmp, updated.toSeq.sortBy(_._1)
      .map { case (b, g) => s"$b\t$g" }.mkString("\n").getBytes)
    Files.move(tmp, currentFile, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Rewrite the whole table into a single generation and vacuum — run
    * periodically (the crawl loop does it every `compactEvery` merges)
    * so reads stay one scan instead of one per historical generation. */
  def compact(spark: SparkSession): Unit = {
    if (manifest.values.toSet.size <= 1) return
    val all = read(spark)
    val touched = manifest.keySet
    writeDelta(all, touched)
    vacuum()
  }

  /** Number of distinct live generations (compaction trigger metric). */
  def generationCount: Int = manifest.values.toSet.size

  /** Delete delta generations no bucket references anymore. Streams
    * are closed explicitly — the crawl driver vacuums for days on end
    * and leaked directory-stream fds would eventually hit the ulimit. */
  def vacuum(): Unit = {
    val referenced = manifest.values.toSet
    val rootPath = Paths.get(root)
    if (Files.exists(rootPath)) {
      val listing = Files.list(rootPath)
      try {
        val it = listing.iterator()
        while (it.hasNext) {
          val p = it.next()
          val name = p.getFileName.toString
          if (name.startsWith("delta_") && !referenced.contains(name)) {
            val walk = Files.walk(p)
            try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
              .forEach(f => Files.deleteIfExists(f))
            finally walk.close()
          }
        }
      } finally listing.close()
    }
  }

  /** Normalize incoming status rows (url, status, metadata[, signature])
    * into full frontier rows: id, partition key, bucket. */
  private def enrich(updates: DataFrame): DataFrame =
    updates
      .withColumn("url_sha256", CrawlFunctions.urlSha256(col("url")))
      .withColumn("key", CrawlFunctions.partitionKeyCol(col("url"), "byHost"))
      .withColumn("bucket", pmod(hash(col("key")), lit(numBuckets)))

  /** MERGE INTO status — the §3.3 upsert. `updates` needs columns
    * (url, status, metadata); `now` stamps scheduling. Only the buckets
    * the updates hash into are read and rewritten; one shuffle on
    * url_sha256 (window dedup), map-side everything else. */
  def merge(spark: SparkSession, updates: DataFrame,
            now: java.sql.Timestamp = new java.sql.Timestamp(System.currentTimeMillis())): Unit = {
    val enriched = enrich(updates)
    // NO cache on the update batch: the touched-bucket pass below
    // recomputes the (map-only: parquet scan + projections + hash
    // exprs) lineage instead. Caching here was the r18 q94 sf1000
    // killer — a 333 M-row update batch spills tens of GB of
    // MEMORY_AND_DISK blocks exactly while the merge window shuffle
    // and two store generations also hold disk, and the recompute it
    // saves is a fraction of the window stage. At 100 TB the same
    // logic holds even harder: never persist a batch-sized input to
    // save one cheap map pass.
    // the touched-bucket set is tiny (≤ numBuckets) — safe to collect;
    // the distinct is map-side-combined so this pass ships ≤ numBuckets
    // rows per task
    val touched = enriched.select("bucket").distinct()
      .collect().map(_.getInt(0)).toSet
    if (touched.isEmpty) return

    // SLIM union: url_sha256 and key are pure functions of url
    // (enrich's own definitions), so they are recomputed on the merge
    // SURVIVORS after the window instead of being shuffled with every
    // candidate row — 64 hex chars + the key string are ~40% of the
    // row, and the merge exchange is the store's dominant shuffle.
    // The touched buckets are pruned from the shared read ([[read]]:
    // the select of the same version already listed them); `bucket` is
    // the partition column, so untouched buckets' files are never opened.
    val existing = read(spark).where(col("bucket").isin(touched.toSeq: _*))
      .select(col("url"), col("status"), col("next_fetch_date"),
        col("bucket"), col("metadata"), col("error_count"),
        lit(0).as("incoming"))
    val nowC = lit(now).cast("timestamp_ntz")
    val incoming = enriched
      .select(col("url"), col("status"),
        lit(null).cast("timestamp_ntz").as("next_fetch_date"),
        col("bucket"), col("metadata"),
        when(col("status") === Status.FetchError, 1).otherwise(0).as("error_count"),
        lit(1).as("incoming"))

    // Precedence within the merge batch and against existing rows:
    // non-DISCOVERED incoming > existing > DISCOVERED incoming, then
    // recency. Encoded as a sort rank inside one window — a single
    // shuffle implements the whole WHEN MATCHED/NOT MATCHED ladder.
    // Measured dead end (round 14, sf100 isolation min-of-2): folding
    // the ladder into one groupBy(url_sha256).agg(min_by(payload, ord),
    // sum, max, max) is 7× SLOWER (q94 266 s vs 36.5 s) — struct agg
    // buffers aren't UnsafeRow-mutable, so both aggregation phases
    // fall back to SortAggregate, and with ~unique url keys the
    // map-side partial collapses nothing. The window shape is the
    // right one here.
    //
    // ONE exchange, bucket-aligned (r18): the windows partition by
    // BUCKET — the exact distribution writeDelta needs — and resolve
    // per-URL groups inside the partition via ordering: the survivor is
    // the first row of each url run under the precedence sort (a lag
    // run-boundary test ≡ row_number()=1 over a per-url window), and
    // the per-url aggregates use a RANGE CURRENT ROW..CURRENT ROW
    // frame, whose frame is exactly the ORDER-BY PEERS (= all rows of
    // the url). Partitioning by url instead cost a SECOND full
    // exchange (writeDelta's repartition by bucket) — 2× the merge's
    // shuffle bytes, which is what broke q94's 1 B-row run (and on a
    // real cluster is 2× the network). Grouping by url ≡ grouping by
    // url_sha256: the hash is injective on the store's key space by
    // construction.
    //
    // That one exchange is PINNED at writeDelta's own task count: left to
    // the window's requirement it is an ENSURE_REQUIREMENTS shuffle that
    // AQE coalesces, and a cycle-sized merge then wrote every touched
    // bucket file from ONE task (measured: 52 bucket files, 0.94 s, on 4
    // cores). A repartition to a fixed count is exempt from coalescing and
    // already satisfies the bucket windows, so no second exchange appears.
    val rank =
      when(col("incoming") === 1 && col("status") =!= Status.Discovered, 0)
        .when(col("incoming") === 0, 1)
        .otherwise(2)
    // Tie-breaks make the surviving row DETERMINISTIC under task retry
    // (the exactly-once argument rests on idempotent replay): among
    // duplicate DISCOVERED rows the shallowest discovery wins (its
    // outlinks have the most depth budget left), then a content hash
    // of the metadata as a total order of last resort.
    val depthC = graft.model.MetadataOps.mdFirst(col("metadata"), "depth").cast("int")
    val wOrd = Window.partitionBy(col("bucket"))
      .orderBy(col("url"), rank, col("status"), depthC.asc_nulls_first,
        xxhash64(to_json(col("metadata"))))
    val wPeer = Window.partitionBy(col("bucket")).orderBy(col("url"))
      .rangeBetween(Window.currentRow, Window.currentRow)
    val unioned = existing.unionByName(incoming)
      .repartition(writeParallelism(spark), col("bucket"))
      // carry the error history: sum error counts across merged rows,
      // capped escalation handled below
      .withColumn("total_errors", sum(col("error_count")).over(wPeer))
      // previous signature/interval for the adaptive scheduler
      // (AdaptiveScheduler.java:140-318) — window-carried so the
      // surviving row can compare against what the store held
      .withColumn("old_sig",
        max(when(col("incoming") === 0,
          graft.model.MetadataOps.mdFirst(col("metadata"), "signature"))).over(wPeer))
      .withColumn("old_interval",
        max(when(col("incoming") === 0,
          graft.model.MetadataOps.mdFirst(col("metadata"), "fetchInterval").cast("double")))
          .over(wPeer))
      // survivor = first row of this url's run under the precedence
      // order: the previous row (same bucket partition, full composite
      // sort) is a different url or absent
      .withColumn("__prev_url", lag(col("url"), 1).over(wOrd))
      .where(col("__prev_url").isNull || col("__prev_url") =!= col("url"))
      .drop("__prev_url")
      // recompute the derived identity columns on the ~deduped
      // survivors only (they were excluded from the shuffle above)
      .withColumn("url_sha256", CrawlFunctions.urlSha256(col("url")))
      .withColumn("key", CrawlFunctions.partitionKeyCol(col("url"), "byHost"))

    val escalated = unioned
      .withColumn("error_count",
        when(col("status") === Status.Fetched, 0).otherwise(col("total_errors")))
      .withColumn("status",
        when(col("status") === Status.FetchError && col("error_count") >= maxFetchErrors,
          Status.Error).otherwise(col("status")))
      .drop("total_errors")

    val defaultNext = coalesce(col("next_fetch_date"),
      scheduler.nextFetchDate(col("status"), col("metadata"), nowC))
    val scheduled = adaptive match {
      case None => escalated.withColumn("next_fetch_date", defaultNext)
      case Some(ad) =>
        import graft.model.MetadataOps
        val sig = MetadataOps.mdFirst(col("metadata"), "signature")
        // unchanged when the fresh signature matches the stored one OR
        // the server answered 304 Not Modified (no body, no new
        // signature — AdaptiveScheduler.java's HTTP 304 branch)
        val unchanged = (sig.isNotNull && sig === col("old_sig")) ||
          MetadataOps.mdFirst(col("metadata"), "fetch.statusCode") === "304"
        val newInt = ad.newIntervalMins(col("old_interval"), unchanged)
        // adapt ONLY on an incoming fetch result: a surviving EXISTING
        // row (rediscovered by a duplicate DISCOVERED) must keep its
        // schedule, or every rediscovery would push the refetch out
        val adapt = col("status") === Status.Fetched && col("incoming") === 1
        escalated
          .withColumn("next_fetch_date",
            when(adapt, ad.nextFetchDate(nowC, newInt)).otherwise(defaultNext))
          .withColumn("metadata",
            when(adapt,
              MetadataOps.mdSet(col("metadata"), "fetchInterval",
                newInt.cast("int").cast("string")))
              .otherwise(col("metadata")))
    }

    writeDelta(scheduled.select(
      "url_sha256", "url", "status", "next_fetch_date", "key", "bucket",
      "metadata", "error_count"), touched, preClustered = true)
  }

  /** Frontier selection — AggregationSpout / SQLSpout semantics
    * (`AggregationSpout.java:110-166`, `SQLSpout.java:120-139`): due
    * URLs, top-`perBucket` per key by next_fetch_date, at most
    * `maxKeys` keys ordered by their earliest due date, global LIMIT.
    * The due-date filter prunes parquet files before the single window
    * shuffle. */
  def selectBatch(spark: SparkSession, now: java.sql.Timestamp,
                  perBucket: Int = 5, maxKeys: Int = 100,
                  limit: Int = 500,
                  excludeInFlight: Option[DataFrame] = None,
                  saltBuckets: Int = 1,
                  keyPriority: Option[DataFrame] = None): DataFrame = {
    val due = read(spark)
      .where(col("next_fetch_date").isNotNull &&
        col("next_fetch_date") <= lit(now).cast("timestamp_ntz") &&
        col("status") =!= Status.Error)
    val afterPurgatory = excludeInFlight match {
      case Some(inflight) => due.join(broadcast(inflight.select(col("url_sha256"))),
        Seq("url_sha256"), "left_anti")
      case None => due
    }
    // Key selection first: top-`maxKeys` keys by earliest due date as a
    // small aggregate + TakeOrdered (never a global window over URL
    // rows — that would single-partition the sort at scale), then the
    // per-key top-K window joins only the surviving keys.
    // Default key order = earliest due date (AggregationSpout's min-agg
    // bucket sort). With `keyPriority` (key, priority) — e.g. recent ack
    // counts — keys sort by priority desc first: the PriorityURLBuffer
    // behavior (`persistence/urlbuffer/PriorityURLBuffer.java:40,97-106`
    // re-sorts queues by acks every 30 s). The priority frame is tiny
    // (one row per active key) and broadcasts.
    val keyAgg = afterPurgatory
      .groupBy(col("key")).agg(min(col("next_fetch_date")).as("key_min"))
    val topKeys = (keyPriority match {
      case Some(pr) => keyAgg
        .join(broadcast(pr.select(col("key"), col("priority"))), Seq("key"), "left")
        .withColumn("__pr", coalesce(col("priority"), lit(0L)))
        .orderBy(col("__pr").desc, col("key_min"), col("key"))
        .drop("priority", "__pr")
      case None => keyAgg.orderBy(col("key_min"), col("key"))
    }).limit(maxKeys)
    val wk = Window.partitionBy(col("key")).orderBy(col("next_fetch_date"), col("url"))
    val joined = afterPurgatory.join(broadcast(topKeys), Seq("key"))
    // Hot-key defense: a host with millions of due URLs would make the
    // per-key window fully sort that key's partition (the straggler at
    // 100 TB). With saltBuckets > 1, phase 1 takes the top-K within
    // each (key, salt) shard — parallel, each shard a fraction of the
    // key — and phase 2 re-ranks only the ≤ saltBuckets×perBucket
    // survivors per key. Same result set (per-key top-K by (due, url)
    // is the top-K of the union of per-shard top-Ks); the second
    // shuffle carries ≤ maxKeys×saltBuckets×perBucket rows, i.e. ~nothing.
    val ranked =
      if (saltBuckets <= 1) joined.withColumn("rn", row_number().over(wk))
      else {
        val ws = Window.partitionBy(col("key"), col("__salt"))
          .orderBy(col("next_fetch_date"), col("url"))
        joined
          .withColumn("__salt", pmod(hash(col("url")), lit(saltBuckets)))
          .withColumn("__rn1", row_number().over(ws))
          .where(col("__rn1") <= perBucket)
          .drop("__salt", "__rn1")
          .withColumn("rn", row_number().over(wk))
      }
    ranked
      .where(col("rn") <= perBucket)
      .orderBy(col("key_min"), col("key"), col("rn"))
      .limit(limit)
      .select("url_sha256", "url", "status", "next_fetch_date", "key", "metadata")
  }

  /** Count-by-status — StatusMetricsBolt (`StatusMetricsBolt.java:44`). */
  def statusCounts(spark: SparkSession): DataFrame =
    read(spark).groupBy("status").agg(count(lit(1)).as("n"))

  /** HybridSpout per-queue refill (`external/opensearch/.../HybridSpout
    * .java:53`): keyset pagination — for each (key, last seen due date),
    * the next `perKey` due URLs strictly after that date. `cursor` needs
    * columns (key, last_seen); it is small (one row per active queue) so
    * it broadcasts. */
  def refill(spark: SparkSession, cursor: DataFrame, now: java.sql.Timestamp,
             perKey: Int = 5): DataFrame = {
    val due = read(spark)
      .where(col("next_fetch_date").isNotNull &&
        col("next_fetch_date") <= lit(now).cast("timestamp_ntz") &&
        col("status") =!= Status.Error)
    val wk = Window.partitionBy(col("key")).orderBy(col("next_fetch_date"), col("url"))
    due.join(broadcast(cursor), Seq("key"))
      .where(col("next_fetch_date") > col("last_seen"))
      .withColumn("rn", row_number().over(wk))
      .where(col("rn") <= perKey)
      .select("url_sha256", "url", "status", "next_fetch_date", "key", "metadata")
  }

  /** Rows the index must delete — the `deletion` stream
    * (`AbstractStatusUpdaterBolt.java:269-272`, `DeletionBolt.java:58`):
    * every ERROR row's doc id. An index sink anti-joins its table
    * against this set (or applies them as tombstones). */
  def deletions(spark: SparkSession): DataFrame =
    read(spark).where(col("status") === Status.Error)
      .select("url_sha256", "url")
}

object FrontierStore {
  /** The columns of a delta generation as written (`bucket` is the
    * partition directory). */
  private val stored: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("url_sha256", StringType),
      StructField("url", StringType),
      StructField("status", StringType),
      StructField("next_fetch_date", TimestampNTZType),
      StructField("key", StringType),
      StructField("metadata", MapType(StringType, ArrayType(StringType))),
      StructField("error_count", LongType), // a windowed sum
      StructField("bucket", IntegerType)))
  }
}
