package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{CrawlFunctions, UdfRegistry}
import Tables._

/** Crawl-domain operator queries (SURVEY §2.1, §2.2, §2.5, §2.7, §2.8),
  * each with a DuckDB oracle over the same parquet tables.
  *
  * These exercise the engine's operators over the synthetic tables:
  * frontier selection (per-key top-K window — AggregationSpout/SQLSpout
  * semantics), status aggregation (StatusMetricsBolt), partition keys
  * (URLPartitioner), normalizer + filter chains, the scheduler CASE
  * expression (DefaultScheduler), the frontier merge dedup
  * (AbstractStatusUpdaterBolt), and the indexer projection.
  */
object CrawlQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Frontier selection: ≤3 due URLs per key, like AggregationSpout's
    // terms-agg + top_hits (`AggregationSpout.java:110-166`) / SQLSpout's
    // rank() window (`SQLSpout.java:120-139`). Window shuffles once on
    // `key`; the status filter is pushed to the scan.
    // Top-3-due-per-host via the native min-k aggregate, not a window:
    // the `row_number <= 3` spelling local-sorts every queue row under
    // the WindowGroupLimit (measured 26 s warm at sf1000's 10⁹ rows,
    // 1.5 µs/row — string compares + the per-row url concat dominate);
    // the bounded buffer touches each row with one long compare, builds
    // the url string ~never (lazy tie-break gate), and ships ≤3 rows
    // per host per map task. Group key is the LONG key_id; the key
    // string renders on the ≤60-row output (bijection — see Tables).
    "q02_frontier_topk" -> ((s, dir) => {
      statusView(s, dir)
        .where(col("status") === "DISCOVERED")
        .groupBy(col("key_id"))
        .agg(graft.functions.MinKByOrdStrAgg
          .minKByOrdStr(col("next_fetch_date"), col("url"), 3).as("top"))
        .select(col("key_id"), posexplode(col("top")))
        .select(Tables.keyFromId(col("key_id")).as("key"),
          col("col.s").as("url"), col("col.ord").as("next_fetch_date"),
          (col("pos") + 1).cast("int").as("rn"))
        .orderBy(col("key"), col("rn"))
    }),

    // Count-by-status — the reference's one true global aggregation
    // (`StatusMetricsBolt.java:44,65-110`). Partial agg map-side, single
    // tiny shuffle.
    "q03_status_counts" -> ((s, dir) =>
      statusView(s, dir)
        .groupBy("status").agg(count(lit(1)).as("n"))
        .orderBy("status")),

    // URLPartitioner byHost + byDomain as codegen'd column expressions
    // (`URLPartitioner.java:44-93`) — counts per key.
    "q04_partition_key" -> ((s, dir) => {
      val v = docUrlView(s, dir)
      v.select(
          CrawlFunctions.hostCol(col("url")).as("host"),
          CrawlFunctions.pldCol(CrawlFunctions.hostCol(col("url"))).as("domain"))
        .groupBy("host", "domain").agg(count(lit(1)).as("n"))
        .orderBy("host")
    }),

    // BasicURLNormalizer (`filtering/basic/BasicURLNormalizer.java`):
    // lowercase scheme+host, strip fragment + default port, drop session
    // params. Native Catalyst expression (whole-stage codegen, no UDF
    // boxing); string-ops oracle.
    "q05_normalize_url" -> ((s, dir) =>
      t(s, dir, "documents").select(
          col("doc_id"),
          graft.functions.UrlExpressions.normalizeUrl(
            concat(lit("HTTP://"), upper(col("source")), lit(".Example.COM:80/Path/"),
              col("doc_id").cast("string"), lit("?b=2&sid=abc#frag"))).as("url"))
        .orderBy("doc_id")),

    // URL filter chain (`URLFilters.java:109-126` fold semantics): the
    // default regex rules drop media extensions and query-noise URLs.
    // Expressed as column predicates so the filter pushes into the scan.
    "q06_filter_chain" -> ((s, dir) =>
      docUrlView(s, dir)
        .where(!col("url").rlike("(?i)\\.(?:gif|jpg|jpeg|png|ico|css|zip|exe|js)$") &&
               !col("url").rlike("[?*!@=]") &&
               col("url").rlike("^https?://"))
        .select("doc_id", "url")
        .orderBy("doc_id")),

    // DefaultScheduler (`DefaultScheduler.java:56-97`): next fetch date =
    // now + per-status interval (FETCHED 1440 min, FETCH_ERROR 120,
    // REDIRECTION 1440, ERROR never ⇒ null). Pure CASE expression.
    "q07_schedule" -> ((s, dir) =>
      statusView(s, dir).selectExpr(
          "url",
          "status",
          """CASE status
               WHEN 'FETCHED'     THEN next_fetch_date + INTERVAL 1440 MINUTE
               WHEN 'FETCH_ERROR' THEN next_fetch_date + INTERVAL 120 MINUTE
               WHEN 'REDIRECTION' THEN next_fetch_date + INTERVAL 1440 MINUTE
               WHEN 'DISCOVERED'  THEN next_fetch_date
               ELSE NULL
             END AS scheduled""")
        .orderBy("url")),

    // Frontier merge dedup (`AbstractStatusUpdaterBolt.java:139-242`):
    // multiple discoveries of one URL collapse to the earliest
    // (discoveryDate semantics) — window dedup, one shuffle on the id.
    // Plan audit (round 12, sf100 = 100 M rows): this window is the
    // right shape and scales SUB-linearly — isolation min-of-2 is
    // 5.9 s (sf10) → 20.3 s (sf100), 3.5× for 10× data. The sort is
    // n·log n per partition with WindowGroupLimit partial/final
    // pruning; a min_by/max(struct) aggregate would NOT beat it here:
    // struct buffers aren't UnsafeRow-mutable (SortAggregate
    // fallback), and with ~unique url ids a 100 M-group hash
    // aggregate spills to sort anyway. The ≈142 s sf100 suite rows
    // were single-rep cold-cache readings (see BASELINE round 12);
    // the production merge path (`FrontierStore.merge`) prices by
    // touched buckets and never runs this full-view window.
    "q08_merge_dedup" -> ((s, dir) => {
      // The dedup key is the 16-BYTE binary MD5 digest — the reference's
      // own content-identity signature (`MD5SignatureParseFilter.java`).
      // Collision-safe for NON-ADVERSARIAL corpora (md5 is chosen-prefix
      // broken, so an attacker-supplied corpus could force collisions; a
      // production dedup path facing hostile input should use a 16-byte
      // sha256 PREFIX at the same width). Width matters more than
      // anything else here: the digest is random bytes (incompressible),
      // the groups are ~all-distinct at scale (no map-side collapse), so
      // the window exchange carries ≈ rows × key-width of scratch. At
      // sf1000 (1 B rows, ~30 GB free scratch on this host) the 64-char
      // hex sha256 key (~64 GB) and the 32-byte binary sha256 key
      // (~48 GB) both exhausted scratch; the md5 key (~32 GB inc.
      // payload) is what fits. Same equivalence classes (128-bit
      // collision-free on any real corpus), same counts; the oracle
      // mirrors with DuckDB md5().
      val v = statusView(s, dir)
        .withColumn("url_digest", unhex(md5(col("url"))))
      val w = Window.partitionBy(col("url_digest")).orderBy(col("next_fetch_date"), col("event_id"))
      v.withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .groupBy(col("status")).agg(count(lit(1)).as("n"))
        .orderBy("status")
    }),

    // Indexer projection (`AbstractIndexerBolt.java:191-247`): mapping
    // spec compiled to a SELECT — here a JSON metadata field extraction
    // with alias + text-length trim analogue. Output is BOUNDED (one
    // bulk batch: first 1000 by event_id — the indexer ships batches of
    // documents, it never globally sorts the corpus), so the plan is
    // TakeOrderedAndProject: a 1000-row heap per partition over the
    // map-only scan+filter, linear at any SF. event_id is unique, so
    // the top-K is deterministic and the oracle mirrors it exactly.
    "q09_indexer_projection" -> ((s, dir) =>
      t(s, dir, "events")
        .select(
          col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("meta_k"),
          col("event_type").as("doc_type"))
        .where(col("meta_k") > 50)
        .orderBy("event_id")
        .limit(1000)),

    // Parse-stage outlink explosion (`JSoupParserBolt` flatMap →
    // Catalyst Generator): documents text → words → top-50 wordcount.
    "q10_outlink_explode" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("word"))
        .where(col("word") =!= "")
        .groupBy("word").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("word"))
        .limit(50)),

    // Purgatory anti-join (`AbstractQueryingSpout.java:149-175`): due
    // candidates minus in-flight set. Broadcast-able small side. The
    // per-row join and group key is the LONG key_id (bijective with the
    // key string); the key renders on the 20-row aggregate — at sf1000
    // the string-keyed probe alone cost 46 s (see Tables.statusView).
    "q11_purgatory_antijoin" -> ((s, dir) => {
      val v = statusView(s, dir)
      val inflight = v.where(col("status") === "FETCH_ERROR" && col("event_id") % 97 === 0)
        .select(col("key_id").as("k")).distinct()
      v.where(col("status") === "DISCOVERED")
        .join(broadcast(inflight), v("key_id") === inflight("k"), "left_anti")
        .groupBy("key_id").agg(count(lit(1)).as("n"))
        .select(Tables.keyFromId(col("key_id")).as("key"), col("n"))
        .orderBy("key")
    }),

    // Fetch-budget apportionment: 1000 fetch slots split across hosts
    // ∝ due-queue sizes by the largest-remainder method — exact
    // integer quotas, Σquota = budget (HybridSpout per-queue refill /
    // URLBuffer throttling as a planning query).
    "q92_budget_quota" -> ((s, dir) => {
      val due = statusView(s, dir).where(col("status") === "DISCOVERED")
        .groupBy("key").agg(count(lit(1)).as("n_due"))
      graft.frontier.Budget.allocate(due, "key", "n_due", 1000L)
        .orderBy("key")
    }),

    // Politeness drain plan: how long each host's due queue takes to
    // drain at its robots crawl-delay — the planning query behind
    // FetchItemQueues' per-key delay (`fetch/FetchStage.scala:31`,
    // reference `FetcherBolt` queue delays + robots Crawl-delay).
    // Crawl-delay comes from the REAL parser over the q84 rule table;
    // hosts without a delay directive fall back to the 1 s default
    // (reference fetcher.server.delay).
    "q91_drain_plan" -> ((s, dir) => {
      val due = statusView(s, dir).where(col("status") === "DISCOVERED")
        .groupBy("key").agg(count(lit(1)).as("n_due"))
      val parseDelay = udf((body: String) =>
        graft.fetch.RobotRules.parse(body, "graft-crawler").crawlDelayMs)
      due
        .withColumn("h", regexp_extract(col("key"), "host([0-9]+)", 1).cast("int"))
        .withColumn("robots_txt", expr(
          """CASE h % 3
               WHEN 0 THEN 'User-agent: *\nDisallow: /private\nAllow: /private/ok\nCrawl-delay: 2'
               WHEN 1 THEN 'User-agent: *\nDisallow:\n'
               ELSE 'User-agent: graft\nDisallow: /tmp\n\nUser-agent: *\nDisallow: /'
             END"""))
        .withColumn("delay_ms", coalesce(parseDelay(col("robots_txt")), lit(1000L)))
        .selectExpr("key", "n_due", "delay_ms", "n_due * delay_ms AS drain_ms")
        .orderBy("key")
    }),

    // Batch robots.txt evaluation over a frontier — the REAL parser
    // (`fetch/RobotRules.parse`: group selection, specific-agent
    // override, longest-prefix match, Allow-beats-Disallow on ties,
    // empty Disallow = allow-all) runs ONCE per host on the 20-row
    // rules table; the per-URL decision is then pure COLUMN ALGEBRA
    // over the parsed allow/disallow arrays (the reference caches
    // parsed rules per host for the same reason — parse per host,
    // match per URL: `HttpRobotRulesParser.java:38`, cache at
    // `crawler-default.yaml:166`). Three rule shapes: prefix rules
    // with an Allow carve-out, allow-all via empty Disallow, and a
    // specific-agent group overriding a Disallow-/ star group.
    "q84_robots_batch" -> ((s, dir) => {
      val urls = t(s, dir, "events").selectExpr(
        "concat('h', cast(user_id % 20 as string)) AS host",
        """CASE cast(event_id % 5 as int)
             WHEN 0 THEN concat('/private/x', cast(event_id as string))
             WHEN 1 THEN concat('/private/ok/y', cast(event_id as string))
             WHEN 2 THEN concat('/tmp/z', cast(event_id as string))
             WHEN 3 THEN concat('/page/', cast(event_id as string))
             ELSE '/'
           END AS path""")
      val hosts = urls.select("host").distinct()
        .withColumn("robots_txt", expr(
          """CASE cast(substring(host, 2) as int) % 3
               WHEN 0 THEN 'User-agent: *\nDisallow: /private\nAllow: /private/ok\nCrawl-delay: 2'
               WHEN 1 THEN 'User-agent: *\nDisallow:\n'
               ELSE 'User-agent: graft\nDisallow: /tmp\n\nUser-agent: *\nDisallow: /'
             END"""))
      val parseRules = udf((body: String) => {
        val r = graft.fetch.RobotRules.parse(body, "graft-crawler")
        (r.allows, r.disallows)
      })
      val rules = hosts.withColumn("r", parseRules(col("robots_txt")))
        .select(col("host"), col("r._1").as("allows"), col("r._2").as("disallows"))
      urls.join(broadcast(rules), "host")
        .withColumn("a", aggregate(
          filter(col("allows"), p => col("path").startsWith(p)),
          lit(-1), (acc, x) => greatest(acc, length(x))))
        .withColumn("d", aggregate(
          filter(col("disallows"), p => col("path").startsWith(p)),
          lit(-1), (acc, x) => greatest(acc, length(x))))
        .withColumn("allowed", col("a") >= col("d"))
        .groupBy("host")
        .agg(sum(when(col("allowed"), 1L).otherwise(0L)).as("n_allowed"),
          sum(when(col("allowed"), 0L).otherwise(1L)).as("n_denied"))
        .orderBy("host")
    }),

    // Anchor-text inventory THROUGH THE REAL PARSE STAGE: synthesized
    // HTML pages run the full production path — charset decode,
    // HtmlParser (nofollow links dropped per JSoupParserBolt
    // semantics), URL filter chain, metadata transfer — and the
    // emitted outlink rows aggregate into a per-target link inventory
    // (the anchor signal the reference's indexer can index). The %4
    // docs carry a rel=nofollow spam link that must NOT appear.
    "q83_anchor_inventory" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val html = concat(
        lit("<html><body><a href=\"https://h"),
        (col("doc_id") % 20).cast("string"),
        lit(".example.com/p/"),
        (col("doc_id") % 50).cast("string"),
        lit("\">"), col("lang"), lit(" link</a>"),
        when(col("doc_id") % 4 === 0,
          lit("<a rel=\"nofollow\" href=\"https://spam.example.com/x\">spam</a>"))
          .otherwise(lit("")),
        lit("</body></html>"))
      val fetched = docs.select(
        concat(lit("https://"), col("source"), lit(".example.com/d/"),
          col("doc_id").cast("string")).as("url"),
        encode(html, "UTF-8").as("content"),
        lit("text/html").as("content_type"),
        lit(null).cast("map<string,array<string>>").as("metadata"),
        lit(graft.model.Status.Fetched).as("status"))
      graft.parse.ParseStage.parse(fetched)
        .where(col("kind") === "outlink")
        .groupBy(col("target_url"))
        .agg(count(lit(1)).as("n_refs"),
          // pipe-joined sorted distinct anchors: same value as the
          // ARRAY<STRING>, but scalar so driver-side canonicalizers
          // (pandas sort/hash) can handle the column.
          array_join(sort_array(collect_set(col("anchor"))), "|").as("anchors"))
        .orderBy("target_url")
    }),

    // Snapshot diff between two crawl epochs — the batch face of the
    // reference's change detection (status-updater merge decides
    // new-vs-revisit; AdaptiveScheduler compares signatures across
    // fetches). Each epoch's per-URL state is its LATEST event's
    // status (row_number over ts desc, event_id desc); the diff is ONE
    // full-outer join classifying ADDED / REMOVED / CHANGED. Epoch key
    // ranges are offset (0..389 vs 10..399) so all three classes occur.
    "q79_snapshot_diff" -> ((s, dir) => {
      def snap(epoch: Int, lo: Int, hi: Int): DataFrame = {
        val w = Window.partitionBy(col("url"))
          .orderBy(col("ts").desc, col("event_id").desc)
        t(s, dir, "events")
          .where(col("user_id") % 2 === epoch &&
            col("event_id") % 400 >= lo && col("event_id") % 400 < hi)
          .selectExpr(
            "concat('p', cast(event_id % 400 as string)) AS url",
            """CASE event_type
                 WHEN 'purchase' THEN 'FETCHED'
                 WHEN 'view'     THEN 'DISCOVERED'
                 WHEN 'click'    THEN 'DISCOVERED'
                 WHEN 'signup'   THEN 'REDIRECTION'
                 ELSE 'FETCH_ERROR'
               END AS status""",
            "ts", "event_id")
          .withColumn("rn", row_number().over(w))
          .where(col("rn") === 1)
          .select("url", "status")
      }
      graft.operators.SnapshotDiff.diff(
          snap(0, 0, 390), snap(1, 10, 400), Seq("url"), Seq("status"))
        .orderBy("url")
    }),

    // Status.fromHTTPCode (`Status.java:26-34`) as a CASE expression over
    // a synthesized http-code column.
    "q12_status_from_http" -> ((s, dir) =>
      t(s, dir, "events")
        .withColumn("code",
          (col("event_id") % 5 * 100 + 200).cast("int"))
        .select(col("event_id"), CrawlFunctions.statusFromHttpCode(col("code")).as("status"))
        .groupBy("status").agg(count(lit(1)).as("n"))
        .orderBy("status")),

    // ONE FULL CRAWL CYCLE against the REAL FrontierStore — the §2.7
    // state machine under the oracle gate, not just specs: seed merge
    // (NOT-MATCHED inserts, DISCOVERED due-now scheduling), frontier
    // selection (AggregationSpout's top-keys + per-key top-K ladder,
    // `AggregationSpout.java:110-166`), a deterministic fetch
    // simulation, and the result merge — non-DISCOVERED overrides,
    // existing state beats re-discovery, FETCH_ERROR counting, and
    // DefaultScheduler re-scheduling (`AbstractStatusUpdaterBolt
    // .java:139-242`, `DefaultScheduler.java:56-97`). `now` stamps are
    // pinned so every next_fetch_date is a pure function of the input;
    // the store lives in a fresh scratch dir per invocation.
    "q94_crawl_cycle" -> ((s, dir) => {
      import java.sql.Timestamp
      val freeAtEntry = graft.Disk.freeGb()
      val t0 = Timestamp.valueOf("2026-01-01 00:00:00")
      val t1 = Timestamp.valueOf("2026-01-01 01:00:00")
      val t2 = Timestamp.valueOf("2026-01-01 02:00:00")
      val store = new graft.frontier.FrontierStore(
        graft.tools.Scratch.dir("graft_q94_").toString)
      val emptyMd = lit(null).cast("map<string,array<string>>")
      // cycle 0: seed a third of the derived frontier as discoveries
      store.merge(s, statusView(s, dir).where(col("event_id") % 3 === 0)
        .select(col("url"), lit(graft.model.Status.Discovered).as("status"),
          emptyMd.as("metadata")), t0)
      // inter-cycle hygiene (TIMED — it is part of the crawl cycle's
      // honest cost, exactly as a real loop pays a job boundary between
      // cycles): cycle 0's merge leaves its window+repartition shuffle
      // on disk until a GC lets the ContextCleaner reclaim it, and at
      // 1 B rows that residue plus cycle 1's shuffle plus BOTH store
      // generations (copy-on-write input + output) is what blew the FS
      // in the r18 isolation attempt. Gated on cycle 0 having
      // measurably consumed disk (Disk.settleIfConsumed).
      graft.Disk.settleIfConsumed(freeAtEntry, 40): Unit
      // cycle 1: select due work, simulate fetch outcomes by page id
      val batch = store.selectBatch(s, t1, perBucket = 8, maxKeys = 10, limit = 50)
      val d = regexp_extract(col("url"), "page/([0-9]+)", 1).cast("long")
      val results = batch.select(col("url"),
        when(d % 5 === 3, graft.model.Status.FetchError)
          .when(d % 5 === 4, graft.model.Status.Redirection)
          .otherwise(graft.model.Status.Fetched).as("status"),
        emptyMd.as("metadata"))
      // fetched pages discover one child; redirections re-discover
      // themselves (the self-loop dedup case); a sparse slice of the
      // whole seed set is re-discovered (existing row must win and
      // KEEP its schedule)
      val children = results.where(col("status") === graft.model.Status.Fetched)
        .select(concat(col("url"), lit("/out/1")).as("url"),
          lit(graft.model.Status.Discovered).as("status"), emptyMd.as("metadata"))
      val selfRedisc = results.where(col("status") === graft.model.Status.Redirection)
        .select(col("url"), lit(graft.model.Status.Discovered).as("status"),
          emptyMd.as("metadata"))
      val sparseRedisc = statusView(s, dir).where(col("event_id") % 9 === 0)
        .select(col("url"), lit(graft.model.Status.Discovered).as("status"),
          emptyMd.as("metadata"))
      store.merge(s,
        results.unionByName(children).unionByName(selfRedisc).unionByName(sparseRedisc), t2)
      store.read(s)
        .groupBy(col("key"), col("status"))
        .agg(count(lit(1)).as("n"),
          min(col("next_fetch_date")).as("min_next"),
          max(col("next_fetch_date")).as("max_next"))
        .orderBy("key", "status")
    }),

    // Sitemap/feed discovery THROUGH THE REAL PARSE STAGE (the §2.4
    // q83 pattern applied to SiteMapParserBolt/FeedParserBolt,
    // `SiteMapParserBolt.java:96-254`, `FeedParserBolt.java:72-161`):
    // synthesized sitemapindex (%10==0), RSS feed (%10==5) and urlset
    // (rest) documents run content sniffing, XML parsing, sitemap
    // image-extension extraction, the URL filter chain and metadata
    // transfer; the emitted outlinks aggregate into a per-target
    // inventory with sub-sitemap / feed / image-extension counts read
    // back off the outlink metadata the stage attached.
    "q95_sitemap_inventory" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      def mod(n: Int, off: Int = 0) = ((col("doc_id") + off) % n).cast("string")
      val urlsetTarget = (j: Int) =>
        concat(lit("https://h"), mod(20), lit(".example.com/s/"), mod(50, j))
      val urlEntry = (j: Int) => concat(lit("<url><loc>"), urlsetTarget(j), lit("</loc>"),
        if (j == 0) lit("<image:image><image:loc>https://img.example.com/i.png</image:loc></image:image>")
        else lit(""), lit("</url>"))
      val urlset = concat(
        lit("<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\" " +
          "xmlns:image=\"http://www.google.com/schemas/sitemap-image/1.1\">"),
        urlEntry(0), urlEntry(1), urlEntry(2), lit("</urlset>"))
      val smindex = concat(
        lit("<sitemapindex xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">"),
        lit("<sitemap><loc>https://"), col("source"), lit(".example.com/sm/"),
        col("doc_id").cast("string"), lit("/a.xml</loc></sitemap>"),
        lit("<sitemap><loc>https://"), col("source"), lit(".example.com/sm/"),
        col("doc_id").cast("string"), lit("/b.xml</loc></sitemap></sitemapindex>"))
      val feedTarget = (j: Int) =>
        concat(lit("https://h"), mod(20), lit(".example.com/f/"), mod(50, j))
      val feed = concat(
        lit("<rss version=\"2.0\"><channel>"),
        lit("<item><link>"), feedTarget(0), lit("</link><title>"), col("lang"),
        lit(" post</title></item>"),
        lit("<item><link>"), feedTarget(1), lit("</link><title>"), col("lang"),
        lit(" more</title></item></channel></rss>"))
      val body = when(col("doc_id") % 10 === 0, smindex)
        .when(col("doc_id") % 10 === 5, feed)
        .otherwise(urlset)
      val fetched = docs.select(
        concat(lit("https://"), col("source"), lit(".example.com/sitemap/"),
          col("doc_id").cast("string"), lit(".xml")).as("url"),
        encode(body, "UTF-8").as("content"),
        lit("application/xml").as("content_type"),
        lit(null).cast("map<string,array<string>>").as("metadata"),
        lit(graft.model.Status.Fetched).as("status"))
      graft.parse.ParseStage.parse(fetched)
        .where(col("kind") === "outlink")
        .groupBy(col("target_url"))
        .agg(count(lit(1)).as("n_refs"),
          sum(when(element_at(col("metadata"), "isSitemap").isNotNull, 1L)
            .otherwise(0L)).as("n_sub"),
          sum(when(element_at(col("metadata"), "isFeed").isNotNull, 1L)
            .otherwise(0L)).as("n_feed"),
          sum(when(element_at(col("metadata"), "sitemap.image").isNotNull, 1L)
            .otherwise(0L)).as("n_img"),
          array_join(sort_array(collect_set(col("anchor"))), "|").as("anchors"))
        // top-K bounds the output independent of SF: the sub-sitemap
        // targets are doc_id-keyed (one per smindex doc — O(corpus)
        // rows, 12 M at sf100), so an unbounded ORDER BY target_url
        // was a full range-sort of an SF-proportional inventory. The
        // shared urlset/feed targets carry the reference mass
        // (n_refs ≫ 1); (n_refs DESC, target_url) is a total order,
        // and limit-after-orderBy plans TakeOrderedAndProject — the
        // q09 precedent.
        .orderBy(col("n_refs").desc, col("target_url")).limit(1000)
    }),

    // AdaptiveScheduler THROUGH THE MERGE (`AdaptiveScheduler.java:
    // 140-318`): two fetch rounds against an adaptive store. Round 1
    // fetches every URL with a content signature (no stored signature
    // yet ⇒ "changed" ⇒ interval shrinks from the 1440-min default to
    // 720). Round 2 drives all three change-detection paths: same
    // signature (grow ×1.5 → 1080), changed signature (shrink ×0.5 →
    // 360), and HTTP 304 with no body signature (grow → 1080). The
    // stored fetchInterval metadata and the next_fetch_date the store
    // computed are the verified surface.
    "q96_adaptive_merge" -> ((s, dir) => {
      import java.sql.Timestamp
      val t0 = Timestamp.valueOf("2026-02-01 00:00:00")
      val t1 = Timestamp.valueOf("2026-02-02 00:00:00")
      val store = new graft.frontier.FrontierStore(
        graft.tools.Scratch.dir("graft_q96_").toString,
        adaptive = Some(graft.frontier.AdaptiveScheduler()))
      val docs = t(s, dir, "documents").where(col("doc_id") % 11 === 0)
        .select(col("doc_id"),
          concat(lit("https://a"), (col("doc_id") % 10).cast("string"),
            lit(".example.com/x/"), col("doc_id").cast("string")).as("url"))
      val sig1 = concat(lit("s"), col("doc_id").cast("string"))
      store.merge(s, docs.select(col("url"),
        lit(graft.model.Status.Fetched).as("status"),
        map(lit("signature"), array(sig1)).as("metadata")), t0)
      val sig2 = when(col("doc_id") % 3 === 0, sig1)
        .otherwise(concat(sig1, lit("x")))
      store.merge(s, docs.select(col("url"),
        lit(graft.model.Status.Fetched).as("status"),
        when(col("doc_id") % 3 === 2,
            map(lit("fetch.statusCode"), array(lit("304"))))
          .otherwise(map(lit("signature"), array(sig2))).as("metadata")), t1)
      store.read(s)
        .select((regexp_extract(col("url"), "x/([0-9]+)", 1).cast("long") % 3)
            .as("sig_class"),
          element_at(col("metadata"), "fetchInterval").getItem(0)
            .cast("int").as("interval_mins"),
          col("next_fetch_date"))
        .groupBy("sig_class", "interval_mins", "next_fetch_date")
        .agg(count(lit(1)).as("n"))
        .orderBy("sig_class", "interval_mins", "next_fetch_date")
    }),

    // HybridSpout's per-queue REFILL against the real store
    // (`external/opensearch/.../HybridSpout.java:53,146-216`): keyset
    // pagination — each queue hands back its last-seen due date and the
    // store returns the next `perKey` due URLs STRICTLY after it. Two
    // fetch rounds at different times give every host two due-date
    // cohorts (doc_id%20 decorrelates the round split from the %10
    // host split); even-host cursors sit exactly ON the first cohort's
    // due date (strict > must exclude it — the no-duplicate-emission
    // property pagination exists for), odd-host cursors start from
    // scratch and page through both cohorts.
    "q97_refill_cursor" -> ((s, dir) => {
      import java.sql.Timestamp
      val t0 = Timestamp.valueOf("2026-03-01 00:00:00")
      val t1 = Timestamp.valueOf("2026-03-01 06:00:00")
      val now = Timestamp.valueOf("2026-03-03 12:00:00")
      val store = new graft.frontier.FrontierStore(
        graft.tools.Scratch.dir("graft_q97_").toString)
      val emptyMd = lit(null).cast("map<string,array<string>>")
      val docs = t(s, dir, "documents").select(col("doc_id"),
        concat(lit("https://q"), (col("doc_id") % 10).cast("string"),
          lit(".example.com/r/"), col("doc_id").cast("string")).as("url"))
      def fetched(d: DataFrame) = d.select(col("url"),
        lit(graft.model.Status.Fetched).as("status"), emptyMd.as("metadata"))
      store.merge(s, fetched(docs.where(col("doc_id") % 20 < 10)), t0)
      store.merge(s, fetched(docs.where(col("doc_id") % 20 >= 10)), t1)
      val cursor = s.range(10).select(
        concat(lit("q"), col("id").cast("string"), lit(".example.com")).as("key"),
        when(col("id") % 2 === 0, lit(Timestamp.valueOf("2026-03-02 00:00:00")))
          .otherwise(lit(t0)).cast("timestamp_ntz").as("last_seen"))
      store.refill(s, cursor, now, perKey = 4)
        .select(col("key"), col("url"), col("next_fetch_date"))
        .orderBy("key", "url")
    }),

    // PriorityURLBuffer's acks-resorted key order through the real
    // selection ladder (`persistence/urlbuffer/PriorityURLBuffer.java:
    // 40,97-106`): a (key, priority) frame — recent ack counts in the
    // reference — reorders which queues selectBatch polls first. All
    // due dates tie, so WITHOUT the priority frame key order would be
    // lexicographic; the oracle proves the priority ladder (desc, ties
    // by key) actually picked the top-5 keys, then the per-key top-6 /
    // global-25 truncation ran in (key, rn) order as documented.
    "q98_priority_select" -> ((s, dir) => {
      import java.sql.Timestamp
      val t0 = Timestamp.valueOf("2026-04-01 00:00:00")
      val t1 = Timestamp.valueOf("2026-04-02 00:00:00")
      val store = new graft.frontier.FrontierStore(
        graft.tools.Scratch.dir("graft_q98_").toString)
      val docs = t(s, dir, "documents").select(
        concat(lit("https://q"), (col("doc_id") % 10).cast("string"),
          lit(".example.com/p/"), col("doc_id").cast("string")).as("url"))
      store.merge(s, docs.select(col("url"),
        lit(graft.model.Status.Discovered).as("status"),
        lit(null).cast("map<string,array<string>>").as("metadata")), t0)
      val pr = s.range(10).select(
        concat(lit("q"), col("id").cast("string"), lit(".example.com")).as("key"),
        ((col("id") * 3) % 7).as("priority"))
      store.selectBatch(s, t1, perBucket = 6, maxKeys = 5, limit = 25,
          keyPriority = Some(pr))
        .select(col("key"), col("url"), col("next_fetch_date"))
        .orderBy("key", "url")
    }),

    // Error escalation INTO the deletion stream (`AbstractStatusUpdater
    // Bolt.java:139-242,269-272`, `DeletionBolt.java:58`): three merge
    // rounds drive the error-count ladder — class 0 fails all three
    // rounds (count 3 ≥ maxFetchErrors ⇒ ERROR, rescheduled at the
    // reference's 44640-min/31-day error backoff),
    // class 1 fails twice then succeeds (a FETCH resets the count to 0),
    // class 2 fails once and is left alone (count 1, retry at t0+2h).
    // `deletions()` must emit exactly the ERROR rows — the doc ids an
    // index sink tombstones — verified via the to_delete flag.
    "q99_error_deletions" -> ((s, dir) => {
      import java.sql.Timestamp
      val t0 = Timestamp.valueOf("2026-05-01 00:00:00")
      val t1 = Timestamp.valueOf("2026-05-01 12:00:00")
      val t2 = Timestamp.valueOf("2026-05-02 00:00:00")
      val store = new graft.frontier.FrontierStore(
        graft.tools.Scratch.dir("graft_q99_").toString)
      val emptyMd = lit(null).cast("map<string,array<string>>")
      val docs = t(s, dir, "documents").where(col("doc_id") % 7 === 0)
        .select(col("doc_id"),
          concat(lit("https://e"), (col("doc_id") % 10).cast("string"),
            lit(".example.com/d/"), col("doc_id").cast("string")).as("url"))
      def res(d: DataFrame, st: String) = d.select(col("url"),
        lit(st).as("status"), emptyMd.as("metadata"))
      import graft.model.Status
      store.merge(s, res(docs, Status.FetchError), t0)
      store.merge(s, res(docs.where(col("doc_id") % 3 =!= 2), Status.FetchError), t1)
      store.merge(s,
        res(docs.where(col("doc_id") % 3 === 0), Status.FetchError)
          .unionByName(res(docs.where(col("doc_id") % 3 === 1), Status.Fetched)), t2)
      val del = store.deletions(s).select(col("url"), lit(1).as("to_delete"))
      store.read(s).join(del, Seq("url"), "left")
        .select(col("url"), col("status"), col("error_count"),
          col("next_fetch_date"), coalesce(col("to_delete"), lit(0)).as("to_delete"))
        .orderBy("url")
    }),

    // Content-cache round-trip THROUGH THE REAL ContentStore — the S3
    // cache-bolt surface (`external/aws/.../s3/S3Cacher.java:38`,
    // `S3CacheChecker.java:42`) under the oracle gate: two capture
    // rounds (the second supersedes a quarter of the digests with v2
    // bodies), then `split` checks a fetch batch against the store
    // with a freshness horizon that admits ONLY the round-2 captures —
    // hits must carry the NEWEST body (append-only supersede) and
    // stale/never-captured URLs must come back as misses to re-fetch.
    "q100_content_cache" -> ((s, dir) => {
      import java.sql.Timestamp
      val t0 = Timestamp.valueOf("2026-06-01 00:00:00")
      val t1 = Timestamp.valueOf("2026-06-02 00:00:00")
      val asOf = Timestamp.valueOf("2026-06-02 01:00:00")
      val cs = new graft.fetch.ContentStore(
        graft.tools.Scratch.dir("graft_q100_").toString)
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"),
        concat(lit("https://c"), (col("doc_id") % 10).cast("string"),
          lit(".example.com/a/"), col("doc_id").cast("string")).as("url"))
      cs.store(docs.where(col("doc_id") % 2 === 0).select(col("url"),
        encode(col("text"), "UTF-8").as("content"),
        lit(t0).cast("timestamp_ntz").as("fetch_time")))
      cs.store(docs.where(col("doc_id") % 4 === 0).select(col("url"),
        encode(concat(col("text"), lit("v2")), "UTF-8").as("content"),
        lit(t1).cast("timestamp_ntz").as("fetch_time")))
      val batch = docs.where(col("doc_id") % 3 === 0).select(col("url"))
      // 2 h horizon at asOf: round-1 captures (25 h old) are stale
      val (hits, misses) = cs.split(s, batch,
        maxAgeMs = Some(2L * 3600 * 1000), asOfMs = asOf.getTime)
      hits.select(col("url"), lit("hit").as("kind"),
          md5(col("content")).as("digest"), col("cached_at"))
        .unionByName(misses.select(col("url"), lit("miss").as("kind"),
          lit(null).cast("string").as("digest"),
          lit(null).cast("timestamp_ntz").as("cached_at")))
        .orderBy("url")
    })
  )

  val oracles: Map[String, String] = Map(
    // The whole cycle re-derived relationally: seed state (all
    // DISCOVERED, due at t0), the selection ladder (top-10 keys by
    // earliest due date then key, per-key top-8 by (due, url), global
    // limit 50 in (key_min, key, rn) order — all due dates tie at t0
    // so the ladder reduces to lexicographic ranks), the fetch
    // simulation, and the merge precedence ladder: incoming
    // non-DISCOVERED (rank 0) > existing (rank 1) > incoming
    // DISCOVERED (rank 2); FETCH_ERROR sums error counts (< 3 here,
    // no escalation); survivors keep their stored schedule, fresh
    // results re-schedule per DefaultScheduler at t2.
    "q94_crawl_cycle" ->
      s"""WITH sv AS (${Tables.statusViewSql}),
         |f0 AS (SELECT url, key FROM sv WHERE event_id % 3 = 0),
         |tk AS (SELECT key FROM (
         |    SELECT key, row_number() OVER (ORDER BY key) AS kr
         |    FROM (SELECT DISTINCT key FROM f0) dk) rk WHERE kr <= 10),
         |rk AS (SELECT f0.url, f0.key,
         |        row_number() OVER (PARTITION BY f0.key ORDER BY f0.url) AS rn
         |       FROM f0 JOIN tk USING (key)),
         |batch AS (SELECT url, key FROM (
         |    SELECT url, key, row_number() OVER (ORDER BY key, rn) AS gr
         |    FROM rk WHERE rn <= 8) g WHERE gr <= 50),
         |res AS (SELECT url, key,
         |         CASE CAST(regexp_extract(url, 'page/([0-9]+)', 1) AS BIGINT) % 5
         |           WHEN 3 THEN 'FETCH_ERROR' WHEN 4 THEN 'REDIRECTION'
         |           ELSE 'FETCHED' END AS status
         |        FROM batch),
         |inc AS (SELECT url, key, status FROM res
         |        UNION ALL SELECT url || '/out/1', key, 'DISCOVERED' FROM res WHERE status = 'FETCHED'
         |        UNION ALL SELECT url, key, 'DISCOVERED' FROM res WHERE status = 'REDIRECTION'
         |        UNION ALL SELECT url, key, 'DISCOVERED' FROM sv WHERE event_id % 9 = 0),
         |allr AS (SELECT url, key, 'DISCOVERED' AS status,
         |           TIMESTAMP '2026-01-01 00:00:00' AS next_fetch_date,
         |           0 AS ec, 0 AS incoming FROM f0
         |         UNION ALL
         |         SELECT url, key, status, NULL,
         |           CASE WHEN status = 'FETCH_ERROR' THEN 1 ELSE 0 END, 1 FROM inc),
         |m AS (SELECT *, row_number() OVER (PARTITION BY url ORDER BY
         |        CASE WHEN incoming = 1 AND status <> 'DISCOVERED' THEN 0
         |             WHEN incoming = 0 THEN 1 ELSE 2 END, status) AS rn,
         |        sum(ec) OVER (PARTITION BY url) AS te FROM allr),
         |srv AS (SELECT url, key,
         |         CASE WHEN status = 'FETCH_ERROR' AND te >= 3 THEN 'ERROR'
         |              ELSE status END AS status,
         |         next_fetch_date FROM m WHERE rn = 1),
         |sched AS (SELECT url, key, status,
         |    COALESCE(next_fetch_date, CASE status
         |      WHEN 'FETCHED'     THEN TIMESTAMP '2026-01-01 02:00:00' + INTERVAL 1440 MINUTE
         |      WHEN 'REDIRECTION' THEN TIMESTAMP '2026-01-01 02:00:00' + INTERVAL 1440 MINUTE
         |      WHEN 'FETCH_ERROR' THEN TIMESTAMP '2026-01-01 02:00:00' + INTERVAL 120 MINUTE
         |      WHEN 'ERROR'       THEN TIMESTAMP '2026-01-01 02:00:00' + INTERVAL 44640 MINUTE
         |      ELSE TIMESTAMP '2026-01-01 02:00:00' END) AS next_fetch_date
         |  FROM srv)
         |SELECT key, status, count(*) AS n,
         |  min(next_fetch_date) AS min_next, max(next_fetch_date) AS max_next
         |FROM sched GROUP BY key, status ORDER BY key, status""".stripMargin,

    // What the parse stage must discover, re-derived from the
    // generator arithmetic: urlset docs emit 3 entries (first carries
    // an image extension), index docs emit 2 sub-sitemaps (flagged
    // isSitemap), feed docs emit 2 titled items (flagged isFeed).
    "q95_sitemap_inventory" ->
      """WITH d AS (SELECT doc_id, lang, source FROM documents),
        |u AS (SELECT 'https://h' || CAST(doc_id % 20 AS VARCHAR) || '.example.com/s/' ||
        |        CAST((doc_id + j) % 50 AS VARCHAR) AS target_url,
        |        '' AS anchor, 0 AS is_sub, 0 AS is_feed,
        |        CASE WHEN j = 0 THEN 1 ELSE 0 END AS has_img
        |      FROM d, unnest([0, 1, 2]) t(j) WHERE doc_id % 10 NOT IN (0, 5)),
        |i AS (SELECT 'https://' || source || '.example.com/sm/' ||
        |        CAST(doc_id AS VARCHAR) || sx AS target_url,
        |        '' AS anchor, 1 AS is_sub, 0 AS is_feed, 0 AS has_img
        |      FROM d, unnest(['/a.xml', '/b.xml']) t(sx) WHERE doc_id % 10 = 0),
        |f AS (SELECT 'https://h' || CAST(doc_id % 20 AS VARCHAR) || '.example.com/f/' ||
        |        CAST((doc_id + j) % 50 AS VARCHAR) AS target_url,
        |        lang || CASE WHEN j = 0 THEN ' post' ELSE ' more' END AS anchor,
        |        0 AS is_sub, 1 AS is_feed, 0 AS has_img
        |      FROM d, unnest([0, 1]) t(j) WHERE doc_id % 10 = 5),
        |a AS (SELECT * FROM u UNION ALL SELECT * FROM i UNION ALL SELECT * FROM f)
        |SELECT target_url, count(*) AS n_refs,
        |  CAST(sum(is_sub) AS BIGINT) AS n_sub,
        |  CAST(sum(is_feed) AS BIGINT) AS n_feed,
        |  CAST(sum(has_img) AS BIGINT) AS n_img,
        |  array_to_string(list(DISTINCT anchor ORDER BY anchor), '|') AS anchors
        |FROM a GROUP BY target_url
        |ORDER BY n_refs DESC, target_url LIMIT 1000""".stripMargin,

    // The adaptive ladder as arithmetic: round 1 has no stored
    // signature (⇒ changed): greatest(1440·0.5, 60) = 720. Round 2:
    // unchanged/304 grow least(720·1.5, 10080) = 1080; changed shrinks
    // greatest(720·0.5, 60) = 360; next_fetch_date = t1 + interval.
    "q96_adaptive_merge" ->
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 11 = 0),
        |c AS (SELECT doc_id % 3 AS sig_class,
        |        CAST(CASE WHEN doc_id % 3 = 1
        |             THEN greatest(greatest(1440 * 0.5, 60) * 0.5, 60)
        |             ELSE least(greatest(1440 * 0.5, 60) * 1.5, 10080) END AS INT)
        |          AS interval_mins
        |      FROM d)
        |SELECT sig_class, interval_mins,
        |  TIMESTAMP '2026-02-02 00:00:00' + interval_mins * INTERVAL 1 MINUTE
        |    AS next_fetch_date,
        |  count(*) AS n
        |FROM c GROUP BY sig_class, interval_mins
        |ORDER BY sig_class, interval_mins, next_fetch_date""".stripMargin,

    // Keyset pagination re-derived: both fetch rounds schedule
    // now+1440min (round 1 due 03-02 00:00, round 2 due 03-02 06:00);
    // the cursor filter is STRICTLY after last_seen, then per-key
    // top-4 by (due, url).
    "q97_refill_cursor" ->
      """WITH d AS (SELECT
        |    'https://q' || CAST(doc_id % 10 AS VARCHAR) || '.example.com/r/' ||
        |      CAST(doc_id AS VARCHAR) AS url,
        |    'q' || CAST(doc_id % 10 AS VARCHAR) || '.example.com' AS key,
        |    CASE WHEN doc_id % 20 < 10 THEN TIMESTAMP '2026-03-02 00:00:00'
        |         ELSE TIMESTAMP '2026-03-02 06:00:00' END AS next_fetch_date
        |  FROM documents),
        |c AS (SELECT 'q' || CAST(i AS VARCHAR) || '.example.com' AS key,
        |    CASE WHEN i % 2 = 0 THEN TIMESTAMP '2026-03-02 00:00:00'
        |         ELSE TIMESTAMP '2026-03-01 00:00:00' END AS last_seen
        |  FROM range(10) t(i)),
        |r AS (SELECT d.key AS key, url, next_fetch_date,
        |    row_number() OVER (PARTITION BY d.key ORDER BY next_fetch_date, url) AS rn
        |  FROM d JOIN c ON d.key = c.key WHERE next_fetch_date > last_seen)
        |SELECT key, url, next_fetch_date FROM r WHERE rn <= 4 ORDER BY key, url""".stripMargin,

    // The priority ladder re-derived: top-5 keys by (priority DESC,
    // key), per-key top-6 by url (all due dates tie at the seed t0),
    // global limit 25 in (key, rn) order.
    "q98_priority_select" ->
      """WITH d AS (SELECT
        |    'https://q' || CAST(doc_id % 10 AS VARCHAR) || '.example.com/p/' ||
        |      CAST(doc_id AS VARCHAR) AS url,
        |    'q' || CAST(doc_id % 10 AS VARCHAR) || '.example.com' AS key
        |  FROM documents),
        |p AS (SELECT 'q' || CAST(i AS VARCHAR) || '.example.com' AS key,
        |    (i * 3) % 7 AS pr FROM range(10) t(i)),
        |tk AS (SELECT key FROM (
        |    SELECT key, row_number() OVER (ORDER BY pr DESC, key) AS kr FROM p) x
        |  WHERE kr <= 5),
        |r AS (SELECT key, url,
        |    row_number() OVER (PARTITION BY key ORDER BY url) AS rn
        |  FROM d JOIN tk USING (key)),
        |g AS (SELECT key, url, rn, row_number() OVER (ORDER BY key, rn) AS gr
        |  FROM r WHERE rn <= 6)
        |SELECT key, url, TIMESTAMP '2026-04-01 00:00:00' AS next_fetch_date
        |FROM g WHERE gr <= 25 ORDER BY key, url""".stripMargin,

    // The escalation ladder as arithmetic: class 0 accumulates 3
    // errors (⇒ ERROR, rescheduled at the 44640-min error backoff,
    // tombstoned), class 1's final FETCH resets the count and
    // reschedules at t2+1440, class 2 holds its round-1 state
    // (count 1, retry t0+120).
    "q99_error_deletions" ->
      """WITH d AS (SELECT doc_id % 3 AS cls,
        |    'https://e' || CAST(doc_id % 10 AS VARCHAR) || '.example.com/d/' ||
        |      CAST(doc_id AS VARCHAR) AS url
        |  FROM documents WHERE doc_id % 7 = 0)
        |SELECT url,
        |  CASE cls WHEN 0 THEN 'ERROR' WHEN 1 THEN 'FETCHED'
        |       ELSE 'FETCH_ERROR' END AS status,
        |  CAST(CASE cls WHEN 0 THEN 3 WHEN 1 THEN 0 ELSE 1 END AS INT) AS error_count,
        |  CASE cls WHEN 0 THEN TIMESTAMP '2026-05-02 00:00:00' + INTERVAL 44640 MINUTE
        |       WHEN 1 THEN TIMESTAMP '2026-05-02 00:00:00' + INTERVAL 1440 MINUTE
        |       ELSE TIMESTAMP '2026-05-01 00:00:00' + INTERVAL 120 MINUTE
        |  END AS next_fetch_date,
        |  CAST(CASE cls WHEN 0 THEN 1 ELSE 0 END AS INT) AS to_delete
        |FROM d ORDER BY url""".stripMargin,

    // The cache decision re-derived: batch = doc_id%3=0; only round-2
    // captures (doc_id%4=0, body text||'v2', cached at t1) are inside
    // the 2 h freshness horizon — everything else misses.
    "q100_content_cache" ->
      """WITH d AS (SELECT doc_id, text,
        |    'https://c' || CAST(doc_id % 10 AS VARCHAR) || '.example.com/a/' ||
        |      CAST(doc_id AS VARCHAR) AS url
        |  FROM documents WHERE doc_id % 3 = 0)
        |SELECT url,
        |  CASE WHEN doc_id % 4 = 0 THEN 'hit' ELSE 'miss' END AS kind,
        |  CASE WHEN doc_id % 4 = 0 THEN md5(text || 'v2') END AS digest,
        |  CASE WHEN doc_id % 4 = 0 THEN TIMESTAMP '2026-06-02 00:00:00' END AS cached_at
        |FROM d ORDER BY url""".stripMargin,

    "q92_budget_quota" ->
      s"""WITH sv AS (${Tables.statusViewSql}),
         |d AS (SELECT key, count(*) AS n_due FROM sv WHERE status = 'DISCOVERED' GROUP BY key),
         |t AS (SELECT CAST(sum(n_due) AS BIGINT) AS total FROM d),
         |a AS (SELECT key, n_due, (1000 * n_due) // total AS base,
         |        (1000 * n_due) % total AS rem FROM d, t),
         |lo AS (SELECT 1000 - CAST(sum(base) AS BIGINT) AS leftover FROM a),
         |r AS (SELECT key, n_due, base, row_number() OVER (ORDER BY rem DESC, key) AS rn FROM a)
         |SELECT key, n_due,
         |  CAST(least(base + CASE WHEN rn <= (SELECT leftover FROM lo) THEN 1 ELSE 0 END,
         |             n_due) AS BIGINT) AS quota
         |FROM r ORDER BY key""".stripMargin,

    "q91_drain_plan" ->
      s"""WITH sv AS (${Tables.statusViewSql}),
         |d AS (SELECT key, count(*) AS n_due FROM sv WHERE status = 'DISCOVERED' GROUP BY key),
         |x AS (SELECT key, n_due,
         |        CAST(regexp_extract(key, 'host([0-9]+)', 1) AS INT) % 3 AS r FROM d)
         |SELECT key, n_due,
         |  CAST(CASE r WHEN 0 THEN 2000 ELSE 1000 END AS BIGINT) AS delay_ms,
         |  CAST(n_due * (CASE r WHEN 0 THEN 2000 ELSE 1000 END) AS BIGINT) AS drain_ms
         |FROM x ORDER BY key""".stripMargin,

    // Decision logic inlined per the three constructed rule shapes —
    // the oracle verifies the ENGINE's longest-match/allow-override/
    // specific-group semantics against an independent derivation.
    "q84_robots_batch" ->
      """WITH u AS (SELECT 'h' || CAST(user_id % 20 AS VARCHAR) AS host,
        |        CAST(user_id % 20 AS INT) % 3 AS r,
        |        CASE CAST(event_id % 5 AS INT)
        |          WHEN 0 THEN '/private/x' || CAST(event_id AS VARCHAR)
        |          WHEN 1 THEN '/private/ok/y' || CAST(event_id AS VARCHAR)
        |          WHEN 2 THEN '/tmp/z' || CAST(event_id AS VARCHAR)
        |          WHEN 3 THEN '/page/' || CAST(event_id AS VARCHAR)
        |          ELSE '/' END AS path
        |      FROM events),
        |d AS (SELECT host,
        |        CASE r WHEN 0 THEN NOT (path LIKE '/private%' AND NOT path LIKE '/private/ok%')
        |               WHEN 1 THEN TRUE
        |               ELSE NOT (path LIKE '/tmp%') END AS allowed
        |      FROM u)
        |SELECT host, CAST(sum(CASE WHEN allowed THEN 1 ELSE 0 END) AS BIGINT) AS n_allowed,
        |       CAST(sum(CASE WHEN allowed THEN 0 ELSE 1 END) AS BIGINT) AS n_denied
        |FROM d GROUP BY host ORDER BY host""".stripMargin,

    "q83_anchor_inventory" ->
      """WITH x AS (SELECT 'https://h' || CAST(doc_id % 20 AS VARCHAR) || '.example.com/p/'
        |    || CAST(doc_id % 50 AS VARCHAR) AS target_url,
        |    lang || ' link' AS anchor FROM documents)
        |SELECT target_url, count(*) AS n_refs,
        |  array_to_string(list(DISTINCT anchor ORDER BY anchor), '|') AS anchors
        |FROM x GROUP BY target_url ORDER BY target_url""".stripMargin,

    "q79_snapshot_diff" -> {
      val case_ =
        """CASE event_type WHEN 'purchase' THEN 'FETCHED'
          |     WHEN 'view' THEN 'DISCOVERED' WHEN 'click' THEN 'DISCOVERED'
          |     WHEN 'signup' THEN 'REDIRECTION' ELSE 'FETCH_ERROR' END""".stripMargin
      s"""WITH a AS (SELECT url, status FROM (
         |  SELECT 'p' || CAST(event_id % 400 AS VARCHAR) AS url, $case_ AS status,
         |    row_number() OVER (PARTITION BY event_id % 400 ORDER BY ts DESC, event_id DESC) AS rn
         |  FROM events WHERE user_id % 2 = 0 AND event_id % 400 < 390) x WHERE rn = 1),
         |b AS (SELECT url, status FROM (
         |  SELECT 'p' || CAST(event_id % 400 AS VARCHAR) AS url, $case_ AS status,
         |    row_number() OVER (PARTITION BY event_id % 400 ORDER BY ts DESC, event_id DESC) AS rn
         |  FROM events WHERE user_id % 2 = 1 AND event_id % 400 >= 10) x WHERE rn = 1),
         |d AS (SELECT coalesce(a.url, b.url) AS url,
         |        a.status AS old_status, b.status AS new_status,
         |        CASE WHEN a.url IS NULL THEN 'ADDED' WHEN b.url IS NULL THEN 'REMOVED'
         |             WHEN a.status <> b.status THEN 'CHANGED' ELSE 'SAME' END AS change
         |      FROM a FULL OUTER JOIN b ON a.url = b.url)
         |SELECT url, old_status, new_status, change FROM d
         |WHERE change <> 'SAME' ORDER BY url""".stripMargin
    },

    "q02_frontier_topk" ->
      s"""WITH status_view AS (${Tables.statusViewSql})
         |SELECT key, url, next_fetch_date, rn FROM (
         |  SELECT key, url, next_fetch_date,
         |         row_number() OVER (PARTITION BY key ORDER BY next_fetch_date, url) AS rn
         |  FROM status_view WHERE status = 'DISCOVERED') x
         |WHERE rn <= 3 ORDER BY key, rn""".stripMargin,

    "q03_status_counts" ->
      s"""WITH status_view AS (${Tables.statusViewSql})
         |SELECT status, count(*) AS n FROM status_view GROUP BY status ORDER BY status""".stripMargin,

    "q04_partition_key" ->
      s"""WITH v AS (${Tables.docUrlViewSql}),
         |h AS (SELECT lower(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]+)', 1)) AS host FROM v),
         |hd AS (SELECT host,
         |         CASE WHEN len(string_split(host, '.')) <= 2 THEN host
         |              ELSE array_to_string(string_split(host, '.')[-2:], '.') END AS domain
         |       FROM h)
         |SELECT host, domain, count(*) AS n FROM hd GROUP BY host, domain ORDER BY host""".stripMargin,

    "q05_normalize_url" ->
      """SELECT doc_id,
        |  concat('http://', lower(source), '.example.com/Path/', CAST(doc_id AS VARCHAR), '?b=2') AS url
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q06_filter_chain" ->
      s"""WITH v AS (${Tables.docUrlViewSql})
         |SELECT doc_id, url FROM v
         |WHERE NOT regexp_matches(url, '(?i)\\.(?:gif|jpg|jpeg|png|ico|css|zip|exe|js)$$')
         |  AND NOT regexp_matches(url, '[?*!@=]')
         |  AND regexp_matches(url, '^https?://')
         |ORDER BY doc_id""".stripMargin,

    "q07_schedule" ->
      s"""WITH status_view AS (${Tables.statusViewSql})
         |SELECT url, status,
         |  CASE status
         |    WHEN 'FETCHED'     THEN next_fetch_date + INTERVAL 1440 MINUTE
         |    WHEN 'FETCH_ERROR' THEN next_fetch_date + INTERVAL 120 MINUTE
         |    WHEN 'REDIRECTION' THEN next_fetch_date + INTERVAL 1440 MINUTE
         |    WHEN 'DISCOVERED'  THEN next_fetch_date
         |    ELSE NULL
         |  END AS scheduled
         |FROM status_view ORDER BY url""".stripMargin,

    "q08_merge_dedup" ->
      s"""WITH status_view AS (${Tables.statusViewSql}),
         |v AS (SELECT *, md5(url) AS url_digest FROM status_view),
         |d AS (SELECT status, row_number() OVER (PARTITION BY url_digest ORDER BY next_fetch_date, event_id) AS rn FROM v)
         |SELECT status, count(*) AS n FROM d WHERE rn = 1 GROUP BY status ORDER BY status""".stripMargin,

    "q09_indexer_projection" ->
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS meta_k,
        |  event_type AS doc_type
        |FROM events
        |WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) > 50
        |ORDER BY event_id LIMIT 1000""".stripMargin,

    "q10_outlink_explode" ->
      """SELECT word, count(*) AS cnt FROM (
        |  SELECT unnest(string_split(text, ' ')) AS word FROM documents) w
        |WHERE word <> ''
        |GROUP BY word ORDER BY cnt DESC, word LIMIT 50""".stripMargin,

    "q11_purgatory_antijoin" ->
      s"""WITH status_view AS (${Tables.statusViewSql}),
         |inflight AS (SELECT DISTINCT key AS k FROM status_view
         |             WHERE status = 'FETCH_ERROR' AND event_id % 97 = 0)
         |SELECT key, count(*) AS n FROM status_view v
         |WHERE status = 'DISCOVERED' AND NOT EXISTS (SELECT 1 FROM inflight i WHERE i.k = v.key)
         |GROUP BY key ORDER BY key""".stripMargin,

    "q12_status_from_http" ->
      """WITH c AS (SELECT event_id, CAST(event_id % 5 * 100 + 200 AS INT) AS code FROM events),
        |m AS (SELECT event_id,
        |        CASE WHEN code = 200 OR code = 304 THEN 'FETCHED'
        |             WHEN code >= 300 AND code < 400 THEN 'REDIRECTION'
        |             ELSE 'FETCH_ERROR' END AS status FROM c)
        |SELECT status, count(*) AS n FROM m GROUP BY status ORDER BY status""".stripMargin
  )
}
