package graft.tools

import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.graft.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

import graft.{Bench, Session}

/** Where each query's time goes, measured the way `Bench` measures it:
  * the same session, query selection, warmup, timed action and
  * query-boundary hygiene. One line per (query, rep) splits the wall
  * time into DataFrame construction (eager probes, caches, driver-local
  * solves), planning and execution, with the rep's jobs, stages, tasks,
  * executor CPU, shuffle bytes and spill; its stages follow, indented.
  * The first rep is the cold number, the minimum the steady-state one.
  *
  * Usage: SPARK_GRAFT_SF_DIR=… SPARK_GRAFT_REPS=N
  *   runMain graft.tools.Profile [query-prefix…] [--plans FILE]
  * `--plans FILE` writes the plan artifact (PLANS.md over the whole
  * suite): a header naming the sha, SF dir, cores and reps, then one
  * `## <query>` section per query with its note and its last rep's
  * final adaptive plan; the iterative operators add the pre-execution
  * plans of their pre-pass and round body.
  */
object Profile {
  final case class Stage(id: Int, name: String, tasks: Int, wallMs: Long, cpuNs: Long,
      shuffleRead: Long, shuffleWrite: Long, spill: Long) {
    override def toString: String =
      f"    stage $id%4d $tasks%5d tasks $wallMs%7d ms cpu=${cpuNs / 1e9}%.2fs " +
        s"shuffleR=$shuffleRead shuffleW=$shuffleWrite spill=$spill ${name.take(60)}"
  }

  final case class Rep(query: String, rep: Int, constructS: Double, planS: Double,
      executeS: Double, jobs: Long, stages: Seq[Stage]) {
    private def sum(f: Stage => Long): Long = stages.map(f).sum
    override def toString: String =
      f"$query%-30s rep=$rep total=${constructS + planS + executeS}%.3f construct=$constructS%.3f " +
        f"plan=$planS%.3f execute=$executeS%.3f jobs=$jobs stages=${stages.size} " +
        f"tasks=${sum(_.tasks.toLong)} cpu=${sum(_.cpuNs) / 1e9}%.2fs shuffleR=${sum(_.shuffleRead)} " +
        s"shuffleW=${sum(_.shuffleWrite)} spill=${sum(_.spill)}" +
        stages.map("\n" + _).mkString
  }

  private final class Recorder extends SparkListener {
    val jobs = new AtomicLong
    val stages = new ConcurrentLinkedQueue[Stage]
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val m = si.taskMetrics
      val wallMs = (for (s <- si.submissionTime; c <- si.completionTime) yield c - s).getOrElse(-1L)
      stages.add(Stage(si.stageId, si.name, si.numTasks, wallMs, m.executorCpuTime,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.diskBytesSpilled)): Unit
    }
  }

  /** Each note names the property that makes its query's plan survive a
    * 100× scale-up; the plan file prints it above the plan. */
  private val notes: Map[String, String] = Map(
    "q01_pricing_summary" ->
      "Scan-heavy agg: shipdate filter + 6-column pruning reach the parquet scan (PushedFilters/ReadSchema); partial_sum map-side, one tiny shuffle.",
    "q02_frontier_topk" ->
      "Top-3-due-per-host as the native MIN-K AGGREGATE (MinKByOrdStrAgg), not a window: the row_number spelling local-sorts every queue row under the WindowGroupLimit (26 s warm at sf1000's 10⁹ rows); the bounded ≤k buffer costs one long compare per row, evaluates the url string lazily (the concat ~never runs), and ships ≤3 rows per host per map task through the single hash shuffle. 20.7 s at sf1000, sub-linear.",
    "q08_merge_dedup" ->
      "Merge-dedup ladder: single shuffle on the 16-byte binary md5(url) — the groups are ~all-distinct at scale so NOTHING collapses map-side and the exchange carries ≈ rows × key-width; key width is the only lever (64-char hex sha256 and 32-byte binary sha256 both exhausted this host's scratch at sf1000's 1 B rows; md5 fits). Everything else map-side.",
    "q13_join_revenue" ->
      "Fact-dim joins with PARTIAL AGGREGATION BELOW THE JOIN (a decomposition Catalyst does not derive): the final group keys are order-functional, so lineitem pre-aggregates (decimal partial-sum, count) per l_orderkey before joining orders — the fact shuffle carries one narrow row per order instead of every line item (measured 46.6→30.8 s at sf100; the rest is the scan). customer broadcasts; AQE picks the final join shape.",
    "q18_metadata_transfer" ->
      "MetadataTransfer key projection as ONE native codegen'd expression (TransferKeysExpr — whitelist exact keys + prefix globs, sort, join folded into a single per-row call). The relational spelling evaluated its map_filter lambda per MAP ENTRY through the interpreted higher-order-function path: 51 s at sf100, the suite's largest row; the native form is 4.9 s. Map-only + one tiny aggregate exchange.",
    "q15_latest_per_supplier" ->
      "Latest-per-key as ONE codegen'd hash aggregate: the (shipdate, orderkey, linenumber) tie-break packs into a single BIGINT (numeric order = lexicographic tie-break; ranges fail-fast checked) so the aggregate is max(long) with map-side partials — partial+final HashAggregate, no Sort, no Window (a row_number window would sort all of lineitem — WindowGroupLimit trims the window's OUTPUT, not the sort — and max(struct) falls back to SortAggregate, struct buffers not being UnsafeRow-mutable). The only Sort is the trailing oracle-determinism orderBy. Scales with supplier count, not row count.",
    "q21_minhash_sig" ->
      "MinHash: ONE codegen'd pass per document (native minhash_sig expression) — no explode, no shuffle; the signature stage is a pure map over the corpus.",
    "q22_lsh_pairs" ->
      "LSH pair COUNTS by digest-weight arithmetic — never clique enumeration: digest collapse (fixed-width partial+final HashAggregate on (source, md5(text))) → band self-join on (source, band-key) with ReuseExchange evaluating the collapse side once → distinct digest pairs → Σ wa·wb plus Σ w·(w−1)/2 over two tiny aggregations. The member-pair expansion the enumeration face performs is QUADRATIC in verbatim multiplicity (measured 229 s at sf1000's 10 000-copy mass, 2.5·10¹¹ clique rows); this plan prices the identical answer by distinct texts — every operator after the first scan works on the ~|distinct| digest frame.",
    "q23_simhash" ->
      "SimHash: native single-pass expression per doc feeding a tiny 16-bit-histogram aggregation — the only shuffle carries ≤65536 groups.",
    "q24_jaccard_pairs" ->
      "Exact Jaccard, ADAPTIVE on a verbatim-duplication probe (one xxhash64 count-distinct scan): a unique corpus runs the doc-level pipeline directly; a duplicated one collapses the verbatim mass first — the digest pre-aggregation on (source, md5(text)) carries FIXED-WIDTH columns only (min id + count), partial+final HashAggregate, no corpus Sort, and the representative's text arrives via a join-back on (source, digest, id = rep) (AQE-broadcast when the digest table is small), so tokenize/df-window/self-join price by DISTINCT texts; document frequency is weighted by member counts (the maxDf prune drops exactly what the uncollapsed pipeline would), one exact jaccard per digest pair expands back to member pairs, and same-digest duplicate pairs get the s/(2k−s) value pruning implies. Size-ratio prefilter (division form — cannot drop an exactly-at-threshold pair) cuts candidates at the self-join; ReuseExchange runs the tokenize side once. Both pipelines are spec-pinned bit-identical, so routing is a cost choice, never a correctness one.",
    "q25_cosine_topk" ->
      "Brute-force ANN baseline: query side broadcast (BroadcastNestedLoopJoin) — corpus never shuffles; native dot_d keeps the pair loop primitive; window only over the small scored output.",
    "q30_winnow_fingerprint" ->
      "Winnowing: document-local, so one native pass per row — no posexplode, no per-doc window shuffle; fingerprints are a pure map.",
    "q32_embed_neardup" ->
      "LSH-bucketed near-dup: map-only normalize+bucket (native expressions), then the pair join touches only same-bucket candidates; global top-N via TakeOrderedAndProject.",
    "q36_status_rollup" ->
      "ROLLUP = one Expand + single hash agg with map-side partials — multi-level totals in one pass, no per-level re-scan.",
    "q37_asof_join" ->
      "Backward as-of join: union + tag + ONE running-window pass — a single hash shuffle on the key, no quadratic range-join-then-prune stage.",
    "q38_ivf_topk" ->
      "IVF multi-probe ANN: probe set broadcasts (BroadcastHashJoin on bucket) — the corpus never shuffles; only probed buckets are touched.",
    "q43_binary_extract" ->
      "Binary-document extraction: a pure mapPartitions over the scan (build + parse per doc) — map-only, no shuffle except the presentation sort; 100 TB of PDFs parse embarrassingly parallel.",
    "q44_sessionize" ->
      "Sessionization: ONE hash shuffle on user_id; gap-lag and running session counter share a single Sort + WindowExec pair, and the per-session HashAggregate reuses the same partitioning (partial+final with no exchange between).",
    "q45_stratified_sample" ->
      "Deterministic stratified sample: the id-hash bucket predicate is a codegen'd scan filter — map-only, no RNG state, column pruning intact; the unsampled 99.9% is never materialized.",
    "q46_top_terms" ->
      "TF-IDF-shaped top-k with ZERO corpus-sized shuffles and ZERO sorts: df is vocab-sized (array_distinct dedups (doc,term) map-side, so the df aggregate ships ≤|vocab| rows per task), broadcast to a single mapPartitions that computes tf + top-3 per doc over the scan. The previous window formulation sorted the ~10⁹-row exploded frame twice and died on disk at sf1000; a TypedImperativeAggregate middle ground re-sorted it via ObjectHashAggregate's 128-group partial fallback. Huge-vocab corpora fall back to one hash shuffle by doc + broadcast df join + the native TopKTermsAgg. Face bounded: top-3000 by (doc_id, rank) ⇒ TakeOrderedAndProject.",
    "q53_decontaminate" ->
      "Benchmark decontamination, ADAPTIVE on the dedup family's duplication probe: the eval-set gram table (distinct 4-word shingles via the native single-pass distinct_shingles expression) is PINNED broadcast — eval sets are megabytes by contract, and unhinted size estimation was observed building the exploded CORPUS side instead — and on a unique corpus the doc-level pipeline stays map-only (scan → shingle → explode_outer → BroadcastHashJoin; explode_OUTER dodges InferFiltersFromGenerate, which otherwise pushes two extra full shingle evaluations per doc into the scan) until one per-doc HashAggregate that shuffles HIT rows only. When the physical input is starved (a compact single-row-group corpus pinned the shingle pass to one task), the engine's starved-scan optimizer rule (graft.plans) repartitions the corpus rows just above the scan, below the corpus shingle projection; the broadcast eval side stays unwidened, and the rule is a no-op at cluster scale. On a replicated corpus, texts first collapse to one representative per content digest (fixed-width-only HashAggregate + join-back on id = rep), overlap prices by DISTINCT texts, and per-digest results expand back to members via a broadcast join — spec-pinned bit-identical to the doc-level path.",
    "q55_dup_spans" ->
      "Corpus-internal duplicated-span fraction, ADAPTIVE on the duplication probe: the CPU-dense shingle scan widens when the physical input is starved (r17, no-op at cluster scale), then ONE full-size exchange total — the raw gram table shuffled by gram into the df join — with the df aggregate and the per-doc aggregate both compacted by partial map-side HashAggregates before their exchanges (a boilerplate gram in millions of docs ships as P partial rows, not millions; each doc ships as one row per touched partition). NO broadcast hint: the df table is corpus-sized by construction (unlike q53's eval-set grams), so the join strategy is AQE's call — broadcast at the toy SF shown below, sort-merge at scale, where AQE's skew-join can SPLIT a mega-gram's partition; the equivalent count-over-window formulation was rejected because a window pins all of a boilerplate gram's rows into one sorted partition with no skew remedy. explode_OUTER + inner equi-join drops shingle-less docs with no InferFiltersFromGenerate re-evaluation. On a replicated corpus the digest collapse prices shingling and the gram shuffle by DISTINCT texts; df is recovered exactly as the member-weight sum (identical texts ⇒ identical distinct-gram sets), spec-pinned bit-identical to the doc-level path.",
    "q54_repetition" ->
      "Intra-doc repetition signals: one native rep_stats pass per doc (exact word-2-gram total/distinct/top counts in a HashMap — no sketch) — map-only except the presentation sort; the scan predicate is a cheap trimmed-contains-space check equivalent to n2 > 0, so no second expression evaluation is pushed into the scan. The column-algebra alternative would shuffle every 2-gram occurrence twice.",
    "q56_kmeans" ->
      "Exact-integer k-means (Lloyd): assignment is MAP-ONLY — the k×dim centroid matrix is a plan-time codegen reference object (kmeans_assign), NOT a join side, so the corpus is never shuffled; each round's only exchange is the k-row centroid-update aggregate (partial map-side sums of k×65 longs per partition), and the k-row collect between rounds is bounded by k (documented driver-side set, same contract as the frontier seed batches). All geometry is exact long math over floor(x·2^20)-quantized components: distributed float summation is reduction-order-dependent and one flipped last bit can flip an argmin, so quantization is what makes the fixed point bit-identical on any partitioning — and hash-checkable by the SQL oracle end to end. The final plan below is the summary aggregate over the map-only assignment.",
    "q62_clean_draw" ->
      "The cleaning chain composed — decontaminate-drop (≥50% eval overlap) ∘ exact-dedup-keep ∘ per-lang draw: the corpus is scanned once; the drop list (contaminated docs) and keep list (digest representatives) are corpus-fraction-sized and broadcast under AQE, so the composition adds NO corpus-sized exchange beyond what q53/q20 already pay. This is the operator-reuse contract: every stage is independently hash-verified, and composing them needs no new machinery.",
    "q61_temperature_sample" ->
      "Temperature downsampling: ONE group-cardinality-sized count aggregate derives the min(1, sqrt(cap/n)) rates, PINNED broadcast back onto the corpus (the q53 argument — the corpus side must never be the build side), and the keep decision is the same deterministic id-hash bucket filter as q45 — map-side, no corpus shuffle, no RNG, pruning intact. The rate chain (divide, sqrt, scale, floor) is three correctly-rounded IEEE ops + an exact floor — engine-identical bits, which is why a SQL oracle can hash-verify a SAMPLING operator.",
    "q60_lm_fluency" ->
      "Corpus-trained bigram LM fluency, ADAPTIVE on the duplication probe: ONE corpus-sized exchange (the bigram occurrence table shuffled by gram into the score join — AQE skew-splittable; a window formulation would pin every 'of the' row into one partition); unigram/bigram count aggregates ship map-side partials only, and the score table S(g) = (10^6·B) div U(prefix) is vocabulary-sized, built count-table⋈count-table. Integer division end to end — no float fold, no log — so the model and every per-doc mean are engine-exact (the Clustering quantization argument). On a replicated corpus, tokenize + gram exchange run once per DISTINCT text and counts recover as member-weight sums, bit-identical (spec-pinned).",
    "q58_kmeans_assign" ->
      "Id-level k-means assignments — the surface users JOIN with (q56 verifies the same fixed point's aggregate view): one map-only pass (centroid matrix as a plan-time codegen constant), zero data-dependent exchanges; the trailing sort is oracle-determinism only. At 100 TB the assignment column costs one corpus scan.",
    "q59_semdedup_draw" ->
      "SemDeDup consumed as a KEEP LIST (the exactDedup composability contract): drop ids (distinct larger-id members of qualifying pairs) are a small fraction of the corpus, so the anti-join broadcasts under AQE and the corpus is never shuffled by the keep step; the only full-size exchanges are the ones the SemDeDup pair search already pays (cluster+bucket self-join).",
    "q63_bloom_decontaminate" ->
      "Bloom-prefiltered decontamination, ADAPTIVE on the duplication probe (replicated corpora collapse to distinct texts before shingling, per-digest hits expand back — 30 -> 9.9 s at a 100x-replicated sf10) — the big-eval-set regime where a broadcast hash relation no longer fits: the eval grams ride as a 2^20-BIT array (codegen reference object, 128 KiB — the KmeansAssignExpr pattern), the exploded corpus gram stream (its CPU-dense shingle scan widened when the physical input is starved — r17, no-op at cluster scale) is prefiltered by a MAP-ONLY bloom_contains filter BELOW the exchange, and the pinned sort-merge join confirms survivors exactly. Zero false negatives + exact confirm ⇒ output hash-identical to q53's plain join; at a sub-percent contamination rate ~all of the corpus-gram shuffle (the dominant cost) dies before it ships. The filter build is one pass over the small eval side; set-bit union is commutative, so the bit pattern is partitioning-invariant. Mirrors Spark's own InjectRuntimeFilter as an explicit, unconditional operator.",
    "q64_fuzzy_clean_draw" ->
      "Fuzzy clean draw — q50's connected components reduced to the keep-one-representative contract: the drop list (members that are NOT their component's min label) is cluster-mass-sized, tiny next to the corpus, so the anti-join broadcasts under AQE and the corpus is scanned ONCE; the only heavy exchanges are the ones the CC pair search already pays. Verified against the exact transitive closure (recursive-CTE oracle), not a fixed round count.",
    "q65_pq_topk" ->
      "Product-quantization ANN — the embedding MEMORY scale path (100 TB of float32 cannot sit in executor memory; their m-int codes can, a 32× working-set cut at this geometry): all 8 subspace codebooks train in ONE corpus scan per Lloyd round (explode legs → a single partial-aggregated groupBy of m×kCodes rows — the round's only exchange), encoding is MAP-ONLY with codebooks as plan-time codegen constants, each query precomputes an m×kCodes LUT (query side broadcast), and the scan scores a candidate with m table loads + adds (pq_dist) — no float math, no codebook access in the hot loop. Exact-integer geometry end to end, so the approximate result is bit-exact as a function of the inputs and the SQL oracle hash-verifies codebooks, codes, and distances. Compose with q38's coarse quantizer for full IVF-PQ.",
    "q66_ivfpq_topk" ->
      "IVF-PQ — the production ANN composition at 100 TB: ONE map-only corpus pass derives BOTH the coarse hyperplane bucket and the PQ codes (codebooks + sign matrix as plan-time constants), the per-query probe set (lut × nprobe buckets) broadcasts (BroadcastHashJoin on bucket), and only candidates in probed buckets are LUT-scored (pq_dist — m table loads + adds, no floats). On a bucket-partitioned code table the non-probed partitions prune at the scan, and the scanned bytes are the CODES (~1/32 of the float vectors) — the q38 pruning and the q65 compression multiply. Bit-exact as a function of the inputs; the oracle reproduces buckets, probes, codebooks, codes, and distances.",
    "q67_dsir_topk" ->
      "DSIR importance selection: ONE corpus tokenize+hash pass (r16 — the token stream compacts to per-(doc, bucket) occurrence counts, and BOTH the bucket-count aggregate and the score join consume that fixed-width frame, halving the dominant per-token md5 cost; Σ_tokens wgt ≡ Σ_bkt kx·wgt exactly). The bucket-count working set is the 4096-bucket feature table (map-side partials), the integer-ppm ratio LUT joins back PINNED broadcast (the corpus side must never be a build side — the q53 argument), the per-doc score aggregate runs over the compacted (doc, bucket) rows, and the top-20 is TakeOrderedAndProject — per-partition heaps merged on the driver, never a global sort. ADAPTIVE on the duplication probe: a replicated corpus hashes token features once per DISTINCT text, bucket counts recover as member-weight sums, per-digest scores expand back (77.6 -> 4.8 s at a 100x-replicated sf10). Integer ratios instead of float log sums make the selection ORDER engine-exact, which is what lets a SQL oracle hash-verify an importance sampler.",
    "q68_bpe_merges" ->
      "Distributed BPE vocabulary induction: the corpus is read ONCE — the word-histogram collapse (BPE statistics depend only on the histogram) partial-aggregates map-side to a vocabulary-sized table, and every merge round then runs over the VOCABULARY: one pair-count HashAggregate plus a 1-row argmax collect (the bounded-driver-set contract, k-means edition), so rounds cost O(distinct words) no matter how many bytes were crawled. The double-sentinel token encoding makes the engine-native LTR replace reproduce true BPE non-overlapping merge order byte-identically on both engines. The histogram itself is ADAPTIVE on the duplication probe — replicated corpora collapse by text (the text is the group KEY, so map-side partials compact replicas before the exchange) with word counts as member-weight sums. The final plan is the LocalTableScan of the learned merge table — the real work is the per-round aggregates above it.",
    "q69_embed_decontaminate" ->
      "Embedding-space decontamination — the semantic companion to q53's verbatim n-gram check (paraphrased benchmark leakage survives 13-gram dedup but not an embedding sweep): the eval set is megabytes by contract, normalized once and broadcast, so the corpus side is ONE map-only pass (native l2-normalize + dot per resident eval vector under a BroadcastNestedLoopJoin) and only HIT rows reach the per-vector aggregation, which partial-aggregates map-side. Threshold membership is engine-exact: both sides fold the dot left-to-right in double precision. ADAPTIVE on a duplicate-VECTOR probe (duplicate documents carry duplicate embeddings): with duplicates present the sweep runs once per distinct vector and per-rep results expand back through the vector join (7.5 -> 2.4 s at a 100x-replicated sf10).",
    "q70_range_shard" ->
      "Histogram-based range sharding: a global ntile/row_number would funnel every corpus row through ONE window partition — the canonical scale-killer. Instead the corpus collapses to its key HISTOGRAM (working set = the value domain, map-side partials), the value→shard map is computed by a histogram-sized window (BIGINT cumsum × n div total), and assignment joins that map back BROADCAST — map-only over the corpus, which is never globally sorted. Equal key values always share a shard, so shard sizes are balanced exactly up to value granularity: the same guarantee a sampling range-partitioner gives, made deterministic.",
    "q71_bpe_encode" ->
      "BPE train→apply: both training and encoding run over the WORD HISTOGRAM (BPE statistics depend on nothing else), so the corpus is read once, the merge rounds cost O(distinct words), and applying the merge table prices by distinct words with occurrence totals recovered as count-weighted sums. The top-k materializes bounded (k rows) under the histogram cache, so the final plan is a LocalTableScan — the vocabulary-sized aggregates above it are the real work.",
    "q72_quality_gate" ->
      "Quality-gate composition — the ensemble keep decision a filtering pipeline ships: three independently hash-verified legs (q27 surface quality, q60 bigram-LM fluency, q54 repetition) reduced to doc_id keep lists and composed as joins. The fluency and repetition gates are INTEGER-form (score_s ≥ 33000·n_bigrams; 5·(n2−n2d) < n2), so keep membership is engine-exact; the legs share the corpus scan shapes their parent operators already pinned, and the composition adds only id-list joins (AQE's call — broadcast at corpus-fraction selectivity).",
    "q73_cross_dedup" ->
      "Cross-corpus exact dedup ('drop what the last training run already saw' — the batch face of the DigestLedger contract): the reference side collapses to its DISTINCT digest set (fixed-width, map-side partials) before a LEFT ANTI join, so the build input prices by distinct reference texts; strategy stays AQE's call — broadcast for a small reference set, shuffled-hash/sort-merge when the reference is genuinely corpus-sized, where an anti-join (unlike an IN-subquery rewrite) gets skew handling.",
    "q75_novelty" ->
      "Cross-corpus gram novelty — the incremental-crawl signal (how much of a re-crawl is new content): both sides shingle MAP-ONLY (native distinct-shingle pass + explode_outer, widened when the physical input is starved — r17, no-op at cluster scale), the reference collapses to its distinct gram set, and the novelty check is a LEFT ANTI join — both sides corpus-sized, so strategy is AQE's call with skew-join splitting available (the q55 argument; a broadcast hint here would be WRONG — the reference is not an eval set). Ranking is integer parts-per-million, so top-k membership is engine-exact; the top-k itself is TakeOrderedAndProject.",
    "q76_budget_draw" ->
      "Budgeted uniform draw ('~N tokens per language, drawn uniformly'): the naive formulation — a running-sum window per group over the corpus — sorts every language's rows in ONE partition (languages are few and huge: maximal skew). Instead the corpus collapses to its (group, id-hash-bucket) SIZE histogram (≤ groups×10⁴ rows, map-side partials), the running sum runs over that histogram, and the kept (group, bucket) pairs broadcast back as a map-only join filter. Budget fill is exact at bucket granularity (≤1/10⁴ of the group overshoot — the range-partitioner bound). All BIGINT; the draw order is the deterministic id-hash, so the kept set is a uniform draw reproducible anywhere.",
    "q74_hits" ->
      "Integer HITS, routed like q49 (graft.analytics.Graph): the float formulation L2-normalizes each half-step (order-dependent summation — engine-divergent); here each half-step is an integer sum + exact MAX-rescale (`x·scale div max`), order-equivalent to L2 for ranking and bit-identical at any parallelism, so a SQL oracle hash-checks a power iteration. Driver-small graphs solve locally; big graphs run per-round: two edge⋈score joins over the pre-partitioned edge cache + two aggregations, the 1-row max tables riding back as broadcasts, checkpointed per round.",
    "q77_bfs_depth" ->
      "Min-hop BFS crawl depth, routed like q49 (graft.analytics.Graph): a driver-small graph runs the same level-synchronous BFS locally and the final plan is a LocalTableScan. Big graphs run per-depth rounds over the edge cache pre-partitioned on src: each round joins only the CURRENT frontier (nodes first reached last round — not the whole visited set) and anti-joins visited so first sightings alone survive; per-depth layers checkpoint on the UnsafeRow path, so round d+1 scans a LogicalRDD. The |E|-row edge table never re-exchanges after round 1; per-round moved rows are |frontier|+|new| — at web scale that is the BFS wavefront, not the graph.",
    "q78_containment_pairs" ->
      "Overlap-coefficient (containment) pairs — q24's machinery minus its size-ratio prefilter, which is UNSOUND here (a full quote scores 1.0 at any size ratio, exactly the pairs the operator exists to catch): tokenize once, df-window rides the self-join's own (group, word) exchange, per-doc set sizes attach BEFORE the join so the intersection groupBy carries them in its keys (no post-agg size joins). The skew defenses are the df-prune (a token in d docs fans out d²/2 — ubiquitous tokens are dropped from the JOIN while the min-size denominator still counts them) and the group key. ADAPTIVE on the duplication probe: replicated corpora collapse to digest representatives, pair mass prices by distinct texts, same-digest pairs get the s/k value pruning implies — spec-pinned bit-identical to the direct path.",
    "q79_snapshot_diff" ->
      "Snapshot diff: each epoch's per-key latest-state snapshot reduces BEFORE the diff (row_number window, one shuffle per epoch over epoch-filtered rows), then ADDED/REMOVED/CHANGED classify in ONE key-partitioned full-outer join — null-safe value compare, presence flags as constant columns (no count pre-pass, no second scan). Both sides are snapshot-sized, so no broadcast: sort-merge at scale, and snapshots written with Spark's bucketBy on the key would make the join exchange-free. The batch face of the status-updater merge + AdaptiveScheduler change detection.",
    "q80_postings" ->
      "Posting-list materialization, ADAPTIVE on the duplication probe: shingling is the native codegen'd distinct_shingles expression (r16 — the column-algebra array_distinct(shingles(words(text))) re-evaluated its inline tokenize per transform element, O(words²) interpreted work per doc; measured 30.3 → 6.4 executor task-seconds at sf0.1), the COUNT-ONLY first pass bounds memory (fixed-width HashAggregate with map-side partials — no list grows during it), the df-qualified keep set is rare-term-sized and broadcasts under AQE, and only qualifying (term, doc) rows re-aggregate into sort_array'd collect_sets, each bounded by maxDf ids. On a replicated corpus, shingling and the df aggregate run once per DISTINCT text (df = member-weight sum) and only qualifying terms expand through the digest→member map — bit-identical (spec-pinned). An unbounded postings build wants doc-partitioned index segments (how real engines shard); under the df cap the aggregate state is provably bounded instead.",
    "q90_clean_pipeline" ->
      "The full cleaning recipe composed — exact-dup keep ∘ near-dup best-quality-rep keep ∘ integer quality gate ∘ decontamination drop: the corpus scans once per leg-shape its parent operators already pinned (digest agg, adaptive CC pair search, one-pass quality natives, pinned eval-gram broadcast), and the COMPOSITION itself adds only doc-id keep/drop list joins — corpus-fraction-sized, broadcast under AQE. r17 fusions: the three adaptive-routing duplication probes (near-dup on (source,text), decontamination on (text), bench slice on (text)) run as ONE conditional count-distinct scan with the two xxhash64 keys projected once per row (3 full-text probe passes → 1), and the quality gate is INLINED into the survivor scan as the same textStats expressions instead of a joined-back scored frame (one broadcast leg + one full textStats evaluation removed; the inner join on the 1:1 doc_id key ≡ the filter, so gate membership is bit-identical). Jobs 38 → 33 measured; five independently hash-verified stages, zero new exchange classes, one shipped query.",
    "q93_dedup_savings" ->
      "Dedup-savings report: rides q50's adaptive CC (digest collapse, guarded local solve) and adds only two CLUSTER-MASS-sized aggregations (per-comp count → size histogram) — the estimate costs no more than the clustering it prices, and at 100 TB the report rows are the histogram of cluster sizes, i.e. tiny.",
    "q92_budget_quota" ->
      "Fetch-budget apportionment (largest-remainder): the frontier reduces to the per-host QUEUE TABLE first (one shuffle over status-filtered rows), then total and leftover ride back as 1-row broadcasts and the remainder ranking is one window over HOST rows — dim-table-sized by design, never the frontier. Exact integer quotas (Σquota = budget when it fits), deterministic ties — a SQL oracle verifies an apportionment operator.",
    "q91_drain_plan" ->
      "Politeness drain plan: the frontier aggregates to per-host due counts FIRST (one shuffle over status-filtered rows), the robots parse runs on the host-count-sized table only (the q84 asymmetry), and drain time is integer row math. The planning query costs one aggregation no matter how deep the queues are.",
    "q89_centroid_outliers" ->
      "Per-group centroid outliers: ONE dim-explode aggregation (map-side partials; working set = groups × dims fixed-width rows) builds the centroid table, which broadcasts back; distances are a codegen'd zip_with/aggregate over quantized longs (map-only), and the top-k per group is a window over scored rows. Exact-integer geometry (the kmeans argument): float means are reduction-order-dependent, so quantization is what lets a SQL oracle verify the outlier CHOICE at any parallelism.",
    "q81_collocations" ->
      "Integer-PMI collocations, ADAPTIVE on the duplication probe: both token aggregations (unigram, bigram) are pure functions of the text, so a replicated corpus computes them once per DISTINCT text with counts as member-weight sums (bit-identical — floor division is invariant under uniform count scaling, spec-pinned; sf100 5 M docs 16.5 → 11.3 s). NOTHING corpus-sized is cached (an earlier draft cached the token arrays and OOM'd at 5 M docs): only the VOCABULARY-sized unigram table caches, pinned broadcast on both joins, so nothing corpus-sized shuffles except the bigram aggregate itself — map-side partials. assoc = ((c_xy·S) div c_x)·N div c_y in a fixed floor-division order — engine-exact, and its ordering IS true PMI ordering (log is monotone). The 1-row N aggregate is collected once (bounded-driver-set contract).",
    "q87_oov_rate" ->
      "Vocabulary coverage: ONE tokenize pass (r16) — the token stream compacts to per-(lang, word) counts (vocabulary-sized per language, map-side partials), and BOTH the top-V vocabulary (TakeOrdered — per-partition heaps, never a global sort) and the per-lang OOV aggregate consume that frame, so the corpus is exploded once and the OOV join probes vocab×lang rows instead of every token occurrence. Counts recover exactly as sums — bit-identical. oov_ppm is integer floor division: engine-exact.",
    "q88_warc_roundtrip" ->
      "WARC round-trip through the REAL sink and source: foreachPartition writes gzipped WARC shards (warcinfo + HTTP response records — one file per partition, attempt-id-named so speculative retries can't interleave; shard count follows the core count, gzip being single-threaded per shard), the binaryFile source reads them back through the record + HTTP parsers as ONE mapPartitions (map-only; shard-parallel, which is how 100 TB of WARC actually parallelizes — per-FILE, the WARC format having no intra-file split points without an index). The face verifies EVERY recovered body byte-exactly via per-source order-insensitive md5-prefix sums — one output row per source, no O(corpus) sort (measured 31.7→12.5 s at sf100). The only exchange is the tiny per-source aggregate.",
    "q84_robots_batch" ->
      "Batch robots evaluation — parse per HOST, match per URL (the reference caches parsed rules per host for the same asymmetry): the real RobotRules parser runs as a UDF over the host-count-sized rules table ONLY (20 rows here; 10⁵-10⁷ hosts at web scale — still dim-table-sized), the parsed allow/disallow arrays broadcast onto the frontier, and the per-URL longest-match decision is codegen'd column algebra (filter + aggregate over the rule arrays) — no UDF, no parse, no regex on the billion-row side. One broadcast join + one count aggregate; the frontier never shuffles.",
    "q85_cluster_best_rep" ->
      "Best-quality representative per near-dup cluster — keep the BEST copy, not the first: q50's adaptive CC (digest collapse + guarded local solve) joined with q27's one-pass quality score, rep per component via a row_number window over CLUSTER-MASS-sized rows (pair-connected docs only — a corpus-fraction, never the corpus). Quality is computed identically on both engines, so the float ORDER is engine-exact and the oracle verifies rep choice, not just counts.",
    "q86_contamination_attribution" ->
      "Contamination attribution, ADAPTIVE twice over: the eval side collapses to DISTINCT texts before shingling (a replicated eval table would otherwise grow the broadcast linearly and OOM — observed, fixed), the (gram, eval) table broadcasts PINNED (q53's argument — the corpus side must never be the build side), and on a replicated corpus the whole report runs once per DISTINCT corpus text and expands back per member (39 → 6.0 s at a 100×-replicated sf10, spec-pinned identical). The per-key argmax is ONE hash-aggregable BIGINT max — (shared, eval_id) packed as shared·2^32 + (2^32−1−eval_id), numeric order = (shared DESC, eval ASC) — because max(struct) falls back to SortAggregate (the q15 packing argument). Two partial-aggregated exchanges over hit rows; the audit report costs no more than the drop list.",
    "q83_anchor_inventory" ->
      "Anchor inventory through the REAL parse stage: the whole fetch-output → parse path (charset decode, HtmlParser with nofollow semantics, URL filter chain, metadata transfer, outlink cap) runs as ONE mapPartitions over the scan — per-document work, embarrassingly parallel, no shuffle until the per-target aggregation (map-side partial count + collect_set bounded by the anchor vocabulary). 100 TB of HTML parses map-only; the inventory exchange carries aggregated target rows.",
    "q82_incremental_recount" ->
      "Incremental recompute — the snapshot-diff operator consumed as a DELTA FILTER: the two corpus versions full-outer-join once on doc_id (null-safe text compare classifies ADDED/CHANGED), and the token counter — a native one-pass expression — runs ONLY over the delta rows, never the unchanged corpus. At 100 TB with a percent-level change rate this is the composition that turns a full re-run into a delta-sized one; the final aggregate is integer-only (count + token sums), map-side partial.",
    "q94_crawl_cycle" ->
      "One full crawl cycle against the real FrontierStore: each merge shuffles ONCE on url_sha256 (the window dedup ladder) and rewrites ONLY the buckets its updates hash into — a micro-batch touching 2% of hosts rewrites 2% of the table; the selection ladder is a host-count-sized key aggregate + broadcast topKeys join (never a global window over URL rows), and the due-date filter prunes parquet files by next_fetch_date min/max stats before anything shuffles. The final plan is the per-(key,status) summary over the store read.",
    "q95_sitemap_inventory" ->
      "Sitemap/feed discovery through the REAL parse stage: content sniffing, XML parse, extension extraction, filter chain and metadata transfer run as ONE mapPartitions over the scan — per-document, embarrassingly parallel; the only exchange is the per-target inventory aggregate (map-side partial count + bounded collect_set). The presentation face is top-1000 by (n_refs DESC, target_url) — TakeOrderedAndProject, NOT a global sort: the sub-sitemap targets are doc_id-keyed (O(corpus) distinct keys, 12 M at sf100), so an unbounded ORDER BY was an SF-proportional range-sort. 100 TB of sitemaps parse map-only.",
    "q96_adaptive_merge" ->
      "AdaptiveScheduler through the merge: the stored signature/interval ride the merge's ONE url_sha256 shuffle as window-carried columns (old_sig/old_interval over the same partition), so change detection adds ZERO exchanges to the upsert; interval arithmetic is exact (greatest/least over minutes), which is why a SQL oracle can hash the stored schedule.",
    "q97_refill_cursor" ->
      "HybridSpout refill (keyset pagination): the cursor is one row per ACTIVE QUEUE — dim-table-sized by contract — and broadcasts; the due filter prunes not-due parquet files at the scan, and the strictly-after pagination predicate is applied BELOW the single per-key window shuffle, so each poll moves only rows past the cursor, never the queue history. Pagination beats OFFSET at scale because the skip never re-reads.",
    "q98_priority_select" ->
      "PriorityURLBuffer key ordering through the selection ladder: the (key, priority) acks frame is one row per active key and broadcasts onto the host-count-sized key aggregate — re-prioritizing queues costs a dim-join, the frontier itself only shuffles in the per-key top-K window over the ≤ maxKeys SURVIVING keys. Changing poll order at 10⁷ hosts never touches URL rows outside the selected keys.",
    "q100_content_cache" ->
      "Content-cache check through the REAL ContentStore: the crawl BATCH is the bounded side (frontier selection limit) so its digests broadcast into a left-semi join against the store — never the store's digest set into the batch — and the store scan is pre-pruned to the batch's ≤16 shard partitions, so the newest-capture window runs over the semi-joined sliver only. At 100 TB of captured content a cache check prices by the BATCH, not the store.",
    "q99_error_deletions" ->
      "Error escalation into the deletion stream: the error-count ladder rides the merge's one url_sha256 shuffle (sum-over-window + threshold CASE — no extra exchange), and deletions() is a status-filtered scan of the store (map-only). The tombstone feed an index sink consumes costs one filtered scan, not a table diff.",
    "q49_pagerank" ->
      "Fixed-point PageRank through the graph solvers' one route (graft.analytics.Graph, shared with q74, q77 and q50's CC): when the distinct edge list fits on the driver the SAME BIGINT recurrence runs locally (bit-identical, GraphRouteSpec) and the final plan is a LocalTableScan. Big graphs run 3 materialized distributed rounds: each round is the `round body` plan below — rank⋈edges join + dst aggregation, a |V|-row anti-join aggregate for the dangling mass cross-joined back as a 1-row broadcast — checkpointed on the UnsafeRow path (Iterate.checkpoint) so round N+1 scans a LogicalRDD instead of re-deriving round N; the final plan is just the sort over the last checkpoint. Edges are cached pre-partitioned/pre-sorted on src, so per-round only the |V|-row rank side moves. BIGINT div-before-sum keeps ranks order-independent (engine-exact).",
    "q50_neardup_components" ->
      "Pair clustering to convergence, ADAPTIVE twice over: (1) a verbatim-duplication probe picks doc-level pair generation on a unique corpus, or the DIGEST-REPRESENTATIVE collapse on a duplicated one — fixed-width-only pre-aggregation on (source, md5(text)) BEFORE any pair generation (see the `pair generation` plan below — partial+final HashAggregate on the digest, no corpus Sort; the representative's text and its MinHash arrive via a join-back on (source, digest, id = rep), AQE-broadcast when the digest table is small), so pair/CC mass prices by distinct texts, not corpus rows; (2) the symmetrized edge list takes the graph solvers' one route (graft.analytics.Graph, as q49): when it fits on the driver (it is cluster-sparse even on huge corpora) the SAME min-label fixed point is solved locally by union-find — zero per-round jobs — and the distributed loop runs graphs that don't fit. Each CC round is the `round body` plan — self ∪ edge-join ∪ pointer-jump (Shiloach–Vishkin label-of-label) into ONE min-aggregation, checkpointed per round (UnsafeRow path) with the previous label carried through the agg so the convergence count is the same single action; the undirected rep-pair list is cached pre-partitioned/pre-sorted on the join key (zero per-round edge-side exchange), pointer jumping makes rounds O(log diameter). Labels then expand back to every member through the (small, checkpointed) digest→component map. The final plan is the cluster aggregation over that expansion join.")

  /** Pre-checkpoint round bodies for the iterative operators — the
    * plan each loop round actually materializes (the final-plan dump
    * alone would show only a scan of the last checkpoint). Built by
    * the SAME code the loops run, so these cannot drift. */
  private val roundPlans: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q49_pagerank" -> ((s, dir) =>
      graft.analytics.LinkGraph.roundPlan(
        graft.queries.AnalyticsQueries.q49Edges(s, dir))),
    "q50_neardup_components" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      graft.analytics.Dedup.ccRoundPlan(
        graft.analytics.Dedup.repPairs(docs, "doc_id", "text", "source"))
    }),
    "q56_kmeans" -> ((s, dir) =>
      graft.analytics.Clustering.updateRoundPlan(
        s.read.parquet(s"$dir/embeddings.parquet"), "vec_id", "embedding")))

  /** Additional pre-pass plans dumped alongside a query's final plan. */
  private val prePlans: Map[String, (String, (SparkSession, String) => DataFrame)] = Map(
    "q50_neardup_components" -> (("pair generation (digest-collapsed)",
      (s, dir) => graft.analytics.Dedup.repPairs(
        s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text", "source"))))

  /** `name`'s section of the plan file: its note, the final plan of
    * `df` (the rep that just ran), then its pre-pass and round-body
    * plans. */
  private def section(spark: SparkSession, sfDir: String, name: String, df: DataFrame): String = {
    def plan(d: DataFrame) = s"```\n${d.queryExecution.explainString(FormattedMode)}```\n"
    val sb = new StringBuilder(s"\n## $name\n\n")
    notes.get(name).foreach(n => sb.append(s"$n\n\n"))
    sb.append(plan(df))
    for ((title, pp) <- prePlans.get(name))
      sb.append(s"\n### $name — $title\n\n${plan(pp(spark, sfDir))}")
    for (rp <- roundPlans.get(name))
      sb.append(s"\n### $name — round body (pre-checkpoint, one iteration)\n\n${plan(rp(spark, sfDir))}")
    sb.toString
  }

  /** Runs every query `prefixes` selects (all when empty) `reps` times,
    * printing each rep as it completes. */
  def run(spark: SparkSession, sfDir: String, prefixes: Seq[String], reps: Int,
      plans: Option[Path]): Seq[Rep] = {
    val suite = Bench.select(Some(prefixes).filter(_.nonEmpty))
    plans.foreach(Files.writeString(_,
      s"""# PLANS — the final adaptive plans of the SparkEntry queries
         |
         |Written by `graft.tools.Profile --plans` at `${Bench.sourceSha()}` on `$sfDir`,
         |`${spark.sparkContext.master}` (`SPARK_GRAFT_CPUS`), $reps rep(s) per query.
         |Each section holds the query's note (the property that makes its plan
         |survive a scale-up), when it has one, then the last rep's
         |`explain("formatted")`; the iterative operators add the pre-execution
         |plans of their pre-pass and round body.
         |""".stripMargin))
    val rec = new Recorder
    spark.sparkContext.addSparkListener(rec)
    try suite.flatMap { case (name, fn) =>
      (1 to reps).map { rep =>
        // drain first: no event of the previous rep may land after the reset
        ListenerBridge.drain(spark.sparkContext)
        rec.jobs.set(0)
        rec.stages.clear()
        val free0 = graft.Disk.freeGb()
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val t1 = System.nanoTime()
        df.queryExecution.executedPlan
        val t2 = System.nanoTime()
        Bench.execute(df)
        val t3 = System.nanoTime()
        ListenerBridge.drain(spark.sparkContext)
        val r = Rep(name, rep, (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9, rec.jobs.get,
          rec.stages.asScala.toSeq.sortBy(_.id))
        println(r)
        if (rep == reps) plans.foreach(Files.writeString(_, section(spark, sfDir, name, df),
          StandardOpenOption.APPEND))
        Bench.boundary(spark, suite.size, free0)
        r
      }
    } finally spark.sparkContext.removeSparkListener(rec)
  }

  def main(args: Array[String]): Unit = {
    val (prefixes, plans) = args.indexOf("--plans") match {
      case -1 => (args.toSeq, None)
      case i =>
        require(i + 1 < args.length, "--plans needs a file")
        (args.toSeq.patch(i, Nil, 2), Some(Paths.get(args(i + 1))))
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.get("SPARK_GRAFT_REPS").map(_.toInt).getOrElse(2).max(1)
    val spark = Session.local()
    Bench.warmup(spark, sfDir)
    run(spark, sfDir, prefixes, reps, plans)
    spark.stop()
  }
}
