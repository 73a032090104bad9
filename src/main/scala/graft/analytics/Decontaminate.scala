package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Benchmark decontamination for training corpora: flag corpus
  * documents that share word n-grams with an evaluation/benchmark set
  * (the standard overlap check run before LLM training — published as
  * 13-gram dedup in public model reports; the reference crawler has no
  * counterpart, this is the training-data extension of the pipeline).
  *
  * Scale notes (100 TB corpus): the benchmark side is an eval set —
  * megabytes, not terabytes, by contract — so its distinct-gram table
  * carries an explicit broadcast hint and the corpus side stays
  * map-only (tokenize → shingle → explode) until the per-doc
  * aggregation, which shuffles HIT rows only (corpus rows with no
  * benchmark overlap die in the join). Without the hint, size
  * estimation is free to build the EXPLODED CORPUS side instead
  * (observed at sf0.1: BuildLeft on the corpus grams) — harmless on a
  * laptop, an OOM at 100 TB. The hint pins the build side to the one
  * input that does not grow with the corpus.
  *
  * Routed through [[Collapse]] like the dedup family: identical texts
  * have identical overlap, so on a replicated corpus shingling and the
  * gram shuffle run once per DISTINCT text and results expand back to
  * every member.
  *
  * Shingling is the native one-pass
  * [[graft.functions.DistinctShinglesExpr]] with [[Dedup.words]]'
  * single-space split semantics, so the DuckDB oracle reproduces every
  * gram byte-for-byte.
  */
object Decontaminate {

  /** Per-corpus-doc n-gram overlap against `bench`:
    * (doc_id, n_hits, n_shingles, contamination, first_match) with
    * contamination = n_hits / n_shingles over DISTINCT k-word shingles
    * and first_match = the smallest benchmark id owning a shared gram.
    * Docs shorter than k words have no shingles and never appear. The
    * corpus scan is WIDENED: shingling is CPU-dense per row, and a
    * compact single-row-group corpus pins it to one task (measured
    * 0.8 s serial inside q90 at sf0.1 while 31 cores idle). */
  def ngramHits(corpus: DataFrame, bench: DataFrame, idCol: String,
                textCol: String, k: Int): DataFrame =
    hitsOver(Collapse.textUnits(corpus, idCol, textCol),
      Collapse.textUnits(bench, idCol, textCol), k)

  private[graft] def hitsOver(corpus: Collapse.Units, bench: Collapse.Units,
                              k: Int): DataFrame =
    hits(corpus, broadcast(benchGramsOver(bench, k)), k, identity)

  /** [[ngramHits]] for the regime where the eval-gram table has grown
    * past broadcast-hash-relation size (a full benchmark-suite gram
    * table at ~50 bytes/key is tens of GB as a hash relation — not
    * shippable to every executor): build a Bloom filter over the eval
    * grams (`2^log2Bits` BITS total — 128 KiB at the default — riding
    * into the probe task as a codegen reference object), prefilter the
    * exploded corpus grams MAP-ONLY, and confirm the survivors with an
    * exact sort-merge join. Zero false negatives means the output is
    * hash-identical to [[ngramHits]] by construction; the
    * bloom only changes which bytes reach the exchange — at a typical
    * sub-percent contamination rate, ~all of the corpus-gram shuffle
    * (the dominant cost: O(corpus tokens) rows) disappears before it
    * ships. The `merge` hint pins the confirm join to sort-merge so the
    * plan under test IS the at-scale plan (without it, AQE broadcasts
    * the toy-scale eval table and the prefilter demonstrates nothing).
    *
    * The filter build is deterministic regardless of partitioning:
    * set-bit union is commutative, so the bit pattern depends only on
    * the key set. Build cost is one pass over the (small) eval side;
    * the distinct set-bit collect is bounded by the filter size `m`,
    * the same bounded-driver-set contract as the k-means centroid
    * matrix.
    *
    * Mirrors Spark's own `InjectRuntimeFilter` bloom (public source,
    * `spark/sql/catalyst/optimizer/InjectRuntimeFilter.scala`) as an
    * explicit operator: the optimizer rule only fires on selective
    * equi-joins it can cost, while a decontamination pipeline KNOWS the
    * corpus side dwarfs the eval side and wants the filter
    * unconditionally. */
  def ngramHitsBloom(corpus: DataFrame, bench: DataFrame, idCol: String,
                     textCol: String, k: Int, log2Bits: Int = 20,
                     numHash: Int = 5): DataFrame =
    bloomHitsOver(Collapse.textUnits(corpus, idCol, textCol),
      Collapse.textUnits(bench, idCol, textCol), k, log2Bits, numHash)

  private[graft] def bloomHitsOver(corpus: Collapse.Units, bench: Collapse.Units,
                                   k: Int, log2Bits: Int, numHash: Int): DataFrame = {
    import graft.functions.BloomFunctions
    val bg = benchGramsOver(bench, k)
    val setPositions = bg
      .select(explode(BloomFunctions
        .bloomPositions(col("g"), numHash, log2Bits)).as("p"))
      .distinct()
      .collect() // bounded by 2^log2Bits — the filter's own bit count
      .map(_.getInt(0))
    val bits = graft.functions.BloomOps.buildBits(setPositions, log2Bits)
    hits(corpus, bg.hint("merge"), k,
      _.where(BloomFunctions.bloomContains(col("g"), bits, numHash, log2Bits)))
  }

  /** The one body of [[ngramHits]] and [[ngramHitsBloom]]: the
    * per-unit gram stream (after `prefilter`) joined to the eval-gram
    * table `bg`, counted per unit and expanded to documents. */
  private def hits(u: Collapse.Units, bg: DataFrame, k: Int,
                   prefilter: DataFrame => DataFrame): DataFrame = {
    val byKey = prefilter(docGrams(withGs(u.wide, "text", k), "key"))
      .join(bg, "g")
      .groupBy("key", "n_shingles")
      .agg(count(lit(1)).as("n_hits"), min("bench_id").as("first_match"))
    u.expand(byKey, "doc_id")
      .select(col("doc_id").cast("long").as("doc_id"), col("n_hits"), col("n_shingles"),
        (col("n_hits").cast("double") / col("n_shingles").cast("double"))
          .as("contamination"),
        col("first_match"))
  }

  /** (g, bench_id = min owning benchmark id) per distinct eval-set
    * gram. Small by contract — callers broadcast it. A replicated
    * benchmark table (the gen_scale shape — same texts, shifted ids)
    * would otherwise explode one gram row per COPY into the group-by
    * exchange (measured at sf1000: the q53 bench side is ~3.8 M rows of
    * ~5 k distinct texts — a tens-of-GB gram shuffle that spilled the
    * suite to 26.7× for 10× data). No expansion: a unit's key is its
    * min member id, so the min over units is the min over members. */
  private def benchGramsOver(u: Collapse.Units, k: Int): DataFrame =
    u.rows.select(
        explode_outer(graft.functions.TextHashExpressions
          .distinctShingles(col("text"), k)).as("g"),
        col("key").cast("long").as("bench_id"))
      .groupBy("g").agg(min("bench_id").as("bench_id"))


  /** Contamination ATTRIBUTION: for each corpus doc sharing at least
    * `minShared` distinct k-grams with some eval doc, report WHICH
    * eval doc leaked (argmax shared grams, ties to the lowest eval
    * id) and how many eval docs it touches — the audit report a
    * decontamination pipeline ships alongside its drop list: "dirty"
    * is actionable, "contains eval item 1403" is auditable.
    *
    * Scale: eval grams broadcast PINNED (eval sets are megabytes by
    * contract — the q53 argument; the corpus side must never be the
    * build side), the corpus side is one map-only shingle pass, and
    * only HIT rows reach the two aggregations. The per-doc argmax is
    * a single hash-aggregable BIGINT max: (shared, eval_id) packs as
    * `shared · 2^32 + (2^32−1 − eval_id)` — numeric order = (shared
    * DESC, eval_id ASC) lexicographic order — because max(struct)
    * falls back to SortAggregate (the q15 packing argument).
    * Precondition (caller contract, like pagerank's scale): eval ids
    * in [0, 2^32) and shared < 2^31 — shared is bounded by per-doc
    * distinct grams, so any realistic document qualifies. */
  def attribution(corpus: DataFrame, bench: DataFrame, idCol: String,
                  textCol: String, k: Int, minShared: Long = 2L): DataFrame =
    attributionOver(Collapse.textUnits(corpus, idCol, textCol, 0.95),
      bench, idCol, textCol, k, minShared)

  private[graft] def attributionOver(corpus: Collapse.Units, bench: DataFrame,
                                     idCol: String, textCol: String, k: Int,
                                     minShared: Long): DataFrame = {
    // Attribution is over distinct eval ITEMS: verbatim-duplicate eval
    // docs collapse to one canonical (min-id) item BEFORE shingling,
    // so the broadcast prices by distinct eval texts — a replicated
    // eval table (the gen_scale shape: same texts, shifted ids) would
    // otherwise grow the (gram, eval_id) broadcast linearly with the
    // replication factor and OOM exactly when the data gets big
    // (observed at sf10). Reporting the min-id copy is also the right
    // CONTRACT: two identical eval items are one leak, not two.
    val bg = bench
      .select(col(idCol).cast("long").as("eval_id"), col(textCol).as("btext"))
      .groupBy("btext").agg(min("eval_id").as("eval_id"))
      .select(
        explode_outer(graft.functions.TextHashExpressions
          .distinctShingles(col("btext"), k)).as("g"),
        col("eval_id"))
      .where(col("g").isNotNull)
    // the corpus side collapses at 0.95 ([[Collapse.unique]]): the
    // collapse saves the shingle pass and both aggregations per copy
    // (57 → a few seconds at a 100×-replicated sf10) but costs two
    // joins on a nearly-unique corpus
    val cg = withGs(corpus.wide, "text", k)
      .select(col("key"), explode_outer(col("gs")).as("g"))
    corpus.expand(attributionReport(cg.join(broadcast(bg), "g"), "key", minShared), "doc_id")
      .select(col("doc_id").cast("long").as("doc_id"), col("n_evals"),
        col("top_shared"), col("top_eval"))
  }

  /** The shared (hit-rows → per-key report) tail of [[attribution]]:
    * (key, eval_id) shared-gram counts, minShared floor, then the
    * packed-BIGINT argmax per key. */
  private def attributionReport(hits: DataFrame, keyCol: String,
                                minShared: Long): DataFrame = {
    // The packing requires 0 <= eval_id < 2^32 and shared < 2^31 —
    // enforced, not just documented: a violating row raises instead of
    // silently corrupting top_shared/top_eval via sign overflow or
    // eval-id wraparound. The CaseWhen keeps the assert off the happy
    // path (branches evaluate lazily in codegen).
    val packOk = col("eval_id").between(0L, 4294967295L) &&
      col("shared") < lit(2147483648L)
    val packed = when(packOk,
        col("shared") * lit(4294967296L) + (lit(4294967295L) - col("eval_id")))
      .otherwise(expr("CAST(assert_true(false, concat('attribution pack overflow: " +
        "needs 0 <= eval_id < 2^32 and shared < 2^31, got eval_id=', " +
        "CAST(eval_id AS STRING), ' shared=', CAST(shared AS STRING))) AS BIGINT)"))
    hits
      .groupBy(col(keyCol), col("eval_id"))
      .agg(count(lit(1)).as("shared"))
      .where(col("shared") >= minShared)
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_evals"),
        max(packed).as("pk"))
      .selectExpr(keyCol, "n_evals",
        "pk div 4294967296 AS top_shared",
        "4294967295 - pk % 4294967296 AS top_eval")
  }

  /** (doc_id, n_shingles, g) per distinct gram of each doc of `df`,
    * with `idExpr` naming the id column to carry.
    *
    * explode_OUTER on purpose: a plain explode triggers Catalyst's
    * InferFiltersFromGenerate, which pushes `size(shingles)>0 AND
    * isnotnull(shingles)` into the scan — TWO extra full shingle
    * evaluations per doc (measured 3× the pipeline's map cost at
    * sf10). outer emits one null-gram row for shingle-less docs
    * instead, and the inner join on `g` drops it — same output, one
    * expression evaluation per doc. */
  private def docGrams(df: DataFrame, idName: String): DataFrame =
    df.select(col(idName),
      size(col("gs")).as("n_shingles"), explode_outer(col("gs")).as("g"))

  private def withGs(df: DataFrame, textCol: String, k: Int): DataFrame =
    df.withColumn("gs", graft.functions.TextHashExpressions
      .distinctShingles(col(textCol), k))

  /** Embedding-space decontamination: flag corpus vectors whose cosine
    * against ANY eval-set vector reaches `minCos` — the semantic
    * companion to [[ngramHits]]' verbatim n-gram check (published eval
    * hygiene uses both: paraphrased benchmark leakage survives 13-gram
    * dedup but not an embedding sweep). Output per contaminated corpus
    * vector: (vec_id, n_evals = #eval vectors at/above threshold,
    * first_eval = smallest such eval id, max_cos), ordered by vec_id.
    *
    * Scale shape: the eval side is megabytes by contract — normalized
    * once and BROADCAST (pinned, the q53 argument), so the corpus side
    * is a single map-only pass (normalize → dot against each resident
    * eval vector) and only HIT rows reach the per-vector aggregation,
    * which partial-aggregates map-side (a corpus vector's eval matches
    * all originate in the same input row). Threshold membership and
    * `max_cos` are reproducible across engines: both sides fold the
    * dot product left-to-right in double precision
    * ([[Similarity.normalized]]'s contract), and IEEE ops are
    * deterministic given identical operation order.
    *
    * Contract: `corpus` and `eval` are id-disjoint frames (an eval
    * vector passed in the corpus simply matches itself at cos 1). */
  def embedHits(corpus: DataFrame, eval: DataFrame, idCol: String,
                vecCol: String, minCos: Double): DataFrame = {
    val e = Similarity.normalized(eval, idCol, vecCol, "eval_id", "ev")
    def hitsFor(c: DataFrame, keyName: String): DataFrame =
      c.crossJoin(broadcast(e))
        .select(col(keyName), col("eval_id"),
          Similarity.dotD(col("cv"), col("ev")).as("cos"))
        .where(col("cos") >= minCos)
        .groupBy(keyName)
        .agg(count(lit(1)).as("n_evals"), min("eval_id").as("first_eval"),
          max("cos").as("max_cos"))
    // ADAPTIVE on a duplicate-vector probe (the dedup-family shape —
    // duplicate documents carry duplicate embeddings): identical
    // vectors have identical eval sweeps, so with duplicates present
    // the corpus collapses to one representative per distinct VECTOR
    // (the vector is the GROUP KEY — map-side partials collapse
    // replicas before the exchange) and per-rep results expand back
    // to members through a join on the vector. Bit-identical by
    // construction. The exact-dup probe uses xxhash64 over the raw
    // array — a collision only mis-routes to the (always-correct)
    // collapsed path.
    val probe = corpus.agg(count(lit(1)),
      count_distinct(xxhash64(col(vecCol)))).first()
    if (probe.getLong(0) == probe.getLong(1)) {
      hitsFor(Similarity.normalized(corpus, idCol, vecCol, "vec_id", "cv"),
        "vec_id").orderBy("vec_id")
    } else {
      val members = corpus.select(col(idCol).cast("long").as("vec_id"),
        col(vecCol).as("__v"))
      val reps = members.groupBy("__v").agg(min("vec_id").as("rep"))
      val repHits = hitsFor(
        Similarity.normalized(reps, "rep", "__v", "rep_id", "cv"), "rep_id")
      members.join(reps, "__v")
        .join(repHits, col("rep") === col("rep_id"))
        .select(col("vec_id"), col("n_evals"), col("first_eval"),
          col("max_cos"))
        .orderBy("vec_id")
    }
  }

  /** Cross-corpus n-gram novelty: for each `df` document, how much of
    * its DISTINCT k-gram content is UNSEEN in the reference corpus —
    * the "new information" signal of an incremental crawl (a re-crawl
    * that is 95% boilerplate-overlapping with the last snapshot is
    * priced here, doc by doc). Output: top `topK` most-novel docs as
    * (doc_id, n_shingles, n_novel, novelty_ppm), ranked by the
    * INTEGER novelty (parts-per-million — float fractions would make
    * top-k membership engine-fragile), ties on doc_id.
    *
    * Scale shape: both sides shingle map-only (native distinct-shingle
    * pass, explode_outer); the reference collapses to its DISTINCT
    * gram set (fixed-width after hashing? no — grams themselves, but
    * one row per distinct gram via partial-agg'd distinct) and the
    * novelty join is a LEFT ANTI — corpus-sized both sides, so the
    * strategy is AQE's call with skew handling, the q55 argument. The
    * per-doc aggregate partial-aggregates map-side; top-k is
    * TakeOrderedAndProject. */
  def ngramNovelty(df: DataFrame, ref: DataFrame, idCol: String,
                   textCol: String, k: Int, topK: Int): DataFrame =
    noveltyOver(Collapse.textUnits(df, idCol, textCol),
      Collapse.textUnits(ref, idCol, textCol), k, topK)

  /** Each side routes on its own probe: the reference's distinct gram
    * set and a doc's novelty are both functions of the TEXT. The
    * reference side is corpus-sized too, so both shingle passes widen. */
  private[graft] def noveltyOver(doc: Collapse.Units, ref: Collapse.Units,
                                 k: Int, topK: Int): DataFrame = {
    val refGrams = ref.wide
      .select(explode_outer(graft.functions.TextHashExpressions
        .distinctShingles(col("text"), k)).as("g"))
      .where(col("g").isNotNull).distinct()
    val grams = docGrams(withGs(doc.wide, "text", k), "key")
      .where(col("g").isNotNull)
    doc.expand(noveltyStats(grams, refGrams, "key"), "doc_id")
      .select(col("doc_id").cast("long").as("doc_id"), col("n_shingles"),
        col("n_novel"), col("novelty_ppm"))
      .orderBy(col("novelty_ppm").desc, col("doc_id"))
      .limit(topK)
  }

  private def noveltyStats(grams: DataFrame, refGrams: DataFrame,
                           keyName: String): DataFrame = {
    val novel = grams.join(refGrams, Seq("g"), "left_anti")
      .groupBy(keyName).agg(count(lit(1)).as("n_novel"))
    grams.select(keyName, "n_shingles").distinct()
      .join(novel, Seq(keyName), "left")
      .select(col(keyName), col("n_shingles"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"))
      .withColumn("novelty_ppm",
        expr("n_novel * 1000000 div n_shingles"))
  }

  /** Corpus-internal duplicated-span statistics (the span-level signal
    * published as the motivation for dedup-before-training): for every
    * corpus document, the fraction of its DISTINCT k-word shingles that
    * occur in at least `minDf` corpus documents, where document
    * frequency counts member docs — verbatim copies included, each copy
    * is a real training-set occurrence. Output: (doc_id, n_shingles,
    * n_dup, dup_fraction); docs shorter than k words have no shingles
    * and never appear.
    *
    * Scale shape (100 TB): exactly ONE full-size exchange — the raw
    * gram table (O(corpus tokens) rows) shuffled by gram into the df
    * join. The other two exchanges are compacted by partial map-side
    * aggregation before they ship: the df aggregate sends at most one
    * row per (gram × input partition) — a boilerplate gram in millions
    * of docs crosses the wire as P partials, not millions of rows —
    * and the per-doc aggregate after the join sends at most one row
    * per (doc × partition). NO broadcast hint anywhere: unlike the
    * eval-set table in [[ngramHits]], the df table is corpus-sized by
    * construction, so the join is AQE's call — broadcast at toy scale,
    * sort-merge at real scale, where a join (unlike the equivalent
    * count-over-window formulation, which cannot split a partition)
    * lets AQE's skew-join split the mega-gram partitions. Why a join
    * and not a window: same single full-size exchange either way, but
    * the window pins every row of a boilerplate gram into one sorted
    * partition with no skew remedy. Null-gram rows from shingle-less
    * docs need no filter (no InferFiltersFromGenerate re-evaluation):
    * the inner equi-join on the gram drops them. df is the weight sum
    * over units: identical texts have identical distinct-gram sets. */
  def dupSpanStats(corpus: DataFrame, idCol: String, textCol: String,
                   k: Int, minDf: Long = 2L): DataFrame =
    dupSpansOver(Collapse.textUnits(corpus, idCol, textCol), k, minDf)

  private[graft] def dupSpansOver(u: Collapse.Units, k: Int, minDf: Long): DataFrame = {
    val grams = withGs(u.wide, "text", k)
      .select(col("key"), col("weight"),
        size(col("gs")).as("n_shingles"), explode_outer(col("gs")).as("g"))
    val dfTab = grams.groupBy("g").agg(sum("weight").as("df"))
    val byKey = grams.join(dfTab, "g")
      .groupBy("key", "n_shingles")
      .agg(sum(when(col("df") >= minDf, 1L).otherwise(0L)).as("n_dup"))
    u.expand(byKey, "doc_id")
      .select(col("doc_id").cast("long").as("doc_id"), col("n_shingles"), col("n_dup"),
        (col("n_dup").cast("double") / col("n_shingles").cast("double"))
          .as("dup_fraction"))
  }
}
