package graft.analytics

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, ShortType, StructField}

/** Deduplication operators for large-scale training-data pipelines:
  * exact (hash-groupBy), MinHash (+ LSH banding), SimHash, n-gram
  * Jaccard. All pure column algebra — no UDFs — so every stage stays in
  * whole-stage codegen and scales by adding partitions.
  *
  * Scale notes (100 TB): exact dedup = one shuffle on the digest;
  * MinHash signatures = one explode + one groupBy per doc (shuffle on
  * doc id, combiner-friendly `min` aggregates); LSH candidate pairs =
  * self-join on (band, bucket), with a bucket-size cap that drops
  * degenerate buckets (N boilerplate docs would otherwise emit N²/2
  * pairs — those dups are exact-dedup's job anyway); Jaccard's
  * shared-token join prunes high-document-frequency tokens in-operator,
  * so a stop-word in 10⁴ docs can never fan out to 10⁸ join rows; the
  * verify step (exact Jaccard on candidates) touches only candidate
  * pairs, never the full cross product.
  *
  * The hash family is md5-based (`min(md5(seed || ':' || shingle))`
  * interpreted as a 32-bit int) so results are engine-portable — the
  * DuckDB oracles reproduce them bit-for-bit.
  */
object Dedup {

  /** Exact dedup: keep the smallest id per content digest
    * (the reference's dedup-by-signature idea, `MD5SignatureParseFilter
    * .java:48`, applied set-wide). One shuffle. */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(md5(col(textCol)).as("digest"), col(idCol))
      .groupBy("digest")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Cross-corpus exact dedup: rows of `df` whose content digest does
    * NOT appear in `ref` — "drop what the last training run already
    * saw", the batch face of the [[graft.index.DigestLedger]] contract
    * (there the reference set is the cross-batch ledger; here it is
    * any corpus-shaped frame). The reference side collapses to its
    * DISTINCT digest set (fixed-width, map-side partials) before the
    * LEFT ANTI join, so the join's build input prices by distinct
    * reference texts; strategy is AQE's call — broadcast when the
    * digest set is small, shuffled-hash/sort-merge when it is
    * genuinely corpus-sized. Output keeps `df`'s columns. */
  def crossDedup(df: DataFrame, ref: DataFrame, textCol: String): DataFrame =
    df.join(
      ref.select(md5(col(textCol)).as("__ref_digest")).distinct(),
      md5(df(textCol)) === col("__ref_digest"), "left_anti")

  /** Words of a text column: single-space split, empty tokens dropped.
    * Deliberately NOT a whitespace-class split — `split(text, ' ')` has
    * the exact same semantics in Spark and DuckDB, which keeps every
    * hash oracle bit-portable; normalize newlines/tabs upstream (the
    * parse stage's text extractor emits space-joined text). */
  def words(textCol: Column): Column =
    filter(split(textCol, " "), w => w =!= "")

  /** k-word shingles; empty array when the doc is shorter than k.
    * (Spark's `sequence(1, 0)` counts DOWN, so the guard is load-bearing.) */
  def shingles(wordsCol: Column, k: Int): Column = {
    val idxs = sequence(lit(1), size(wordsCol) - (k - 1))
    val mk = transform(idxs, i =>
      concat_ws(" ", (0 until k).map(o => element_at(wordsCol, i + o)): _*))
    when(size(wordsCol) >= k, mk).otherwise(array())
  }

  /** Portable 32-bit hash of a string under a seed: first 8 hex chars of
    * md5("seed:value") as a long. Matches DuckDB's
    * `CAST('0x' || substring(md5(seed || ':' || s), 1, 8) AS BIGINT)`. */
  def seededHash(seed: Int, s: Column): Column =
    conv(substring(md5(concat(lit(s"$seed:"), s)), 1, 8), 16, 10).cast("long")

  /** k-th 32-bit chunk (0-based) of ONE md5 — 4 independent hash values
    * for the price of a single digest (an md5's 128 bits split 4×32).
    * Halves the dominant cost of MinHash vs. per-seed digests. */
  def md5Chunk(md5Hex: Column, k: Int): Column =
    conv(substring(md5Hex, 1 + 8 * k, 8), 16, 10).cast("long")

  /** k-th 8-hex-char chunk as a STRING. Fixed-length lowercase hex sorts
    * lexicographically exactly as its numeric value, so `min` can
    * aggregate the string and the hex→long conversion runs once per
    * GROUP instead of once per row. */
  def md5ChunkStr(md5Hex: Column, k: Int): Column =
    substring(md5Hex, 1 + 8 * k, 8)

  def hexToLong(c: Column): Column = conv(c, 16, 10).cast("long")

  /** MinHash signatures over k-word shingles: one row per doc with
    * `numHashes` ≤ 4 minimum-hash columns `h1..hN`, all derived from one
    * md5 per shingle. Computed in a single codegen'd pass per document
    * ([[graft.functions.MinhashChunksExpr]]) — no explode, no shuffle:
    * at 100 TB the signature stage is a pure map over the corpus.
    *
    * Deliberately NOT digest-collapsed (the q22 trick): measured at
    * sf1000 (50 M docs, 10 000 verbatim copies per text — the collapse's
    * best case), a signature-per-distinct-text route with broadcast
    * join-back ran 60.1 s vs 32.4 s for this direct map. The arithmetic
    * says why: one md5 per shingle means the direct pass hashes
    * ~k×corpus bytes total, and the collapse's probe + digest + join-back
    * passes hash the SAME corpus bytes ~3× in md5 form before saving
    * anything — linear either way, with the collapse adding a shuffle
    * and two joins. q22's collapse pays off because enumeration there
    * is QUADRATIC in multiplicity; signature generation is not. */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        numHashes: Int = 4, shingleK: Int = 3): DataFrame = {
    require(numHashes <= 4, "one md5 yields 4 chunks")
    df.select(col(idCol),
        graft.functions.TextHashExpressions.minhashSig(col(textCol), shingleK, numHashes).as("sig"))
      .where(col("sig").isNotNull)
      .select(col(idCol) +:
        (1 to numHashes).map(i => col("sig").getItem(i - 1).as(s"h$i")): _*)
  }

  /** Connected components over candidate pairs — the clustering stage
    * between pair generation ([[lshCandidatePairs]] / [[jaccardPairs]])
    * and canonical-document selection: every near-dup cluster keeps one
    * representative (its min id).
    *
    * Iterative min-label propagation WITH POINTER JUMPING, run to
    * convergence: each round, every node takes the min label among (a)
    * itself, (b) its neighbors, and (c) the label OF its current label
    * (Shiloach–Vishkin shortcutting: if x points to c and c points to
    * c2, x can point straight to c2). Branches (a)+(b) alone converge
    * in O(diameter) rounds; (c) halves the remaining pointer distance
    * every round, so a path-shaped component of diameter d finishes in
    * O(log d) — on real near-dup graphs (a few long chains over mostly
    * star/clique clusters) that cuts the round count roughly in half,
    * and each round is 2 shuffles at 100 TB. All three branches are
    * monotone non-increasing and can never go below the component min
    * (labels only travel along edges or existing pointers), and a
    * round that changes nothing is a true fixed point: stability under
    * (b) forces the label constant across every edge, stability under
    * (c) forces that constant to label itself, and the component min m
    * always keeps comp(m)=m — so the fixed point is exactly
    * "every node labeled with its component's min id", same as plain
    * propagation and the transitive-closure oracle. `min` is
    * commutative / order-independent, so labels are deterministic and
    * engine-exact. `maxIterations` is a safety CAP (the loop WARNs
    * when it trips), not a round count. The label side is |V| rows
    * against |E| edges — the same iteration shape as
    * [[LinkGraph.pagerank]].
    *
    * Cost per round is ONE action: the previous label rides through
    * the min-aggregation as a carried column, so the round's single
    * `filter(changed).count()` both materializes the new label
    * checkpoint and decides convergence — no second fixed-point join.
    *
    * Routed by [[Graph]] on the symmetrized edge list. The local route
    * solves the same fixed point by union-find + min-label (both
    * compute "every node labeled with its component's min id"); it
    * takes the min under Long ordering, so only integral ids take it.
    */
  def connectedComponents(pairs: DataFrame, aCol: String = "a", bCol: String = "b",
                          maxIterations: Int = 20): DataFrame =
    componentsOver(Graph.undirected(pairs, aCol, bCol), maxIterations)

  private[graft] def componentsOver(g: Graph.Edges, maxIterations: Int): DataFrame =
    g.solve(componentsLocal(g, _)) { und =>
      val nodes = und.select(col("x").as("node")).distinct()
      val (labels, changed) = Graph.rounds(nodes.withColumn("comp", col("node")),
        maxIterations, l => ccRound(und, l.select("node", "comp")),
        // the ONE action of the round: a DataFrame aggregate over the
        // checkpointed frame — its first action materializes every
        // partition of the checkpoint AND counts label changes, all on
        // columnar UnsafeRow blocks (no boxed-Row filter)
        (next, _) => next.where(!(col("comp") <=> col("prev"))).count())
      if (changed != 0L)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"connectedComponents exited at the maxIterations=$maxIterations cap " +
            "WITHOUT converging: components with diameter above the cap are " +
            "under-merged (and will not match an exact transitive closure)")
      labels.select("node", "comp")
    }

  /** Union-find with min-label over the collected edges, ids compared
    * as Long and returned in their own type. */
  private def componentsLocal(g: Graph.Edges, rows: Array[Row]): DataFrame = {
    val parent = new java.util.HashMap[Long, Long]()
    def find(x0: Long): Long = {
      var x = x0
      while (parent.get(x) != x) {
        val gp = parent.get(parent.get(x))
        parent.put(x, gp)
        x = gp
      }
      x
    }
    rows.foreach { r =>
      val a = r.getAs[Number](0).longValue; val b = r.getAs[Number](1).longValue
      parent.putIfAbsent(a, a); parent.putIfAbsent(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
    }
    val idType = g.df.schema("x").dataType
    val id: Long => Any = idType match {
      case IntegerType => _.toInt
      case ShortType => _.toShort
      case _ => identity
    }
    g.solved(Seq(StructField("comp", idType)),
      parent.keySet.asScala.toSeq.map(n => Row(id(n), id(find(n)))))
  }

  /** One label-propagation round, pre-checkpoint: min over (a) the
    * node's own label — which also carries `prev` for the convergence
    * count, (b) neighbor labels via the edge join, (c) the label of
    * the current label (pointer jump). One union + one min-aggregation
    * = ONE shuffle beyond the joins. Shared between the loop and
    * [[ccRoundPlan]] so the dumped explain can never drift from the
    * shipped iteration. */
  private def ccRound(und: DataFrame, labels: DataFrame): DataFrame = {
    val compType = labels.schema("comp").dataType
    val self = labels.select(col("node"), col("comp"),
      col("comp").as("prev"))
    val viaNbr = und
      .join(labels.withColumnRenamed("node", "y")
                  .withColumnRenamed("comp", "ycomp"), "y")
      .select(col("x").as("node"), col("ycomp").as("comp"),
        lit(null).cast(compType).as("prev"))
    val viaPtr = labels
      .join(labels.select(col("node").as("comp"), col("comp").as("comp2")),
        Seq("comp"))
      .select(col("node"), col("comp2").as("comp"),
        lit(null).cast(compType).as("prev"))
    self.union(viaNbr).union(viaPtr)
      .groupBy("node")
      .agg(min(col("comp")).as("comp"), max(col("prev")).as("prev"))
  }

  /** Round-1's pre-checkpoint frame for plan inspection (`Profile --plans`):
    * the real loop materializes exactly this shape every round. */
  private[graft] def ccRoundPlan(pairs: DataFrame, aCol: String = "a",
                                 bCol: String = "b"): DataFrame = {
    val und = Graph.undirectedRows(pairs, aCol, bCol)
    val labels = und.select(col("x").as("node")).distinct()
      .withColumn("comp", col("node"))
    ccRound(und, labels)
  }

  /** LSH candidate pairs from unigram MinHash, banded 2×2 (band A =
    * (h1,h2), band B = (h3,h4)); docs sharing either band within the
    * same `groupCol` become candidates. Returns distinct (a, b) pairs,
    * a < b. The group restriction + banding bound the TYPICAL join
    * fan-out; `maxBucket` bounds the WORST case: a bucket holding more
    * than `maxBucket` docs (boilerplate/empty-text degenerate mass) is
    * dropped before the self-join, capping any bucket's output at
    * maxBucket²/2 pairs instead of N²/2. Near-dups lost that way are
    * verbatim-duplicate clusters, which [[exactDedup]] already catches.
    * The cap's window count partitions on the same (group, bucket) key
    * as the join, so it rides the join's own exchange — no extra
    * shuffle. Both join sides share one plan, so ReuseExchange
    * evaluates the signature + window side once (PlanSpec-pinned).
    *
    * Collapses on any verbatim duplicate ([[Collapse.unique]] at 1.0):
    * a 2×2-banded LSH over a ×100-replicated corpus pays ×10⁴ in pair
    * mass without it. Members share their unit's signature, so the doc
    * pair graph is the unit graph with each unit blown up into a
    * clique. */
  def lshCandidatePairs(df: DataFrame, idCol: String, textCol: String,
                        groupCol: String, maxBucket: Int = 1024): DataFrame =
    lshOver(Collapse.units(df, idCol, textCol, Seq(groupCol),
      Collapse.unique(df, textCol, groupCol)), groupCol, maxBucket)

  private[graft] def lshOver(u: Collapse.Units, groupCol: String,
                             maxBucket: Int): DataFrame = {
    val bands = lshBands(u, groupCol, maxBucket)
    u.expandPairs(bandPairs(bands, groupCol),
      bands.where(col("weight") >= 2).select(col(groupCol), col("key")).distinct())
  }

  /** Per-group LSH candidate-pair COUNTS, computed WITHOUT enumerating
    * the pairs — `lshCandidatePairs(df, …).groupBy(group).count()`
    * done in weight arithmetic: cross-unit mass is Σ wa·wb over the
    * distinct capped unit pairs, verbatim-clique mass is Σ w·(w−1)/2
    * over cap-surviving units. The enumeration is QUADRATIC in
    * verbatim multiplicity while the arithmetic is linear in distinct
    * texts. Measured at sf1000 (50 M docs, 10 000 verbatim copies per
    * text): the enumeration face streamed ~2.5·10¹¹ clique rows through
    * the count — 229 s, 21.8× the sf100 time for 10× the data — where
    * this face prices the same answer by the ~5 000 distinct digests.
    * Use the enumeration entry point only when a consumer needs the
    * pairs themselves. */
  def lshCandidatePairCounts(df: DataFrame, idCol: String, textCol: String,
                             groupCol: String, maxBucket: Int = 1024): DataFrame =
    lshCountsOver(Collapse.units(df, idCol, textCol, Seq(groupCol),
      Collapse.unique(df, textCol, groupCol)), groupCol, maxBucket)

  private[graft] def lshCountsOver(u: Collapse.Units, groupCol: String,
                                   maxBucket: Int): DataFrame = {
    val bands = lshBands(u, groupCol, maxBucket)
    // a unit pair colliding in both bands counts once; the weight
    // product is a function of the pair, so it rides the distinct
    val cross = bands.as("l").join(bands.as("r"), Seq(groupCol, "bk"))
      .where(col("l.key") < col("r.key"))
      .select(col(groupCol), col("l.key").as("ka"), col("r.key").as("kb"),
        (col("l.weight") * col("r.weight")).as("n"))
      .distinct()
      .select(col(groupCol), col("n"))
    // w·(w−1) is even, so LONG `div` is exact and keeps the column
    // LongType (Spark's `/` is double division, exact only below 2^53)
    val cliques = bands.where(col("weight") >= 2)
      .select(col(groupCol), col("key"), col("weight")).distinct()
      .select(col(groupCol), expr("weight * (weight - 1) div 2").as("n"))
    cross.unionByName(cliques)
      .groupBy(col(groupCol))
      .agg(sum(col("n")).cast("long").as("n_pairs"))
  }

  /** Band-tagged bucket rows (group, key, weight, bk), capped on the
    * SUM OF WEIGHTS per (group, bucket) — the number of documents in
    * the bucket, so the same buckets drop on either route. Wordless
    * texts are dropped by the cheap scan-level trim(text) != '', which
    * is exactly the unigram signature's null condition — NOT by
    * filtering on the signature: `where(sig.isNotNull)` would be
    * pushed through the collapse's join-back into the corpus scan and
    * re-evaluate the signature on every row. */
  private def lshBands(u: Collapse.Units, groupCol: String,
                       maxBucket: Int): DataFrame = {
    val sig = graft.functions.TextHashExpressions
      .minhashSig(col("text"), 1, 4, distinct = true)
    u.rows.where(Collapse.worded("text"))
      .select(col(groupCol), col("key"), col("weight"), sig.as("sig"))
      .select(col(groupCol), col("key"), col("weight"), explode(array(
        concat_ws("_", lit("A"), col("sig").getItem(0), col("sig").getItem(1)),
        concat_ws("_", lit("B"), col("sig").getItem(2), col("sig").getItem(3)))).as("bk"))
      .withColumn("bkn",
        sum(col("weight")).over(Window.partitionBy(col(groupCol), col("bk"))))
      .where(col("bkn") <= maxBucket).drop("bkn")
  }

  /** Distinct unit pairs (group, ka, kb), ka < kb, sharing a bucket. */
  private def bandPairs(bands: DataFrame, groupCol: String): DataFrame =
    bands.as("l").join(bands.as("r"), Seq(groupCol, "bk"))
      .where(col("l.key") < col("r.key"))
      .select(col(groupCol), col("l.key").as("ka"), col("r.key").as("kb"))
      .distinct()

  /** Representative-level candidate pairs (plan-inspection entry: the
    * full collapse → band → self-join pipeline, un-cached). */
  private[graft] def repPairs(df: DataFrame, idCol: String, textCol: String,
                              groupCol: String, maxBucket: Int = 1024): DataFrame =
    bandPairs(lshBands(Collapse.units(df, idCol, textCol, Seq(groupCol), unique = false),
        groupCol, maxBucket), groupCol)
      .select(col("ka").as("a"), col("kb").as("b"))

  /** Near-dup components over the WHOLE corpus: LSH banding + self-join
    * over units, [[connectedComponents]] on the unit graph, labels
    * expanded back to every member. Bit-identical to running
    * lshCandidatePairs + connectedComponents over the uncollapsed
    * corpus (the exact transitive-closure oracle): the doc graph is the
    * unit graph with each unit blown up into a clique, which preserves
    * components, and a unit's key is its min member id, which preserves
    * the min labels. A weight ≥ 2 unit surviving the cap is a component
    * even without a cross pair (its members pair with EACH OTHER), so
    * it enters the graph as a self-loop; a capped-out or weight-1 unit
    * without pairs yields no rows, as in the uncollapsed pipeline.
    *
    * Scale: pair mass and CC edge mass price by DISTINCT texts — a
    * ×100-replicated corpus generates ×10⁴ fewer candidate pairs. */
  def nearDupComponents(df: DataFrame, idCol: String, textCol: String,
                        groupCol: String, maxBucket: Int = 1024,
                        maxIterations: Int = 20): DataFrame =
    nearDupOver(Collapse.units(df, idCol, textCol, Seq(groupCol),
      Collapse.unique(df, textCol, groupCol)), groupCol, maxBucket, maxIterations)

  private[graft] def nearDupOver(u: Collapse.Units, groupCol: String,
                                 maxBucket: Int = 1024,
                                 maxIterations: Int = 20): DataFrame = {
    val bands = lshBands(u, groupCol, maxBucket)
    val loops = bands.where(col("weight") >= 2)
      .select(col(groupCol), col("key").as("ka"), col("key").as("kb"))
    val labels = connectedComponents(bandPairs(bands, groupCol).unionByName(loops),
      "ka", "kb", maxIterations)
    u.expand(labels.withColumnRenamed("node", "key"), "node").select("node", "comp")
  }

  /** 16-bit SimHash over distinct words: per-bit ±1 contributions
    * summed, bit set when the sum is positive. Single codegen'd pass
    * per document ([[graft.functions.SimHash16Expr]]) — the
    * explode-per-(word,bit) relational formulation is kept as the
    * DuckDB oracle; this computes the same hash without the 16×|words|
    * row blowup or any shuffle. */
  def simhash16(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
        graft.functions.TextHashExpressions.simhash16(col(textCol)).as("simhash"))
      .where(col("simhash").isNotNull)

  /** Exact n-gram (here unigram-set) Jaccard similarity for pairs within
    * a group, over a pre-filtered subset: shared-word self-join →
    * intersection counts, with per-unit set sizes attached BEFORE the
    * join (AQE-broadcastable) so a size-ratio prefilter runs at the
    * join itself.
    *
    * Skew defenses, in evaluation order:
    *  - a token appearing in `d` docs fans the self-join out to d²/2
    *    rows, so tokens with document frequency above `maxDf` are
    *    pruned from the JOIN inputs in-operator (the per-doc set sizes
    *    — the Jaccard denominator — still count every token, so
    *    surviving pairs keep their exact Jaccard... minus intersection
    *    mass carried ONLY by ubiquitous tokens, and a pair sharing
    *    nothing but stop-words sits far below any useful `minJaccard`
    *    anyway). The df window partitions on the join key (group, w),
    *    reusing the join's exchange.
    *  - size-ratio prefilter: jaccard ≤ min(|A|,|B|)/max(|A|,|B|)
    *    (the intersection is at most the smaller set, the union at
    *    least the larger), so a pair with size ratio below `minJaccard`
    *    is dropped AT the self-join, before it ever reaches the
    *    intersection groupBy. The comparison uses the same
    *    least/greatest DIVISION the final filter uses — division
    *    rounding is monotone, so ratio ≥ jaccard as exact rationals
    *    implies the same ordering of the rounded doubles and the
    *    prefilter can never drop a pair the exact filter would keep
    *    (a `sz_small >= j * sz_big` product form CAN, when jaccard
    *    lands exactly on the threshold).
    * Carrying the true sizes through the groupBy keys also removes the
    * two post-aggregation size joins the previous formulation needed.
    *
    * Collapses on any verbatim duplicate. A verbatim pair reports what
    * the uncollapsed pipeline reports under df-pruning: s/(2k − s),
    * with s surviving shared tokens over set size k. */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
                   groupCol: String, minJaccard: Double,
                   maxDf: Int = 1024): DataFrame =
    jaccardOver(Collapse.units(df, idCol, textCol, Seq(groupCol),
      Collapse.unique(df, textCol, groupCol)), groupCol, minJaccard, maxDf)

  private[graft] def jaccardOver(u: Collapse.Units, groupCol: String,
                                 minJaccard: Double, maxDf: Int): DataFrame =
    setPairs(u, groupCol, maxDf, "jaccard", minJaccard, ratioPrefilter = true,
      (inter, sza, szb) => inter.cast("double") / (sza + szb - inter).cast("double"))

  /** Overlap-coefficient (containment) pairs: |A∩B| / min(|A|,|B|) —
    * the near-dup signal Jaccard structurally misses when a SHORT
    * document is quoted inside a LONG one (the union dilutes jaccard
    * toward 0 as the big doc grows; the overlap coefficient of a full
    * quote stays 1.0 regardless). The training-data use is exactly
    * that asymmetry: catching excerpts, boilerplate-wrapped reposts,
    * and doc-inside-doc containment that [[jaccardPairs]] scores low.
    *
    * Same unigram-set machinery as [[jaccardPairs]], with one
    * deliberate difference: the size-ratio join prefilter is UNSOUND
    * here — a small set fully contained in a big one scores 1.0 at ANY
    * size ratio — so the self-join keeps every shared-word pair and the
    * skew defenses are the df-prune (`maxDf`) and the group key alone.
    * Same df-prune caveat as jaccard: intersection mass carried only by
    * ubiquitous tokens is dropped while the min-size denominator still
    * counts every token, so a pair sharing nothing but stop-words sits
    * below any useful threshold rather than at a spurious 1.0. A
    * verbatim pair scores s/k. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       groupCol: String, minOverlap: Double,
                       maxDf: Int = 1024): DataFrame =
    containmentOver(Collapse.units(df, idCol, textCol, Seq(groupCol),
      Collapse.unique(df, textCol, groupCol)), groupCol, minOverlap, maxDf)

  private[graft] def containmentOver(u: Collapse.Units, groupCol: String,
                                     minOverlap: Double, maxDf: Int): DataFrame =
    setPairs(u, groupCol, maxDf, "overlap", minOverlap, ratioPrefilter = false,
      (inter, sza, szb) => inter.cast("double") / least(sza, szb).cast("double"))

  /** The shared core of [[jaccardPairs]] and [[containmentPairs]]:
    * tokenize, prune tokens by weighted document frequency (the df the
    * uncollapsed pipeline sees, so the SAME tokens are pruned), attach
    * set sizes, self-join on shared words, count intersections, and
    * score pairs `score(inter, sza, szb)` named `name`. A verbatim pair
    * shares its s surviving tokens over equal sizes k, so it scores
    * `score(s, k, k)`. No broadcast hint on the sizes: one row per unit
    * approaches corpus cardinality on a unique corpus, so the join
    * strategy is AQE's call. The self-join renames AFTER joining so both
    * children stay canonically identical and ReuseExchange runs the
    * tokenize + df-window side once. */
  private def setPairs(u: Collapse.Units, groupCol: String, maxDf: Int,
                       name: String, minScore: Double, ratioPrefilter: Boolean,
                       score: (Column, Column, Column) => Column): DataFrame = {
    val tok = u.rows.select(col(groupCol), col("key"), col("weight"),
      explode(array_distinct(words(col("text")))).as("w"))
    val sizes = tok.groupBy(col(groupCol), col("key")).agg(count(lit(1)).as("sz"))
    val pruned = tok
      .withColumn("df", sum(col("weight")).over(Window.partitionBy(col(groupCol), col("w"))))
      .where(col("df") <= maxDf).drop("df")
      .join(sizes, Seq(groupCol, "key"))
    val ratioOk =
      if (ratioPrefilter)
        least(col("l.sz"), col("r.sz")).cast("double") /
          greatest(col("l.sz"), col("r.sz")).cast("double") >= minScore
      else lit(true)
    val cross = pruned.as("l").join(pruned.as("r"), Seq(groupCol, "w"))
      .where(col("l.key") < col("r.key") && ratioOk)
      .select(col(groupCol), col("l.key").as("ka"), col("r.key").as("kb"),
        col("l.sz").as("sza"), col("r.sz").as("szb"))
      .groupBy(col(groupCol), col("ka"), col("kb"), col("sza"), col("szb"))
      .agg(count(lit(1)).as("inter"))
      .withColumn(name, score(col("inter"), col("sza"), col("szb")))
      .where(col(name) >= minScore)
      .select(col(groupCol), col("ka"), col("kb"), col(name))
    u.expandPairs(cross, pruned.where(col("weight") >= 2)
      .groupBy(col(groupCol), col("key"))
      .agg(count(lit(1)).as("s"), min(col("sz")).as("sz"))
      .withColumn(name, score(col("s"), col("sz"), col("sz")))
      .where(col(name) >= minScore)
      .select(col(groupCol), col("key"), col(name)))
  }
}
