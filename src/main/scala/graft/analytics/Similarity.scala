package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`ARRAY<FLOAT>`).
  *
  * Brute-force cosine top-k is the correctness baseline: broadcast the
  * (small) query set against the full corpus — a map-only pass over the
  * big side, no shuffle of the corpus, so it scales linearly with
  * executors. The LSH variant (random ±1 hyperplanes → bit buckets)
  * is the scale path: bucket assignment is a map-only pass and search
  * touches only same-bucket candidates.
  *
  * Dot products fold left-to-right in double precision on both engines
  * (Spark `aggregate`, DuckDB `list_reduce`), so cosines are
  * bit-identical for the oracle — IEEE ops are deterministic given
  * identical operation order.
  */
object Similarity {

  /** Left-fold dot product of two ARRAY<DOUBLE> vectors — native
    * codegen'd expression ([[graft.functions.DotDExpr]]): the
    * candidate-pair hot loop stays primitive, no interpreted lambdas. */
  def dotD(a: Column, b: Column): Column =
    graft.functions.VecExpressions.dotD(a, b)

  /** Pre-normalize: each component divided by the row's L2 norm, so the
    * pair stage is a single dot product per pair (norms are computed
    * once per row, not once per pair). One native pass per row; the
    * float→double cast is a codegen'd Cast, and the fold order matches
    * the portable left-to-right spec the oracles use.
    *
    * Rows with a zero or non-finite norm are DROPPED: cosine is
    * undefined for them. The rejection is a single pass — the native
    * normalize itself returns NULL for such vectors (the norm is
    * already in hand mid-pass), so the filter is a plain IS NOT NULL
    * predicate with no second walk over the components. The SQL
    * oracles reach the identical exclusion through `NOT isnan(cosine)`
    * — their unguarded 0/0 division makes exactly these rows NaN. */
  def normalized(df: DataFrame, idCol: String, vecCol: String,
                 outId: String, outVec: String): DataFrame =
    df.select(col(idCol).as(outId),
      graft.functions.VecExpressions
        .l2Normalize(col(vecCol).cast("array<double>")).as(outVec))
      .where(col(outVec).isNotNull)

  /** Brute-force cosine top-k: for each query vector (`queries` must be
    * small — it is broadcast), the k nearest corpus vectors by cosine,
    * self-matches excluded. Ties broken by corpus id. Map-only over the
    * corpus + one window shuffle on q_id (tiny output side).
    *
    * Zero-norm / non-finite vectors are rejected inside the native
    * normalize ([[normalized]] keeps only non-null unit vectors), so
    * every pair reaching the dot product is finite and no NaN cosine
    * can exist to squat a `desc` top-k slot (Spark sorts NaN above
    * every real). The SQL oracles reach the same exclusion through
    * `NOT isnan(cosine)` on their unguarded 0/0 division. */
  def cosineTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                 vecCol: String, k: Int): DataFrame = {
    val q = normalized(queries, idCol, vecCol, "q_id", "q_vec")
    // Widen the corpus side: a compact corpus (one parquet row group)
    // otherwise serializes the nested-loop join, every dot product,
    // and the 40M-row sort under the partial WindowGroupLimit onto ONE
    // core — measured 130 s -> 8 s at sf10. widen() is a no-op when
    // the input already splits across the cluster.
    val c = graft.plans.InputWidth
      .widen(normalized(corpus, idCol, vecCol, "c_id", "c_vec"))
    val scored = c.join(broadcast(q), col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"), dotD(col("q_vec"), col("c_vec")).as("cosine"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("c_id"))
    scored.withColumn("rnk", row_number().over(w)).where(col("rnk") <= k)
      .select(col("q_id"), col("c_id"), col("cosine"), col("rnk"))
  }

  /** Random-hyperplane LSH bucket id (`numPlanes` bits) per vector —
    * the IVF-style coarse quantizer: map-only, no shuffle. Native
    * expression; the deterministic ±1 sign matrix (+1 when the first
    * hex char of md5("j:i") is even — engine-portable, reproduced by
    * the DuckDB oracle) is computed once per JVM, not per row. */
  def lshBucket(vecCol: Column, dim: Int, numPlanes: Int): Column =
    graft.functions.VecExpressions.lshBucket(vecCol.cast("array<double>"), dim, numPlanes)

  /** Bucket histogram — the partition-balance view an IVF index needs. */
  def lshBucketHistogram(corpus: DataFrame, idCol: String, vecCol: String,
                         dim: Int, numPlanes: Int): DataFrame =
    corpus.select(lshBucket(col(vecCol), dim, numPlanes).as("bucket"), col(idCol))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), min(col(idCol)).as("min_id"))

  /** IVF-style ANN search with multi-probe: the corpus is coarsely
    * quantized into hyperplane buckets (map-only); each query probes its
    * own bucket plus the `nprobe - 1` neighboring cells across its
    * lowest-margin planes (the standard multi-probe LSH recall boost —
    * probing neighbors costs far less than adding tables). The probe
    * set is tiny (queries × nprobe rows) so it BROADCASTS: the search
    * is one map pass over the corpus touching only probed buckets — on
    * a bucket-partitioned corpus table the non-probed partitions prune
    * at the scan. Returns top-k per query by cosine among candidates. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, dim: Int, numPlanes: Int, k: Int,
              nprobe: Int): DataFrame = {
    val c = graft.plans.InputWidth
      .widen(normalized(corpus, idCol, vecCol, "c_id", "c_vec"))
      .withColumn("bucket", lshBucket(col("c_vec"), dim, numPlanes))
    val q = normalized(queries, idCol, vecCol, "q_id", "q_vec")
      .select(col("q_id"), col("q_vec"),
        explode(graft.functions.VecExpressions
          .multiProbeBuckets(col("q_vec"), dim, numPlanes, nprobe)).as("bucket"))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .where(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"), dotD(col("q_vec"), col("c_vec")).as("cosine"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("c_id"))
    scored.withColumn("rnk", row_number().over(w)).where(col("rnk") <= k)
      .select(col("q_id"), col("c_id"), col("cosine"), col("rnk"))
  }

  /** Embedding near-dup candidates, LSH-bucketed: pairwise cosine is
    * computed only WITHIN a hyperplane bucket — the scale path (the
    * bucket join replaces the full cross product; more planes ⇒ smaller
    * buckets ⇒ fewer pairs). Returns the global top-N pairs by cosine.
    *
    * `maxBucket` bounds the WORST case the planes can't: a LARGE
    * degenerate embedding mass (a model collapsing boilerplate to one
    * point) lands one bucket with N rows → N²/2 pairs. Buckets holding
    * more than `maxBucket` vectors are dropped BEFORE the self-join
    * (same defense as [[Dedup.lshCandidatePairs]]); members of such a
    * bucket are verbatim-duplicate-shaped clusters that exact dedup on
    * the embedding bytes catches more cheaply. The cap's window
    * partitions on the join key, so it rides the join's own exchange —
    * no extra shuffle. Zero-norm / non-finite vectors are dropped by
    * [[normalized]] BEFORE bucketing, so they neither count toward a
    * bucket's `maxBucket` population nor reach the pair stage — and
    * the q32 oracle mirrors that by filtering `nr > 0 AND
    * isfinite(nr)` in its normalize CTE, keeping the bucket census
    * bit-identical in the degenerate edge case. */
  def nearDupPairs(corpus: DataFrame, idCol: String, vecCol: String,
                   dim: Int, numPlanes: Int, topN: Int,
                   maxBucket: Int = 1024): DataFrame = {
    val n = graft.plans.InputWidth
      .widen(normalized(corpus, idCol, vecCol, "id", "nv"))
      .withColumn("bucket", lshBucket(col("nv"), dim, numPlanes))
      .withColumn("bkn", count(lit(1)).over(Window.partitionBy(col("bucket"))))
      .where(col("bkn") <= maxBucket).drop("bkn")
    // rename AFTER the self-join so both children stay canonically
    // identical: ReuseExchange runs the normalize + bucket + cap-window
    // side once and the second side reads its shuffle files — see
    // Dedup.lshCandidatePairs for why this is a guard, not a fix
    n.as("l").join(n.as("r"), Seq("bucket"))
      .where(col("l.id") < col("r.id"))
      .select(col("bucket"), col("l.id").as("a"), col("r.id").as("b"),
        dotD(col("l.nv"), col("r.nv")).as("cosine"))
      .orderBy(col("cosine").desc, col("a"), col("b"))
      .limit(topN)
  }

  /** Product-quantization codebooks: the corpus is split into `m`
    * subspaces of `subDim` dims and each subspace gets its own
    * `kCodes`-entry codebook from the exact-integer Lloyd iteration
    * ([[Clustering]]'s geometry — `floor(x·2^20)` quantization, long
    * distances, floor-of-mean centroid updates — so codebooks are
    * bit-identical across engines and partitionings).
    *
    * All `m` subspaces train in ONE corpus scan per round: a per-row
    * explode emits (subspace, code, subvector) legs and a single
    * partial-aggregated groupBy produces the m×kCodes update rows (the
    * round's only exchange — m·kCodes·(subDim+1) longs). Init is the
    * kCodes lowest-id vectors sliced per subspace (one TakeOrdered).
    * At 100 TB, codebook training would run on a sample; the full-scan
    * trainer here is what makes the oracle reproducible end-to-end. */
  def pqCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
                  m: Int, subDim: Int, kCodes: Int,
                  iters: Int): Array[Array[Array[Long]]] = {
    import graft.functions.VecExpressions
    val q = corpus.select(col(idCol).as("id"),
      VecExpressions.quantizeLongs(col(vecCol), Clustering.Scale).as("qv"))
    var books: Array[Array[Array[Long]]] = {
      val rows = q.orderBy("id").limit(kCodes).collect()
        .map(_.getSeq[Long](1).toArray)
      Array.tabulate(m)(s => rows.map(v => v.slice(s * subDim, (s + 1) * subDim)))
    }
    for (_ <- 1 until iters) {
      val legs = (0 until m).map { s =>
        struct(lit(s).as("s"),
          VecExpressions.kmeansAssign(
              slice(col("qv"), s * subDim + 1, subDim), books(s))
            .getField("cluster").as("code"),
          slice(col("qv"), s * subDim + 1, subDim).as("sv"))
      }
      val ex = q.select(explode(array(legs: _*)).as("e"))
        .select(col("e.s").as("s"), col("e.code").as("code"), col("e.sv").as("sv"))
      val aggs = (1 to subDim).map(i => sum(element_at(col("sv"), i)).as(s"s$i"))
      val rows = ex.groupBy("s", "code")
        .agg(count(lit(1)).as("n"), aggs: _*)
        .collect() // bounded: ≤ m·kCodes rows
      val next = books.map(_.map(_.clone())) // empty code keeps its centroid
      rows.foreach { r =>
        val s = r.getInt(0)
        val j = r.getInt(1)
        val n = r.getLong(2)
        val c = new Array[Long](subDim)
        var i = 0
        while (i < subDim) {
          c(i) = math.floor(r.getLong(3 + i).toDouble / n.toDouble).toLong
          i += 1
        }
        next(s)(j) = c
      }
      books = next
    }
    books
  }

  /** PQ-compressed ANN — the MEMORY scale path: 100 TB of float32
    * embeddings cannot sit in executor memory or ride a shuffle, but
    * their PQ codes can (64 dims × 4 B → `m` small ints, a 32× working
    * set reduction at the default geometry; the float vectors are read
    * once to encode and never touched again). Encoding is map-only —
    * the codebooks ride as codegen reference objects
    * ([[graft.functions.KmeansAssignExpr]] per subspace), never a join
    * side. Each query precomputes an m×kCodes distance lookup table
    * ([[graft.functions.PqLutExpr]], query side small by contract →
    * broadcast), and the scan scores a candidate with `m` table loads
    * + adds ([[graft.functions.PqDistExpr]]) — no float math, no
    * codebook access in the hot loop. Top-k per query by approximate
    * squared L2, ties by corpus id; self-matches excluded. Compose
    * with [[ivfTopK]]'s coarse quantizer for the full IVF-PQ shape
    * (prune buckets, then LUT-score codes within probed buckets).
    *
    * Exactness contract: PQ is approximate vs true L2 by design, but
    * BIT-EXACT as a function of (corpus, queries, geometry) — integer
    * codebooks, codes, and distances — which is what the DuckDB oracle
    * (q65) checks, hash-identical, no recall hand-waving. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, m: Int = 8, subDim: Int = 8,
             kCodes: Int = 16, iters: Int = 2, k: Int = 5): DataFrame = {
    import graft.functions.{PqFunctions, VecExpressions}
    val books = pqCodebooks(corpus, idCol, vecCol, m, subDim, kCodes, iters)
    val codeCols = (0 until m).map(s =>
      VecExpressions.kmeansAssign(
          slice(col("qv"), s * subDim + 1, subDim), books(s))
        .getField("cluster"))
    val c = graft.plans.InputWidth
      .widen(corpus.select(col(idCol).as("c_id"),
        VecExpressions.quantizeLongs(col(vecCol), Clustering.Scale).as("qv")))
      .select(col("c_id"), array(codeCols: _*).as("codes"))
    val q = queries.select(col(idCol).as("q_id"),
      PqFunctions.pqLut(
        VecExpressions.quantizeLongs(col(vecCol), Clustering.Scale), books).as("lut"))
    val scored = c.join(broadcast(q), col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        PqFunctions.pqDist(col("lut"), col("codes")).as("adist"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("adist").asc, col("c_id"))
    scored.withColumn("rnk", row_number().over(w)).where(col("rnk") <= k)
      .select(col("q_id"), col("c_id"), col("adist"), col("rnk"))
  }

  /** IVF-PQ — [[ivfTopK]]'s coarse quantizer composed with [[pqTopK]]'s
    * compressed scorer, the production ANN shape at 100 TB: the corpus
    * is touched ONCE map-only (hyperplane bucket + PQ codes derived in
    * the same pass, codebooks as codegen constants), the per-query
    * probe set (q_id, lut, nprobe buckets) broadcasts, and the search
    * is a LUT-scored scan over candidate CODES in probed buckets — a
    * bucket-partitioned code table prunes non-probed partitions at the
    * scan and holds ~1/32 the bytes of the float vectors. Candidates
    * come from the cosine-hyperplane cells (zero-norm vectors excluded,
    * as in [[ivfTopK]]); scoring is [[pqTopK]]'s exact-integer
    * approximate L2, so the whole composition stays bit-exact as a
    * function of the inputs and the q66 oracle hash-verifies it. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, dim: Int = 64, numPlanes: Int = 6,
                nprobe: Int = 3, m: Int = 8, subDim: Int = 8,
                kCodes: Int = 16, iters: Int = 2, k: Int = 5): DataFrame = {
    import graft.functions.{PqFunctions, VecExpressions}
    val books = pqCodebooks(corpus, idCol, vecCol, m, subDim, kCodes, iters)
    val codeCols = (0 until m).map(s =>
      VecExpressions.kmeansAssign(
          slice(col("qv"), s * subDim + 1, subDim), books(s))
        .getField("cluster"))
    val c = graft.plans.InputWidth
      .widen(corpus.select(col(idCol).as("c_id"),
        VecExpressions.quantizeLongs(col(vecCol), Clustering.Scale).as("qv"),
        graft.functions.VecExpressions
          .l2Normalize(col(vecCol).cast("array<double>")).as("nv")))
      .where(col("nv").isNotNull)
      .select(col("c_id"), lshBucket(col("nv"), dim, numPlanes).as("bucket"),
        array(codeCols: _*).as("codes"))
    val q = queries.select(col(idCol).as("q_id"),
        PqFunctions.pqLut(VecExpressions
          .quantizeLongs(col(vecCol), Clustering.Scale), books).as("lut"),
        graft.functions.VecExpressions
          .l2Normalize(col(vecCol).cast("array<double>")).as("nv"))
      .where(col("nv").isNotNull)
      .select(col("q_id"), col("lut"),
        explode(graft.functions.VecExpressions
          .multiProbeBuckets(col("nv"), dim, numPlanes, nprobe)).as("bucket"))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .where(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        PqFunctions.pqDist(col("lut"), col("codes")).as("adist"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("adist").asc, col("c_id"))
    scored.withColumn("rnk", row_number().over(w)).where(col("rnk") <= k)
      .select(col("q_id"), col("c_id"), col("adist"), col("rnk"))
  }
}
