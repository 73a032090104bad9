package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VecExpressions

/** K-means clustering over an embedding column — the corpus-composition
  * / SemDeDup partitioning primitive: cluster the corpus, then run
  * within-cluster near-dup removal ([[Similarity.embedNearDups]]) or
  * per-cluster sampling ([[Sampling]]) with the cluster id as the
  * stratum. Reference scope: the reference has no clustering operator
  * (its indexers delegate ranking to the search backend); this is one
  * of the training-data-pipeline extensions the engine carries beyond
  * it.
  *
  * Shape (the classic distributed Lloyd's iteration):
  *   - assignment is MAP-ONLY: the k×dim centroid matrix rides into the
  *     task as a plan-time constant ([[graft.functions.KmeansAssignExpr]]
  *     — a codegen reference object, NOT a join side), so the corpus is
  *     never shuffled;
  *   - the centroid update is one partial-aggregated groupBy producing
  *     k rows of (count, 64 component sums) — the only exchange per
  *     round, k×65 longs per map partition;
  *   - the k-row result is collected to the driver (bounded by k, like
  *     the seed batches in CrawlTopology) and rebroadcast as the next
  *     round's constant.
  * At 1000 executors the per-round cost is one corpus scan + a k-row
  * shuffle — the same shape MLlib's KMeans uses, minus its sampling
  * init.
  *
  * All geometry is EXACT integer math over `floor(x * 2^20)`-quantized
  * components ([[graft.functions.KmeansOps]]): distributed float sums
  * are reduction-order-dependent, and one last-bit difference in a
  * centroid can flip an argmin and cascade — quantized, every engine
  * and every partitioning computes bit-identical clusters, which is
  * what lets a SQL oracle verify the full two-round fixed point
  * hash-exactly.
  */
object Clustering {

  /** Quantization scale: 2^20. Power-of-two, so `x * Scale` is exact in
    * double; embedding components are O(1), so quantized values fit in
    * 21 bits and 64-dim squared distances in ~50 — far from overflow. */
  val Scale: Double = 1048576.0

  /** Inertia is reported as `sum(floor(dist / 2^24))`: raw squared
    * distances reach ~2^42 at real component magnitudes, so a corpus of
    * 2^21+ rows could overflow a long sum; the 2^24 downshift keeps the
    * sum exact-in-long past 10^12 rows. (dist < 2^53, so the double
    * division is exact and floor is deterministic on both engines.) */
  val DistShift: Double = 16777216.0

  /** Per-row cluster assignment after `iters` Lloyd rounds from a
    * deterministic init (the k lowest-id vectors): (id, cluster, dist).
    * The SemDeDup entry point — join this back to the corpus to scope
    * near-dup search within clusters. */
  def assignments(emb: DataFrame, idCol: String, vecCol: String,
                  k: Int = 8, iters: Int = 2): DataFrame = {
    val q = emb.select(col(idCol).as("id"),
      VecExpressions.quantizeLongs(col(vecCol), Scale).as("qv"))
    val cents = lloyd(q, k, iters)
    q.select(col("id"),
        VecExpressions.kmeansAssign(col("qv"), cents).as("a"))
      .select(col("id"), col("a.cluster").as("cluster"), col("a.dist").as("dist"))
  }

  /** Cluster summary after `iters` rounds: (cluster, n, inertia_s) —
    * the oracle-checked view of the whole fixed point (sizes verify the
    * assignment+update rounds exactly; the downshifted inertia verifies
    * the distance geometry). */
  def summary(emb: DataFrame, idCol: String, vecCol: String,
              k: Int = 8, iters: Int = 2): DataFrame = {
    val q = emb.select(col(idCol).as("id"),
      VecExpressions.quantizeLongs(col(vecCol), Scale).as("qv"))
    val cents = lloyd(q, k, iters)
    q.select(VecExpressions.kmeansAssign(col("qv"), cents).as("a"))
      .select(col("a.cluster").as("cluster"), col("a.dist").as("dist"))
      .groupBy("cluster")
      .agg(count(lit(1)).as("n"),
        sum(floor(col("dist") / lit(DistShift)).cast("long")).as("inertia_s"))
      .orderBy("cluster")
  }

  /** The post-`iters` centroid matrix — for operators composing the
    * clustering with downstream per-cluster work ([[semDedup]]). */
  def centroids(emb: DataFrame, idCol: String, vecCol: String,
                k: Int = 8, iters: Int = 2): Array[Array[Long]] = {
    val q = emb.select(col(idCol).as("id"),
      VecExpressions.quantizeLongs(col(vecCol), Scale).as("qv"))
    lloyd(q, k, iters)
  }

  /** Per-group embedding centroid OUTLIERS — data-quality triage: the
    * far tail of a language/source/cluster's embedding distribution is
    * where mislabeled and garbage documents live, and "distance to own
    * group's centroid" is the standard cheap outlier score. Quantized
    * exact-integer geometry end to end (the [[lloyd]] argument: float
    * mean + float distance are reduction-order-dependent; floor'd
    * integer sums and the floor-of-exact-double-division centroid are
    * engine-exact), so a SQL oracle verifies the OUTLIER CHOICE, not
    * just distances.
    *
    * Scale: one dim-explode aggregation (map-side partials; working
    * set = groups × dims rows), the groups×dims centroid table
    * broadcast back, distance + top-k per group in one window over
    * corpus rows scored map-only. The window's sort is per-group; at
    * web scale with few huge groups, swap the window for the q76
    * histogram trick — documented, not needed at the groups-×-topK
    * output sizes this serves. */
  def groupOutliers(emb: DataFrame, idCol: String, vecCol: String,
                    groupExpr: Column, topK: Int): DataFrame = {
    val q = emb.select(col(idCol).as("id"), groupExpr.as("grp"),
      VecExpressions.quantizeLongs(col(vecCol), Scale).as("qv"))
    val cent = q
      .select(col("grp"), posexplode(col("qv")).as(Seq("i", "x")))
      .groupBy("grp", "i").agg(sum("x").as("sm"), count(lit(1)).as("n"))
      .withColumn("c",
        expr("cast(floor(cast(sm as double) / cast(n as double)) as bigint)"))
      .groupBy("grp")
      .agg(transform(array_sort(collect_list(struct(col("i"), col("c")))),
        s => s.getField("c")).as("cv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("grp").orderBy(col("dist").desc, col("id"))
    q.join(broadcast(cent), "grp")
      .withColumn("dist", aggregate(
        zip_with(col("qv"), col("cv"), (a, b) => (a - b) * (a - b)),
        lit(0L), (acc, x) => acc + x))
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= topK)
      .select(col("grp"), col("rnk"), col("id"), col("dist"))
  }

  /** SemDeDup: semantic near-duplicate discovery SCOPED to k-means
    * clusters — cluster the corpus, then search for high-cosine pairs
    * only WITHIN a cluster (and, at scale, within an LSH bucket inside
    * the cluster: the cluster id simply AUGMENTS the bucket join key,
    * so this costs the same single self-join as the global bucketed
    * near-dup [[Similarity.nearDupPairs]] — no extra exchange). One
    * map-only pass derives BOTH pairing keys per row — the cluster
    * (k×dim centroid matrix as a plan-time codegen constant) and the
    * hyperplane bucket — plus the unit vector, so the corpus is never
    * shuffled before the pair join. Zero-norm vectors keep their
    * cluster (quantized geometry is total) but are excluded from
    * pairing, mirroring [[Similarity.normalized]].
    *
    * Returns one row per cluster: member count, qualifying pair count
    * (cosine ≥ `tau`), and the SemDeDup drop count (distinct vectors
    * appearing as the LARGER id of a qualifying pair — the "keep the
    * first representative" rule). Integer-only output: floats exist
    * only inside the per-pair cosine compare, which both engines
    * evaluate with the identical left-to-right fold. */
  def semDedup(emb: DataFrame, idCol: String, vecCol: String,
               k: Int = 8, iters: Int = 2, dim: Int = 64,
               numPlanes: Int = 10, tau: Double = 0.15,
               maxBucket: Int = 1024): DataFrame = {
    val (enriched, pairs) =
      semDedupPairs(emb, idCol, vecCol, k, iters, dim, numPlanes, tau, maxBucket)
    val members = enriched.groupBy("cluster")
      .agg(count(lit(1)).as("n_members"))
    val agg = pairs.groupBy("cluster")
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("b")).as("n_dropped"))
    members.join(agg, Seq("cluster"), "left")
      .select(col("cluster"), col("n_members"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"))
      .orderBy("cluster")
  }

  /** SemDeDup's PRIMARY output for pipeline composition: the id-level
    * keep list — every corpus id minus those dropped by the "keep the
    * first representative" rule (ids appearing as the LARGER member of a
    * qualifying pair). Consume it exactly like [[Dedup.exactDedup]]'s
    * keep list: anti-join side is distinct drop ids (a small fraction of
    * the corpus — broadcastable under AQE), so the corpus itself is
    * never shuffled by the keep join. */
  def semDedupKeep(emb: DataFrame, idCol: String, vecCol: String,
                   k: Int = 8, iters: Int = 2, dim: Int = 64,
                   numPlanes: Int = 10, tau: Double = 0.15,
                   maxBucket: Int = 1024): DataFrame = {
    val (enriched, pairs) =
      semDedupPairs(emb, idCol, vecCol, k, iters, dim, numPlanes, tau, maxBucket)
    val dropped = pairs.select(col("b").as("drop_id")).distinct()
    enriched.select(col("id").as("keep_id"), col("cluster"))
      .join(dropped, col("keep_id") === col("drop_id"), "left_anti")
  }

  /** Shared SemDeDup core: the cluster+bucket-enriched corpus and its
    * qualifying within-(cluster, bucket) cosine pairs. One map-only pass
    * derives BOTH pairing keys per row; the per-(cluster, bucket)
    * population cap (as in nearDupPairs) keeps a degenerate bucket from
    * quadratically blowing up the pair join; renaming AFTER the
    * self-join keeps both children canonically identical so
    * ReuseExchange runs the enrich+cap side once. */
  private def semDedupPairs(emb: DataFrame, idCol: String, vecCol: String,
                            k: Int, iters: Int, dim: Int, numPlanes: Int,
                            tau: Double, maxBucket: Int): (DataFrame, DataFrame) = {
    val cents = centroids(emb, idCol, vecCol, k, iters)
    val enriched = emb.select(
      col(idCol).as("id"),
      VecExpressions.kmeansAssign(
        VecExpressions.quantizeLongs(col(vecCol), Scale), cents)
        .getField("cluster").as("cluster"),
      graft.functions.VecExpressions
        .l2Normalize(col(vecCol).cast("array<double>")).as("nv"))
    val n = enriched.where(col("nv").isNotNull)
      .withColumn("bucket", Similarity.lshBucket(col("nv"), dim, numPlanes))
      .withColumn("bkn", count(lit(1)).over(
        Window.partitionBy(col("cluster"), col("bucket"))))
      .where(col("bkn") <= maxBucket).drop("bkn")
    val pairs = n.as("l").join(n.as("r"), Seq("cluster", "bucket"))
      .where(col("l.id") < col("r.id"))
      .select(col("cluster"), col("l.id").as("a"), col("r.id").as("b"),
        Similarity.dotD(col("l.nv"), col("r.nv")).as("c"))
      .where(col("c") >= tau)
    (enriched, pairs)
  }

  /** The plan one Lloyd round materializes (for `Profile --plans`):
    * map-only assignment against the init centroids feeding the k-row
    * centroid-update aggregate — the round's ONLY exchange. Built from
    * the same column expressions `lloyd` runs, so the dump cannot
    * drift from the loop. */
  def updateRoundPlan(emb: DataFrame, idCol: String, vecCol: String,
                      k: Int = 8): DataFrame = {
    val q = emb.select(col(idCol).as("id"),
      VecExpressions.quantizeLongs(col(vecCol), Scale).as("qv"))
    val cents = q.orderBy("id").limit(k).collect()
      .map(_.getSeq[Long](1).toArray)
    val dim = cents.headOption.map(_.length).getOrElse(0)
    val assigned = q.select(col("qv"),
        VecExpressions.kmeansAssign(col("qv"), cents).as("a"))
      .select(col("qv"), col("a.cluster").as("cluster"))
    val aggs = (1 to dim).map(i => sum(element_at(col("qv"), i)).as(s"s$i"))
    assigned.groupBy("cluster").agg(count(lit(1)).as("n"), aggs: _*)
  }

  /** Run `iters - 1` centroid updates from the deterministic init and
    * return the centroids the FINAL assignment pass should use. Each
    * round is one map-only assignment fused into one k-row aggregate;
    * the k-row collect is bounded by k (documented driver-side set,
    * same contract as the frontier seed batches). */
  private def lloyd(q: DataFrame, k: Int, iters: Int): Array[Array[Long]] = {
    // deterministic init: the k vectors with the smallest ids
    // (TakeOrderedAndProject — no full sort materialization)
    var cents: Array[Array[Long]] = q.orderBy("id").limit(k)
      .collect()
      .map(_.getSeq[Long](1).toArray)
    val dim = cents.headOption.map(_.length).getOrElse(0)
    for (_ <- 1 until iters) {
      val assigned = q.select(col("qv"),
          VecExpressions.kmeansAssign(col("qv"), cents).as("a"))
        .select(col("qv"), col("a.cluster").as("cluster"))
      val aggs = (1 to dim).map(i => sum(element_at(col("qv"), i)).as(s"s$i"))
      val rows = assigned.groupBy("cluster")
        .agg(count(lit(1)).as("n"), aggs: _*)
        .collect() // bounded: ≤ k rows
      val next = cents.map(_.clone()) // empty cluster keeps its centroid
      rows.foreach { r =>
        val j = r.getInt(0)
        val n = r.getLong(1)
        val c = new Array[Long](dim)
        var i = 0
        while (i < dim) {
          // floor of the exact mean: |sum| < 2^53 so the double
          // division is correctly rounded with margin (1/n ≫ ulp)
          c(i) = math.floor(r.getLong(2 + i).toDouble / n.toDouble).toLong
          i += 1
        }
        next(j) = c
      }
      cents = next
    }
    cents
  }
}
