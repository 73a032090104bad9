package graft.analytics

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField}

/** Link-graph quality signals — PageRank over a (src, dst) edge table,
  * the standard corpus-quality prior a training-data pipeline joins
  * against documents (and the crawl-side analogue of frontier
  * prioritization by host authority).
  *
  * Determinism: ranks are FIXED-POINT integers (`scale` units = rank
  * 1.0). Each iteration is
  * `r' = 0.15*scale + 0.85 * (sum(r div outdeg) + dangling div |V|)`
  * in pure BIGINT arithmetic — floor division and integer sums are
  * order-independent and engine-exact, so a DuckDB oracle reproduces
  * the ranks bit-for-bit (float PageRank can't do that: partial-sum
  * order flips last-ulp bits).
  *
  * Dangling mass IS redistributed (standard PageRank): `dangling` is
  * the summed rank of nodes with no outlinks, and every node receives
  * an equal `dangling div |V|` share each round — without it, total
  * rank is not conserved and ranks skew low on leaf-heavy crawl graphs
  * (most of a web graph's frontier is leaves). Floor division leaks
  * strictly less than `|E| + 2|V|` rank UNITS per round — at
  * scale=10^12 that is a 10^-9 relative error bound, not a leak that
  * grows with graph shape.
  *
  * Scale: each iteration is one shuffle (groupBy dst) plus a reused
  * join of the rank table against edges, plus one tiny anti-join
  * aggregate for the dangling sum (|V| rows, nothing touches edges).
  * Because the rank table is referenced TWICE per round (contributions
  * + dangling sum), each round is materialized via a local checkpoint
  * — |V| rows, orders of magnitude smaller than the edges — and the
  * previous round's blocks are freed as soon as the new round lands.
  */
object LinkGraph {

  /** Fixed-point PageRank with dangling-mass redistribution. Returns
    * (node, rank) with rank in `scale` units (divide by scale for the
    * conventional value). Precondition (enforced): |V|*scale*100 must
    * fit in a BIGINT — pick `scale` to match the graph size. Routed by
    * [[Graph]]; the recurrence needs no ordering on node ids, so any
    * key type can take the local route. */
  def pagerank(edges: DataFrame, srcCol: String = "src", dstCol: String = "dst",
               iterations: Int = 3, scale: Long = 1000000000000L): DataFrame =
    pagerankOver(Graph.directed(edges, srcCol, dstCol), iterations, scale)

  private[graft] def pagerankOver(g: Graph.Edges, iterations: Int, scale: Long): DataFrame =
    g.solve(pagerankLocal(g, _, iterations, scale)) { e =>
      // loop invariants are cached: vertices and out-degrees are re-read
      // every round, and an uncached copy would re-aggregate the edges
      // per iteration. try/finally: the overflow check fires AFTER these
      // caches land, and a failed precondition must not leave them
      // pinned in the block manager for the session.
      val vertices = nodes(e).cache()
      val outdeg = outDegrees(e).cache()
      try {
        val nV = vertices.count() // also materializes the vertices cache
        checkScale(nV, scale)
        Graph.rounds(vertices.withColumn("rank", lit(scale)), iterations,
          round(e, vertices, outdeg, _, nV, (scale * 15L) / 100L))._1
      } finally { vertices.unpersist(); outdeg.unpersist() }
    }

  /** Overflow precondition: total rank is conserved at ~|V|*scale
    * units, and the dangling sum (and any contribution partial sum) is
    * bounded by it — so |V|*scale must fit a BIGINT with headroom for
    * the `85 *` numerator. Silent Long wrap would corrupt ranks while a
    * DuckDB oracle raises, so fail fast instead: the default
    * scale=10^12 admits |V| up to ~9.2e4; callers at web scale (10^9+
    * nodes) pass a smaller `scale` (10^6 still gives 6 exact decimal
    * digits of rank and admits |V| up to ~9.2e10). */
  private def checkScale(nV: Long, scale: Long): Unit =
    require(scale > 0 && nV <= Long.MaxValue / 100L / scale,
      s"pagerank fixed-point overflow: |V|=$nV * scale=$scale * 85 exceeds " +
        "Long range; lower `scale` so that |V|*scale*100 < 2^63")

  /** Driver-local solve of the same recurrence: one HashMap pass per
    * round over the collected (distinct) edge list. Every operation is
    * the distributed plan's under Java long semantics — `/` on the
    * strictly-non-negative ranks IS SQL `div`, and integer sums are
    * order-independent — so outputs are bit-identical to the loop. */
  private def pagerankLocal(g: Graph.Edges, rows: Array[Row], iterations: Int,
                            scale: Long): DataFrame = {
    val outdeg = new java.util.HashMap[Any, Long]()
    val verts = new java.util.LinkedHashSet[Any]()
    rows.foreach { r =>
      outdeg.merge(r.get(0), 1L, (a, b) => a + b)
      verts.add(r.get(0)); verts.add(r.get(1))
    }
    val nV = verts.size.toLong
    checkScale(nV, scale)
    val base = (scale * 15L) / 100L
    var ranks = new java.util.HashMap[Any, Long]()
    verts.forEach(v => ranks.put(v, scale))
    for (_ <- 1 to iterations) {
      val contrib = new java.util.HashMap[Any, Long]()
      rows.foreach { r =>
        val s = r.get(0)
        contrib.merge(r.get(1), ranks.get(s) / outdeg.get(s), (a, b) => a + b)
      }
      var dangling = 0L
      verts.forEach(v => if (!outdeg.containsKey(v)) dangling += ranks.get(v))
      // the share divides per vertex, as in the loop, so an empty graph
      // never divides by |V| = 0
      val next = new java.util.HashMap[Any, Long]()
      verts.forEach(v =>
        next.put(v, base + (85L * (contrib.getOrDefault(v, 0L) + dangling / nV)) / 100L))
      ranks = next
    }
    g.solved(Seq(StructField("rank", LongType)),
      verts.asScala.toSeq.map(v => Row(v, ranks.get(v))))
  }

  /** HITS hubs & authorities over the same edge table — the
    * complementary link-graph prior (PageRank ranks endorsement mass;
    * HITS separates DIRECTORY pages, which point at good content,
    * from AUTHORITY pages, which are pointed at — the classic
    * Kleinberg formulation, and the crawl-side signal for seeding:
    * high-hub hosts are the frontier's best discovery sources).
    * Returns (node, hub, auth) in `scale` fixed-point units.
    *
    * Determinism: the float formulation L2-normalizes each half-step —
    * order-dependent summation, engine-divergent. Here each half-step
    * is an integer sum followed by an integer MAX-rescale
    * (`x * scale div max(x)`): sums are order-independent, max is
    * exact, floor division is exact, so the whole fixed point is
    * bit-identical at any parallelism and hash-checkable by a SQL
    * oracle. Max-normalization is order-equivalent to L2 for ranking
    * (both are positive scalings of the same power-iteration vector).
    *
    * Routed by [[Graph]]. Each distributed round is two edge⋈score
    * joins and two aggregations over the edge cache, with two 1-row max
    * aggregates riding back as broadcasts. */
  def hits(edges: DataFrame, srcCol: String = "src", dstCol: String = "dst",
           iterations: Int = 2, scale: Long = 1000000L): DataFrame =
    hitsOver(Graph.directed(edges, srcCol, dstCol), iterations, scale)

  private[graft] def hitsOver(g: Graph.Edges, iterations: Int, scale: Long): DataFrame = {
    // raw auth ≤ |E|·scale, and the rescale multiplies by `scale`
    // again before the division — |E|·scale² must fit a BIGINT
    require(scale > 0 && g.count <= Long.MaxValue / scale / scale,
      s"hits fixed-point overflow: |E|=${g.count} * scale² exceeds Long range; " +
        "lower `scale` (10^6 admits ~9.2e6 edges, 10^3 admits ~9.2e12)")
    g.solve(hitsLocal(g, _, iterations, scale)) { e =>
      val vertices = nodes(e).cache()
      try Graph.rounds(vertices.withColumn("hub", lit(scale)).withColumn("auth", lit(scale)),
          iterations, hitsRound(e, vertices, _, scale))._1
      finally vertices.unpersist()
    }
  }

  /** One HITS round: auth from hubs, rescale by max; hubs from the NEW
    * auths, rescale by max. The 1-row max tables cross-join back as
    * broadcasts — nothing corpus-sized moves except the two edge⋈score
    * joins over the pre-partitioned edge cache. */
  private def hitsRound(e: DataFrame, vertices: DataFrame,
                        scores: DataFrame, scale: Long): DataFrame = {
    val araw = e
      .join(scores.select(col("node").as("src"), col("hub")), "src")
      .groupBy(col("dst").as("node")).agg(sum("hub").as("araw"))
    val amax = araw.agg(greatest(max("araw"), lit(1L)).as("am"))
    val a = vertices.join(araw, Seq("node"), "left").crossJoin(amax)
      .select(col("node"),
        expr(s"coalesce(araw, 0L) * $scale div am").as("auth"))
    val hraw = e
      .join(a.select(col("node").as("dst"), col("auth")), "dst")
      .groupBy(col("src").as("node")).agg(sum("auth").as("hraw"))
    val hmax = hraw.agg(greatest(max("hraw"), lit(1L)).as("hm"))
    vertices.join(hraw, Seq("node"), "left").crossJoin(hmax)
      .select(col("node"),
        expr(s"coalesce(hraw, 0L) * $scale div hm").as("hub"))
      .join(a, "node")
      .select(col("node"), col("hub"), col("auth"))
  }

  /** Driver-local mirror of [[hitsRound]] — Java long `/` on the
    * non-negative scores IS SQL `div`, integer sums and max are
    * order-independent, so outputs are bit-identical to the loop. */
  private def hitsLocal(g: Graph.Edges, rows: Array[Row], iterations: Int,
                        scale: Long): DataFrame = {
    val verts = new java.util.LinkedHashSet[Any]()
    rows.foreach { r => verts.add(r.get(0)); verts.add(r.get(1)) }
    var hub = new java.util.HashMap[Any, Long]()
    var auth = new java.util.HashMap[Any, Long]()
    verts.forEach { v => hub.put(v, scale); auth.put(v, scale) }
    for (_ <- 1 to iterations) {
      val araw = new java.util.HashMap[Any, Long]()
      rows.foreach(r => araw.merge(r.get(1), hub.get(r.get(0)), (a, b) => a + b))
      var am = 1L
      araw.values.forEach(v => if (v > am) am = v)
      val a2 = new java.util.HashMap[Any, Long]()
      verts.forEach(v => a2.put(v, araw.getOrDefault(v, 0L) * scale / am))
      val hraw = new java.util.HashMap[Any, Long]()
      rows.foreach(r => hraw.merge(r.get(0), a2.get(r.get(1)), (a, b) => a + b))
      var hm = 1L
      hraw.values.forEach(v => if (v > hm) hm = v)
      val h2 = new java.util.HashMap[Any, Long]()
      verts.forEach(v => h2.put(v, hraw.getOrDefault(v, 0L) * scale / hm))
      hub = h2; auth = a2
    }
    g.solved(Seq(StructField("hub", LongType), StructField("auth", LongType)),
      verts.asScala.toSeq.map(v => Row(v, hub.get(v), auth.get(v))))
  }

  /** Minimum-hop BFS depth from a seed set over a (src, dst) edge
    * table — the crawl-depth computation behind the reference's
    * MaxDepth filter (`core/.../filtering/depth/MaxDepthFilter.java`
    * reads the `depth` counter `MetadataTransfer.getMetaForOutlink`
    * increments per hop, `core/.../util/MetadataTransfer.java:150`):
    * seeds sit at depth 0 and every reachable node's depth is the
    * length of the shortest link path from any seed — the value an
    * incremental crawl records when a page is always discovered
    * through its shortest chain. Training-data face: link distance
    * from trusted seeds is a standard corpus-quality prior.
    *
    * Returns (node, depth:int) for seeds and nodes reachable within
    * `maxDepth` hops; unreachable nodes are absent (at web scale the
    * unreachable complement would dwarf the result). Seeds absent
    * from the graph still appear at depth 0 — a seed list is a crawl
    * input, not a subset of the discovered link graph.
    *
    * Determinism: depths are exact small integers — no arithmetic
    * beyond hop counting — so evaluation order cannot perturb the
    * output and a recursive-CTE oracle reproduces it bit-for-bit.
    *
    * Scale: level-synchronous frontier expansion. Round d joins the
    * CURRENT frontier (nodes first reached at d-1, NOT the whole
    * visited set) against the edge cache pre-partitioned on src, then
    * anti-joins the visited set so only first sightings survive. Each
    * round moves |frontier| + |new| rows; the |E|-row edge table is
    * never re-exchanged after round 1. Per-depth layers checkpoint
    * (lineage would otherwise deepen per hop) and the returned frame
    * is their union. Routed by [[Graph]]. */
  def bfsDepth(edges: DataFrame, seeds: DataFrame,
               srcCol: String = "src", dstCol: String = "dst",
               seedCol: String = "node", maxDepth: Int = 8): DataFrame =
    bfsOver(Graph.directed(edges, srcCol, dstCol),
      seeds.select(col(seedCol).as("node")), maxDepth)

  /** [[bfsDepth]] from `seeds` (column `node`). */
  private[graft] def bfsOver(g: Graph.Edges, seeds: DataFrame, maxDepth: Int): DataFrame = {
    val s0 = seeds.distinct()
    g.solve(bfsLocal(g, _, s0, maxDepth)) { e =>
      val layers = scala.collection.mutable.ArrayBuffer(
        Graph.kept(s0.withColumn("depth", lit(0)))._1)
      var frontier = layers.head.select("node")
      var d = 0
      var grew = true
      while (d < maxDepth && grew) {
        d += 1
        val visited = layers.map(_.select("node")).reduce(_ union _)
        val next = e
          .join(frontier.withColumnRenamed("node", "src"), "src")
          .select(col("dst").as("node")).distinct()
          .join(visited, Seq("node"), "left_anti")
          .withColumn("depth", lit(d))
        val (chk, n) = Graph.kept(next)
        grew = n > 0
        if (grew) { layers += chk; frontier = chk.select("node") }
      }
      // every kept layer backs the returned union
      layers.reduce(_ union _)
    }
  }

  /** Driver-local BFS over the collected (distinct) edge list — the
    * same level-synchronous expansion; integer hop counts make the
    * two paths bit-identical by construction. Seeds are collected
    * too: a seed list is operator input like the guard-sized edge
    * list, and callers at scale run the distributed loop anyway. */
  private def bfsLocal(g: Graph.Edges, rows: Array[Row], seeds: DataFrame,
                       maxDepth: Int): DataFrame = {
    val adj = new java.util.HashMap[Any, scala.collection.mutable.ArrayBuffer[Any]]()
    rows.foreach { r =>
      adj.computeIfAbsent(r.get(0),
        _ => scala.collection.mutable.ArrayBuffer.empty[Any]) += r.get(1)
    }
    val depth = new java.util.LinkedHashMap[Any, Int]()
    var frontier = scala.collection.mutable.ArrayBuffer.empty[Any]
    seeds.collect().foreach { r =>
      val v = r.get(0)
      if (!depth.containsKey(v)) { depth.put(v, 0); frontier += v }
    }
    var d = 0
    while (d < maxDepth && frontier.nonEmpty) {
      d += 1
      val nf = scala.collection.mutable.ArrayBuffer.empty[Any]
      frontier.foreach { v =>
        val out = adj.get(v)
        if (out != null) out.foreach { w =>
          if (!depth.containsKey(w)) { depth.put(w, d); nf += w }
        }
      }
      frontier = nf
    }
    g.solved(Seq(StructField("depth", IntegerType, nullable = false)),
      depth.asScala.toSeq.map { case (v, dd) => Row(v, dd) },
      Seq(seeds.schema("node"), g.df.schema("dst")))
  }

  /** One PageRank round, pre-checkpoint — the plan each iteration
    * materializes. Shared between the loop and [[roundPlan]] so the
    * dumped explain can never drift from the shipped iteration. */
  private def round(e: DataFrame, vertices: DataFrame, outdeg: DataFrame,
                    ranks: DataFrame, nV: Long, base: Long): DataFrame = {
    val contribs = e
      .join(ranks.withColumnRenamed("node", "src"), "src")
      .join(outdeg, "src")
      // integer `div` BEFORE the sum: exact floor, order-independent
      // (a double `/` + cast could differ from true floor by 1 ulp)
      .selectExpr("dst AS node", "rank div outdeg AS c")
      .groupBy("node").agg(sum(col("c")).as("contrib"))
    // dangling mass: total rank parked on nodes with no outlinks —
    // a left-anti of the |V|-row rank table against the out-degree
    // table, reduced to ONE row (cross-joins back as a broadcast)
    val dangling = ranks
      .join(outdeg.select(col("src").as("node")), Seq("node"), "left_anti")
      .agg(coalesce(sum(col("rank")), lit(0L)).as("dangling"))
    vertices
      .join(contribs, Seq("node"), "left")
      .crossJoin(dangling)
      .select(col("node"),
        (lit(base) +
          expr(s"(85 * (coalesce(contrib, 0L) + dangling div $nV)) div 100"))
          .cast("long").as("rank"))
  }

  /** Round-1's pre-checkpoint frame for plan inspection (`Profile --plans`):
    * the real loop materializes exactly this shape every iteration —
    * the post-checkpoint plan is just a scan of its output. */
  private[graft] def roundPlan(edges: DataFrame, srcCol: String = "src",
                               dstCol: String = "dst",
                               scale: Long = 1000000000000L): DataFrame = {
    val e = Graph.directedRows(edges, srcCol, dstCol)
    val vertices = nodes(e)
    round(e, vertices, outDegrees(e), vertices.withColumn("rank", lit(scale)),
      vertices.count(), (scale * 15L) / 100L)
  }

  private def nodes(e: DataFrame): DataFrame =
    e.select(col("src").as("node")).union(e.select(col("dst").as("node"))).distinct()

  private def outDegrees(e: DataFrame): DataFrame =
    e.groupBy("src").agg(count(lit(1)).as("outdeg"))
}
