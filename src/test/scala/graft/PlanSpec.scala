package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions — the scale contract: filters reach the
  * parquet scan (PushedFilters), projections prune the read schema, and
  * per-query shuffle counts stay at the minimum the semantics require.
  * These are the properties that decide whether a plan survives a 100×
  * scale-up, checked mechanically. */
class PlanSpec extends AnyFunSuite with LocalSpark {
  private val sf = "/root/testdata/sf0.001"

  // executedPlan is the AQE wrapper (no children pre-execution); the
  // pre-AQE sparkPlan carries the scans, and shuffle counting needs the
  // post-EnsureRequirements plan — run the query, then read the final
  // adaptive plan string.
  private def scans(name: String) = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.sparkPlan.collect { case s: FileSourceScanExec => s }
  }

  // counts hash shuffles only — the trailing orderBy for oracle
  // determinism adds a rangepartitioning exchange that isn't part of
  // the operator's semantics
  private def shuffles(name: String): Int = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.count() // materialize so AQE finalizes the plan
    df.queryExecution.executedPlan.toString.linesIterator
      .count(_.contains("Exchange hashpartitioning"))
  }

  /** Hash exchanges in the FINAL adaptive plan only (the executed-plan
    * string appends the pre-execution "== Initial Plan ==", whose
    * exchanges may be deduplicated at runtime via ReusedExchange —
    * counting them double-bills a reused stage). Returns the final
    * count and whether any exchange was runtime-reused. */
  private def finalShuffles(name: String): (Int, Boolean) = {
    val df = SparkEntry.queries(name)(spark, sf)
    // toRdd (the bench's own action): count() wraps the query in a new
    // Dataset whose execution did NOT runtime-reuse the canonically
    // identical exchanges (observed: two copies of the (doc,bkt)
    // exchange under count(), ReusedExchange under toRdd) — measure
    // the plan the bench actually runs.
    df.queryExecution.toRdd.count(): Unit
    val s = df.queryExecution.executedPlan.toString
    val fin = s.split("== Initial Plan ==")(0)
    // a ReusedExchange line embeds the reused exchange's description in
    // its argString — it is a stage-cache HIT, not a second shuffle
    (fin.linesIterator.count(l =>
        l.contains("Exchange hashpartitioning") && !l.contains("ReusedExchange")),
      fin.contains("ReusedExchange"))
  }

  test("q01: shipdate filter pushed to parquet scan, schema pruned") {
    val s = scans("q01_pricing_summary")
    assert(s.nonEmpty)
    val meta = s.head.metadata
    assert(meta("PushedFilters").contains("l_shipdate"), meta("PushedFilters"))
    // only the referenced columns are read
    val readSchema = meta("ReadSchema")
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_partkey"), readSchema)
  }

  test("q06: rlike filter chain evaluates over a pruned 3-column read") {
    val s = scans("q06_filter_chain")
    assert(s.nonEmpty)
    val readSchema = s.head.metadata("ReadSchema")
    // url is derived from doc_id+source; text/lang never read
    assert(!readSchema.contains("text"), readSchema)
  }

  test("q02 frontier top-K plans exactly one shuffle (the min-k aggregate)") {
    assert(shuffles("q02_frontier_topk") == 1)
  }

  test("q13 broadcast join keeps the fact table un-shuffled on the dim side") {
    val df = SparkEntry.queries("q13_join_revenue")(spark, sf)
    val plan = df.queryExecution.sparkPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("q09 bounded output plans as TakeOrderedAndProject, not a global sort") {
    // the round-12 bounded-output contract: the indexer ships one bulk
    // batch (first 1000 by event_id), so the plan must be a per-partition
    // top-K heap (TakeOrderedAndProject), never a full Sort of the
    // filtered projection — the shape that cost 260 s at sf100.
    val df = SparkEntry.queries("q09_indexer_projection")(spark, sf)
    val plan = df.queryExecution.sparkPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.linesIterator.exists(l => l.contains("Sort ") && l.contains("global=true")), plan)
  }

  test("q25 cosine top-k broadcasts the query side") {
    val df = SparkEntry.queries("q25_cosine_topk")(spark, sf)
    val plan = df.queryExecution.sparkPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"), plan)
  }

  test("iterative round bodies: edge side pre-partitioned on the join key") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    // connected components: the symmetrized pair list is cached
    // partitioned+sorted on y, so every round's edge⋈label join reuses
    // it — assert the materialized cache really carries HashPartitioning(y)
    val pairs = spark.range(0, 200).select(
      (col("id") % 37).as("a"), (col("id") % 53 + 100).as("b"))
    val cc = graft.analytics.Dedup.ccRoundPlan(pairs)
    val sorts = cc.queryExecution.executedPlan.toString
    // the und side appears under the round's SMJ; its exchange must be
    // the ONE repartition(y) from symmetrized(), not a per-round
    // ENSURE_REQUIREMENTS exchange: count hashpartitioning(y...) sites
    assert(sorts.contains("hashpartitioning(y"), sorts.take(2000))

    // pagerank: same property for the edge table on src
    val edges = spark.range(0, 200).select(
      concat(lit("h"), (col("id") % 13).cast("string")).as("src"),
      concat(lit("h"), (col("id") % 7 + 13).cast("string")).as("dst"))
    val pr = graft.analytics.LinkGraph.roundPlan(edges)
    assert(pr.queryExecution.executedPlan.toString.contains("hashpartitioning(src"),
      pr.queryExecution.executedPlan.toString.take(2000))
  }

  test("q50 round checkpoint frame plans over a LogicalRDD, not the round DAG") {
    import org.apache.spark.sql.functions._
    val pairs = spark.range(0, 50).select(
      (col("id") % 11).as("a"), (col("id") % 13 + 20).as("b"))
    // force the distributed loop (the 100 TB path): the local-solve
    // fast path would otherwise absorb this toy graph
    val labels = graft.analytics.Dedup.componentsOver(
      graft.analytics.Graph.undirected(pairs, "a", "b").forced(local = false), 20)
    val plan = labels.queryExecution.optimizedPlan.toString
    assert(plan.contains("LogicalRDD") || plan.contains("ExistingRDD"),
      s"converged labels must be a checkpoint scan:\n$plan")
  }

  test("q50 small graphs take the driver-local union-find solve") {
    import org.apache.spark.sql.functions._
    val pairs = spark.range(0, 50).select(
      (col("id") % 11).as("a"), (col("id") % 13 + 20).as("b"))
    val labels = graft.analytics.Dedup.connectedComponents(pairs)
    val plan = labels.queryExecution.optimizedPlan.toString
    assert(plan.contains("LocalRelation"),
      s"small pair graphs must solve locally (no per-round jobs):\n$plan")
  }

  test("q50 pair generation: digest pre-aggregation below the self-join") {
    import org.apache.spark.sql.functions._
    val docs = spark.range(0, 300).select(
      col("id").as("doc_id"),
      concat(lit("w"), (col("id") % 40).cast("string"),
        lit(" x y z common words "), (col("id") % 7).cast("string")).as("text"),
      (col("id") % 3).cast("string").as("source"))
    val rp = graft.analytics.Dedup.repPairs(docs, "doc_id", "text", "source")
    rp.collect()
    val plan = rp.queryExecution.executedPlan.toString
    // verbatim collapse = a hash aggregate shuffled on (source, digest)
    // BEFORE any join; the self-join sides still share one exchange
    assert(plan.contains("hashpartitioning(source") && plan.contains("digest"),
      plan.take(3000))
    assert(plan.contains("ReusedExchange"), plan.take(3000))
  }

  test("q61 temperature rates broadcast onto the corpus; ≤2 group-sized shuffles") {
    val df = SparkEntry.queries("q61_temperature_sample")(spark, sf)
    df.count()
    val plan = df.queryExecution.executedPlan.toString
    // the rate table (group-cardinality-sized) must be the broadcast
    // side — the corpus stays a map-side filtered scan
    assert(plan.contains("BroadcastExchange"), plan.take(3000))
    // hash shuffles: the rate count-agg and the final per-lang agg,
    // both group-sized after map-side partials; the corpus never
    // hash-shuffles
    assert(shuffles("q61_temperature_sample") <= 2)
  }

  test("q67 DSIR: ratio LUT broadcasts, top-k is TakeOrdered, one tokenize pass") {
    val df = SparkEntry.queries("q67_dsir_topk")(spark, sf)
    df.count()
    val plan = df.queryExecution.executedPlan.toString
    // the 4096-bucket LUT must be the broadcast side; the top-20 must
    // be per-partition heaps, never a global sort
    assert(plan.contains("BroadcastExchange"), plan.take(3000))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(3000))
    // r16 shape: the token stream compacts to per-(doc, bucket) counts
    // whose exchange BOTH consumers share — ≤3 hash shuffles in the
    // final plan (the compacted (doc,bkt) frame, the 4096-bucket count
    // agg, the per-doc score agg; all map-side partial-aggregated) and
    // the (doc,bkt) exchange must be runtime-REUSED, which is what
    // makes the tokenize+md5 corpus pass run once.
    val (n, reused) = finalShuffles("q67_dsir_topk")
    assert(n <= 3, s"final-plan hash shuffles: $n")
    assert(reused, "expected ReusedExchange (single tokenize pass) in the final plan")
  }

  test("q69 embed decontamination: eval side broadcast, one hash shuffle") {
    val df = SparkEntry.queries("q69_embed_decontaminate")(spark, sf)
    df.count()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    // only the hits-aggregation shuffles (hit rows, not the corpus)
    assert(shuffles("q69_embed_decontaminate") <= 1)
  }

  test("q70 range shard: assignment via broadcast map, corpus never sorted") {
    val df = SparkEntry.queries("q70_range_shard")(spark, sf)
    df.count()
    val plan = df.queryExecution.executedPlan.toString
    // the value→shard map broadcasts back onto the corpus
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    // hash shuffles: histogram agg + final per-shard agg; the window
    // runs over the histogram (SinglePartition exchange), not corpus
    assert(shuffles("q70_range_shard") <= 2)
  }

  test("pair-generator self-joins reuse one exchange (single corpus pass)") {
    import org.apache.spark.sql.functions._
    // the expensive side (minhash/tokenize/normalize + window) must be
    // evaluated ONCE: both join children canonicalize identically, so
    // the second side is a ReusedExchange over the first's shuffle
    val docs = spark.range(0, 300).select(
      col("id").as("doc_id"),
      concat(lit("w"), (col("id") % 40).cast("string"),
        lit(" x y z common words "), (col("id") % 7).cast("string")).as("text"),
      (col("id") % 3).cast("string").as("source"))
    val lsh = graft.analytics.Dedup.lshCandidatePairs(docs, "doc_id", "text", "source")
    lsh.collect() // AQE: reuse is visible in the final adaptive plan
    assert(lsh.queryExecution.executedPlan.toString.contains("ReusedExchange"),
      lsh.queryExecution.executedPlan.toString.take(3000))

    val jac = graft.analytics.Dedup.jaccardPairs(docs, "doc_id", "text", "source", 0.1)
    jac.collect()
    assert(jac.queryExecution.executedPlan.toString.contains("ReusedExchange"),
      jac.queryExecution.executedPlan.toString.take(3000))

    val emb = spark.range(0, 100).select(col("id").as("vec_id"),
      array((0 until 8).map(i => (hash(col("id"), lit(i)) % 100).cast("float") / 100f): _*)
        .as("embedding"))
    val ndp = graft.analytics.Similarity.nearDupPairs(emb, "vec_id", "embedding", 8, 4, 10)
    ndp.collect()
    assert(ndp.queryExecution.executedPlan.toString.contains("ReusedExchange"),
      ndp.queryExecution.executedPlan.toString.take(3000))
  }
}
