package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.analytics.{Packing, TextAnalysis}

/** Unit truth tables for topTerms / redactPii / sequence packing. */
class TextOpsSpec extends AnyFunSuite with LocalSpark {

  test("topTerms: frequency first, rarity breaks ties, then lexicographic") {
    import spark.implicits._
    val docs = Seq(
      (1L, "apple apple banana cherry"),  // apple tf=2 wins
      (2L, "banana cherry date"),         // all tf=1: banana df=2 = cherry df=2; banana < cherry
      (3L, "cherry zebra zebra"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.topTerms(docs, "doc_id", "text", 2)
      .orderBy("doc_id", "rank")
      .select("doc_id", "rank", "term").as[(Long, Int, String)].collect()
    assert(out(0) == ((1L, 1, "apple")))
    // doc 1 rank 2: banana/cherry tf=1; df: banana 2, cherry 3 -> banana
    assert(out(1) == ((1L, 2, "banana")))
    // doc 2: date df=1 most distinctive at tf parity
    assert(out(2) == ((2L, 1, "date")))
    assert(out(3) == ((2L, 2, "banana")))
    assert(out(4) == ((3L, 1, "zebra")))
    assert(out.length == 6)
  }

  test("topTerms: native top-k aggregate matches the window formulation") {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    // 200 docs over a 30-word vocab across 4 partitions: exercises the
    // aggregate's partial top-k, cross-partition merge and
    // serialize/deserialize, with plenty of tf and df ties
    val docs = (1 to 200).map { i =>
      val ws = (0 until 12).map(j => s"w${(i * 7 + j * j) % 30}")
      (i.toLong, ws.mkString(" "))
    }.toDF("doc_id", "text").repartition(4)
    val toks = docs.select($"doc_id", explode(split($"text", " ")).as("term"))
      .where($"term" =!= "")
    val tf = toks.groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
    val w = Window.partitionBy($"doc_id")
      .orderBy($"tf".desc, $"df".asc, $"term".asc)
    val expected = tf
      .withColumn("df", count(lit(1)).over(Window.partitionBy($"term")))
      .withColumn("rank", row_number().over(w))
      .where($"rank" <= 3)
      .select($"doc_id", $"rank", $"term", $"tf", $"df")
      .orderBy("doc_id", "rank").collect().map(_.toSeq).toSeq
    val actual = TextAnalysis.topTerms(docs, "doc_id", "text", 3)
      .orderBy("doc_id", "rank").collect().map(_.toSeq).toSeq
    assert(actual == expected)
    assert(actual.size == 600) // 200 docs x k=3, nothing dropped
    // vocab guard of 1 forces the huge-vocab shuffle fallback
    // (repartition + broadcast df + native top-k aggregate): both
    // routes must be bit-identical
    val viaShuffle = TextAnalysis.topTerms(docs, "doc_id", "text", 3,
        maxBroadcastVocab = 1)
      .orderBy("doc_id", "rank").collect().map(_.toSeq).toSeq
    assert(viaShuffle == expected)
  }

  test("redactPii: emails, ips, digit runs — in that order") {
    import spark.implicits._
    val docs = Seq((1L, "mail a.b+c@x.co.uk ip 192.168.0.1 num 123456789 short 123"))
      .toDF("doc_id", "text")
    val r = TextAnalysis.redactPii(docs, "doc_id", "text").collect().head
    assert(r.getAs[String]("redacted") ==
      "mail [EMAIL] ip [IP] num [NUM] short 123")
    assert(r.getAs[Int]("n_emails") == 1)
  }

  /** (src, dst) edges forced onto the distributed loop. */
  private def loop(edges: org.apache.spark.sql.DataFrame) =
    graft.analytics.Graph.directed(edges, "src", "dst").forced(local = false)

  /** Plain-Scala reference of the engine's integer recurrence, dangling
    * redistribution included: r' = 0.15s + 0.85(contrib + dangling/|V|). */
  private def pagerankRef(edgeList: Seq[(String, String)], iterations: Int,
                          scale: Long): Map[String, Long] = {
    val outdeg = edgeList.groupBy(_._1).view.mapValues(_.size).toMap
    val nodes = edgeList.flatMap(e => Seq(e._1, e._2)).distinct
    var r = nodes.map(_ -> scale).toMap
    for (_ <- 1 to iterations) {
      val contrib = edgeList.groupBy(_._2).view.mapValues(
        _.map { case (s, _) => r(s) / outdeg(s) }.sum).toMap
      val dangling = nodes.filterNot(outdeg.contains).map(r).sum
      r = nodes.map(n => n ->
        (scale * 15 / 100 +
          85 * (contrib.getOrElse(n, 0L) + dangling / nodes.size) / 100)).toMap
    }
    r
  }

  test("fixed-point pagerank matches an independent in-memory reference") {
    import spark.implicits._
    val edgeList = Seq(
      "a" -> "b", "b" -> "a", "a" -> "c", "c" -> "a", "b" -> "c",
      "d" -> "a") // d is a source-only node; nothing links to d
    val edges = edgeList.toDF("src", "dst")
    val scale = 1000000L
    val got = graft.analytics.LinkGraph.pagerank(edges, iterations = 4, scale = scale)
      .as[(String, Long)].collect().toMap
    // every node here has outlinks -> the dangling term is zero and the
    // recurrence reduces to the classic damped form
    assert(got == pagerankRef(edgeList, 4, scale))
    // unlinked node sits at the damping floor
    assert(got("d") == scale * 15 / 100)
    // deterministic across partitioning
    val got13 = graft.analytics.LinkGraph.pagerank(edges.repartition(13), iterations = 4, scale = scale)
      .as[(String, Long)].collect().toMap
    assert(got13 == got)
  }

  test("pagerank on an empty edge list returns an empty frame (no div-by-zero share)") {
    import spark.implicits._
    val empty = Seq.empty[(String, String)].toDF("src", "dst")
    assert(graft.analytics.LinkGraph.pagerank(empty, iterations = 3,
      scale = 1000000L).collect().isEmpty)
  }

  test("pagerank local fast path is bit-identical to the distributed loop") {
    import spark.implicits._
    // mixed shape: a cycle, a source-only node, and dangling leaves so
    // every term of the recurrence (contrib, floor, dangling share) is
    // exercised on both paths
    val edges = Seq(
      "a" -> "b", "b" -> "a", "a" -> "c", "c" -> "a", "b" -> "c",
      "d" -> "a", "h" -> "x", "h" -> "y").toDF("src", "dst")
    val local = graft.analytics.LinkGraph
      .pagerank(edges, iterations = 4, scale = 1000000L)
      .as[(String, Long)].collect().toMap
    val dist = graft.analytics.LinkGraph
      .pagerankOver(loop(edges), 4, 1000000L)
      .as[(String, Long)].collect().toMap
    assert(local == dist)
  }

  test("postings: df window filter, sorted lists, per-doc distinct shingles") {
    import spark.implicits._
    val docs = Seq(
      (3L, "a b c d"),        // shingles: "a b", "b c", "c d"
      (1L, "a b c"),          // "a b", "b c"
      (2L, "a b a b"),        // "a b" twice in doc -> counted once (distinct)
      (4L, "x y"))            // "x y" df=1 -> below minDf
      .toDF("doc_id", "text")
    val out = TextAnalysis.postings(docs, "doc_id", "text",
        shingleN = 2, minDf = 2, maxDf = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getSeq[Long](2)))
      .toSet
    // "a b" df=3 exceeds maxDf=2; "b c" df=2 qualifies, postings sorted
    assert(out === Set(("b c", 2L, Seq(1L, 3L))))
  }

  test("postings: digest-collapsed path is bit-identical to the direct path on a replicated corpus") {
    import spark.implicits._
    val base = Seq(
      (1L, "a b c d"), (2L, "a b c"), (3L, "x y z w"), (4L, "x y q"))
    // 3 verbatim replicas with shifted ids (the gen_scale shape)
    val docs = (0 until 3).flatMap(r => base.map { case (i, t) => (i + r * 100, t) })
      .toDF("doc_id", "text")
    def pset(f: org.apache.spark.sql.DataFrame) =
      f.collect().map(r => (r.getString(0), r.getLong(1), r.getSeq[Long](2))).toSet
    def u(unique: Boolean) = graft.analytics.Collapse.units(docs, "doc_id", "text", Nil, unique)
    val d = TextAnalysis.postingsOver(u(true), 2, 2, 6)
    val c = TextAnalysis.postingsOver(u(false), 2, 2, 6)
    assert(pset(d) === pset(c))
    assert(pset(d).nonEmpty) // "a b" df=6 qualifies under maxDf=6
  }

  test("collocations: integer PMI ratio with fixed division order; minCount floors") {
    import spark.implicits._
    // corpus: "p q" always together (high assoc), "r" everywhere (low)
    val docs = Seq.fill(5)((1L, "p q r r r r")).zipWithIndex
      .map { case ((_, t), i) => (i.toLong, t) }.toDF("doc_id", "text")
    val out = TextAnalysis.collocations(docs, "text",
        scale = 1000000L, minCount = 5)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // tokens: p=5, q=5, r=20, N=30; bigrams each appear 5x: "p q","q r","r r"(3x per doc = 15)
    // assoc("p q") = ((5*1e6) div 5) * 30 div 5 = 6_000_000
    assert(out("p q") == ((5L, 6000000L)))
    // assoc("q r") = ((5*1e6) div 5) * 30 div 20 = 1_500_000
    assert(out("q r") == ((5L, 1500000L)))
    // assoc("r r") = ((15*1e6) div 20) * 30 div 20 = 1_125_000
    assert(out("r r") == ((15L, 1125000L)))
  }

  test("collocations: replicated corpus routes the collapse; counts scale, assoc is invariant") {
    import spark.implicits._
    val base = (0 until 5).map(i => (i.toLong, "p q r r r r"))
    val rep = (0 until 3).flatMap(r => base.map { case (i, t) => (i + r * 100, t) })
      .toDF("doc_id", "text") // verbatim replicas -> collapsed path
    val out = TextAnalysis.collocations(rep, "text",
        scale = 1000000L, minCount = 5)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // counts are member-weight sums (3x the single-copy corpus);
    // assoc is invariant under uniform replication (floor(ka/kb) =
    // floor(a/b)) — same fixed points as the unreplicated corpus
    assert(out("p q") == ((15L, 6000000L)))
    assert(out("q r") == ((15L, 1500000L)))
    assert(out("r r") == ((45L, 1125000L)))
  }

  /** Plain-Scala min-hop BFS reference. */
  private def bfsRef(edgeList: Seq[(String, String)], seeds: Seq[String],
                     maxDepth: Int): Map[String, Int] = {
    val adj = edgeList.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var depth = seeds.map(_ -> 0).toMap
    var frontier = seeds.distinct
    var d = 0
    while (d < maxDepth && frontier.nonEmpty) {
      d += 1
      val next = frontier.flatMap(adj.getOrElse(_, Nil)).distinct
        .filterNot(depth.contains)
      depth = depth ++ next.map(_ -> d)
      frontier = next
    }
    depth
  }

  test("bfsDepth: min-hop from seeds, off-graph seeds at 0, maxDepth truncates") {
    import spark.implicits._
    // two ways into e (a->e direct, a->b->e) must record depth 1, a
    // cycle (b<->c) must not loop, z is seed-only (absent from graph)
    val edgeList = Seq(
      "a" -> "b", "a" -> "e", "b" -> "e", "b" -> "c", "c" -> "b",
      "c" -> "d", "d" -> "f", "f" -> "g")
    val edges = edgeList.toDF("src", "dst")
    val seeds = Seq("a", "z").toDF("node")
    val got = graft.analytics.LinkGraph.bfsDepth(edges, seeds, maxDepth = 3)
      .as[(String, Int)].collect().toMap
    assert(got == bfsRef(edgeList, Seq("a", "z"), 3))
    assert(got("z") == 0 && got("e") == 1 && got("d") == 3)
    assert(!got.contains("f") && !got.contains("g")) // beyond maxDepth 3
  }

  test("bfsDepth local fast path is bit-identical to the distributed loop") {
    import spark.implicits._
    val edgeList = Seq(
      "a" -> "b", "b" -> "c", "c" -> "a", "c" -> "d", "d" -> "e",
      "x" -> "y", "e" -> "f", "f" -> "g", "g" -> "h")
    val edges = edgeList.toDF("src", "dst")
    val seeds = Seq("a", "x").toDF("node")
    val local = graft.analytics.LinkGraph.bfsDepth(edges, seeds, maxDepth = 4)
      .as[(String, Int)].collect().toMap
    val dist = graft.analytics.LinkGraph
      .bfsOver(loop(edges), seeds, 4)
      .as[(String, Int)].collect().toMap
    assert(local == dist)
    assert(local == bfsRef(edgeList, Seq("a", "x"), 4))
    // early-exit round: nothing new after depth 4 on the x-chain side
    val dist2 = graft.analytics.LinkGraph
      .bfsOver(loop(edges), Seq("x").toDF("node"), 8)
      .as[(String, Int)].collect().toMap
    assert(dist2 == Map("x" -> 0, "y" -> 1))
  }

  /** Plain-Scala reference of the integer HITS recurrence: auth from
    * hubs then max-rescale, hubs from the NEW auths then max-rescale. */
  private def hitsRef(edgeList: Seq[(String, String)], iterations: Int,
                      scale: Long): Map[String, (Long, Long)] = {
    val nodes = edgeList.flatMap(e => Seq(e._1, e._2)).distinct
    var hub = nodes.map(_ -> scale).toMap
    var auth = nodes.map(_ -> scale).toMap
    for (_ <- 1 to iterations) {
      val araw = edgeList.groupBy(_._2).view
        .mapValues(_.map(e => hub(e._1)).sum).toMap
      val am = math.max(if (araw.isEmpty) 1L else araw.values.max, 1L)
      auth = nodes.map(n => n -> araw.getOrElse(n, 0L) * scale / am).toMap
      val hraw = edgeList.groupBy(_._1).view
        .mapValues(_.map(e => auth(e._2)).sum).toMap
      val hm = math.max(if (hraw.isEmpty) 1L else hraw.values.max, 1L)
      hub = nodes.map(n => n -> hraw.getOrElse(n, 0L) * scale / hm).toMap
    }
    nodes.map(n => n -> ((hub(n), auth(n)))).toMap
  }

  test("integer HITS matches an independent reference; hubs/auths split") {
    import spark.implicits._
    // d is a pure directory (points at everything, nothing points at
    // it); c is a pure authority (everyone points at it, no outlinks)
    val edgeList = Seq(
      "d" -> "a", "d" -> "b", "d" -> "c", "a" -> "c", "b" -> "c")
    val edges = edgeList.toDF("src", "dst")
    val got = graft.analytics.LinkGraph.hits(edges, iterations = 3)
      .as[(String, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == hitsRef(edgeList, 3, 1000000L))
    // the best hub holds max hub score; the best authority max auth
    assert(got("d")._1 == 1000000L && got("c")._2 == 1000000L)
    // pure authority has zero hub; pure directory zero auth
    assert(got("c")._1 == 0L && got("d")._2 == 0L)
  }

  test("HITS local fast path is bit-identical to the distributed loop") {
    import spark.implicits._
    val edges = Seq(
      "d" -> "a", "d" -> "b", "d" -> "c", "a" -> "c", "b" -> "c",
      "x" -> "a", "c" -> "d").toDF("src", "dst")
    val local = graft.analytics.LinkGraph.hits(edges, iterations = 3)
      .as[(String, Long, Long)].collect().sortBy(_._1).toSeq
    val dist = graft.analytics.LinkGraph
      .hitsOver(loop(edges), 3, 1000000L)
      .as[(String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(local == dist)
  }

  test("pagerank redistributes dangling mass: total rank conserved on a leaf-heavy graph") {
    import spark.implicits._
    // star: hub h links to 3 leaves with NO outlinks — 3/4 of the mass
    // parks on dangling nodes every round; without redistribution the
    // total collapses toward the damping floor
    val edgeList = Seq("h" -> "l1", "h" -> "l2", "h" -> "l3")
    val scale = 1000000000000L
    val nV = 4
    val got = graft.analytics.LinkGraph
      .pagerank(edgeList.toDF("src", "dst"), iterations = 5, scale = scale)
      .as[(String, Long)].collect().toMap
    assert(got == pagerankRef(edgeList, 5, scale))
    // mass conservation: floor division leaks < (|E| + 2|V|) units per
    // round — at scale 10^12 that is vanishing; the OLD semantics lost
    // 0.85 * dangling/|V| per round (~10^11 units here)
    val total = got.values.sum
    assert(math.abs(total - nV.toLong * scale) < 1000L,
      s"total rank $total vs ${nV.toLong * scale}")
    // leaves all receive hub contribution + equal dangling share: equal
    assert(got("l1") == got("l2") && got("l2") == got("l3"))
    // the hub gets ONLY floor + dangling share; leaves also get the
    // hub's contribution, so they outrank it
    assert(got("l1") > got("h"))
  }

  test("connected components: chains collapse to one component") {
    import spark.implicits._
    // component {1,2,3,4} as a path (diameter 3), component {10,11},
    // pair (20,21)
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 21L))
      .toDF("a", "b")
    val comp = graft.analytics.Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(comp(1L) == 1L && comp(2L) == 1L && comp(3L) == 1L && comp(4L) == 1L)
    assert(comp(10L) == 10L && comp(11L) == 10L)
    assert(comp(20L) == 20L && comp(21L) == 20L)
    // deterministic across partitioning
    val comp7 = graft.analytics.Dedup.connectedComponents(pairs.repartition(7))
      .as[(Long, Long)].collect().toMap
    assert(comp7 == comp)
  }

  test("connected components: a diameter-5 chain fully merges (convergence, not a fixed round count)") {
    import spark.implicits._
    // path 1-2-3-4-5-6: min-label needs 5 propagation rounds to reach
    // node 6; the old fixed iterations=3 would have split this into
    // two clusters and kept a duplicate
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L)).toDF("a", "b")
    val comp = graft.analytics.Dedup.connectedComponents(chain)
      .as[(Long, Long)].collect().toMap
    assert(comp.size == 6)
    assert(comp.values.toSet == Set(1L))
    // the cap really caps: 2 rounds on the same chain leave the tail
    // under-merged (documented diameter bound). Force the distributed
    // loop — the local union-find solve is exact regardless of the cap.
    val capped = graft.analytics.Dedup.componentsOver(
        graft.analytics.Graph.undirected(chain, "a", "b").forced(local = false), 2)
      .as[(Long, Long)].collect().toMap
    assert(capped(6L) != 1L)
  }

  test("sequence packing: chop at budget, straddlers flagged") {
    import spark.implicits._
    // budget 10; tokens 6,6,4 -> doc2 starts at 6 (seq 0) and ends at 11
    // (straddles into seq 1); doc3 starts at 12 -> seq 1
    val docs = Seq(("en", 1L, 6), ("en", 2L, 6), ("en", 3L, 4), ("de", 9L, 25))
      .toDF("lang", "doc_id", "tok")
    val a = Packing.assignSequences(docs, "lang", "doc_id", "tok", 10)
      .select("doc_id", "seq_id", "straddles").as[(Long, Long, Boolean)]
      .collect().toSet
    assert(a.contains((1L, 0L, false)))
    assert(a.contains((2L, 0L, true)))
    assert(a.contains((3L, 1L, false)))
    // a single doc larger than the budget spans multiple sequences
    assert(a.contains((9L, 0L, true)))

    val stats = Packing.packStats(docs, "lang", "doc_id", "tok", 10)
      .where(col("lang") === "en").orderBy("seq_id")
      .select("seq_id", "n_docs", "seq_tokens", "n_straddlers")
      .as[(Long, Long, Long, Long)].collect()
    assert(stats(0) == ((0L, 2L, 12L, 1L)))
    assert(stats(1) == ((1L, 1L, 4L, 0L)))
  }
}
