package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.analytics.{Collapse, Dedup, Graph, Similarity}

/** Skew defenses in the dedup pair generators: a degenerate input
  * (many identical / boilerplate docs) must complete with a BOUNDED
  * pair count instead of N²/2 rows — the hot-bucket cap in
  * lshCandidatePairs and the document-frequency prune in jaccardPairs. */
class DedupSkewSpec extends AnyFunSuite with LocalSpark {

  import spark.implicits._

  private def boilerplate(n: Int) =
    (1 to n).map(i => (i.toLong, "all rights reserved copyright notice page", "web"))
      .toDF("doc_id", "text", "source")

  test("lshCandidatePairs: 1k identical docs produce ZERO pairs under the cap, not 500k") {
    val docs = boilerplate(1000)
    val pairs = Dedup.lshCandidatePairs(docs, "doc_id", "text", "source", maxBucket = 100)
    assert(pairs.count() === 0L)
  }

  test("lshCandidatePairs: cap leaves small buckets untouched") {
    // 50 identical docs + 2 distinct docs; bucket of 50 is under the cap
    val docs = boilerplate(50)
      .union(Seq((9001L, "entirely unrelated text about gardens", "web"),
                 (9002L, "another text mentioning ships and sails", "web"))
        .toDF("doc_id", "text", "source"))
    val pairs = Dedup.lshCandidatePairs(docs, "doc_id", "text", "source", maxBucket = 100)
    assert(pairs.count() === 50L * 49 / 2) // the identical cluster, all pairs
    val capped = Dedup.lshCandidatePairs(docs, "doc_id", "text", "source", maxBucket = 10)
    assert(capped.count() === 0L) // same cluster over a tighter cap: dropped
  }

  test("lshCandidatePairCounts: weight arithmetic equals the enumeration on a duplicate-heavy corpus") {
    // 3 texts × multiplicities (7, 3, 1) across two sources, plus a
    // near-dup pair across distinct digests — the counts face must
    // match the enumeration face exactly (cliques AND cross pairs)
    val docs = (
      (1 to 7).map(i => (i.toLong, "the quick brown fox jumps over dogs", "web")) ++
      (8 to 10).map(i => (i.toLong, "a completely different second story", "web")) ++
      Seq((11L, "the quick brown fox jumps over dogs", "cc"),
          (12L, "the quick brown fox jumps over cats", "web"), // near-dup of text 1
          (13L, "unrelated singleton about lighthouses", "cc"))
    ).toDF("doc_id", "text", "source")
    val enumerated = Dedup.lshCandidatePairs(docs, "doc_id", "text", "source")
      .groupBy("source").count().withColumnRenamed("count", "n_pairs")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val counted = Dedup.lshCandidatePairCounts(docs, "doc_id", "text", "source")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counted === enumerated)
    assert(counted.values.sum > 0L) // non-vacuous: cliques exist
    // cap semantics carry over: tight cap drops the size-7 clique's mass
    val enumCapped = Dedup.lshCandidatePairs(docs, "doc_id", "text", "source", maxBucket = 5)
      .groupBy("source").count().withColumnRenamed("count", "n_pairs")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val cntCapped = Dedup.lshCandidatePairCounts(docs, "doc_id", "text", "source", maxBucket = 5)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(cntCapped === enumCapped)
  }

  test("lshCandidatePairCounts: unique corpus routes direct and matches the enumeration") {
    // no verbatim duplicates at all — the adaptive route must take the
    // direct pipeline (weights all 1) and still equal the enumeration;
    // two near-dup docs guarantee a non-vacuous pair
    val docs = Seq(
      (1L, "the quick brown fox jumps over dogs", "web"),
      (2L, "the quick brown fox jumps over cats", "web"),
      (3L, "a completely different second story", "web"),
      (4L, "unrelated singleton about lighthouses", "cc")
    ).toDF("doc_id", "text", "source")
    val enumerated = Dedup.lshCandidatePairs(docs, "doc_id", "text", "source")
      .groupBy("source").count().withColumnRenamed("count", "n_pairs")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val counted = Dedup.lshCandidatePairCounts(docs, "doc_id", "text", "source")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counted === enumerated)
    assert(counted.values.sum > 0L)
  }

  test("jaccardPairs: ubiquitous tokens are pruned from the join; pair count bounded") {
    // every doc shares the boilerplate tokens (df = 1000 > maxDf); only
    // the two docs sharing a RARE token may pair up
    val docs = (1 to 1000).map { i =>
      val rare = if (i <= 2) " zyzzyva" else s" unique$i"
      (i.toLong, s"all rights reserved notice$rare", "web")
    }.toDF("doc_id", "text", "source")
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", "source",
      minJaccard = 0.0, maxDf = 100).collect()
    assert(pairs.length === 1)
    assert(pairs.head.getAs[Long]("a") === 1L && pairs.head.getAs[Long]("b") === 2L)
    // denominator still counts pruned tokens: |A|=|B|=5, inter=1 (zyzzyva)
    assert(math.abs(pairs.head.getAs[Double]("jaccard") - 1.0 / 9.0) < 1e-12)
  }

  test("nearDupPairs: 1k degenerate embeddings (one collapsed bucket) produce ZERO pairs under the cap") {
    // an embedding model collapsing boilerplate to one point — all 1000
    // vectors land in the same hyperplane bucket; without the cap the
    // within-bucket self-join emits 499 500 pairs
    val vecs = (1 to 1000).map(i => (i.toLong, Array.fill(8)(0.0f)))
      .toDF("vec_id", "embedding")
    val pairs = Similarity.nearDupPairs(vecs, "vec_id", "embedding",
      dim = 8, numPlanes = 6, topN = 1000000, maxBucket = 100)
    assert(pairs.count() === 0L)
  }

  test("nearDupPairs: cap leaves small buckets untouched") {
    // 20 identical vectors (one bucket of 20, under the cap) must still
    // pair up fully: 20*19/2 pairs, all cosine 1.0
    val vecs = (1 to 20).map(i => (i.toLong, Array.fill(8)(1.0f)))
      .toDF("vec_id", "embedding")
    val pairs = Similarity.nearDupPairs(vecs, "vec_id", "embedding",
      dim = 8, numPlanes = 6, topN = 1000000, maxBucket = 100)
    assert(pairs.count() === 20L * 19 / 2)
    val capped = Similarity.nearDupPairs(vecs, "vec_id", "embedding",
      dim = 8, numPlanes = 6, topN = 1000000, maxBucket = 10)
    assert(capped.count() === 0L)
  }

  test("nearDupComponents matches the uncollapsed pair+CC pipeline exactly") {
    // fixture exercises every collapse/expand path: a verbatim clique
    // with no external pairs (1-5), a dup pair plus a near-dup neighbor
    // (10-12), a pair-free singleton (20), and the SAME text in another
    // source (30-31: must form its own component, never merge across
    // the group column)
    val docs = (
      (1 to 5).map(i => (i.toLong, "alpha beta gamma delta epsilon", "web")) ++
      Seq((10L, "red green blue cyan magenta yellow black white", "web"),
          (11L, "red green blue cyan magenta yellow black white", "web"),
          (12L, "red green blue cyan magenta yellow black white extra", "web"),
          (20L, "solo entry mentioning entirely disjoint vocabulary", "web"),
          (30L, "alpha beta gamma delta epsilon", "news"),
          (31L, "alpha beta gamma delta epsilon", "news"))
    ).toDF("doc_id", "text", "source")
    val collapsed = Dedup.nearDupComponents(docs, "doc_id", "text", "source")
      .collect().map(r => (r.getAs[Long]("node"), r.getAs[Long]("comp"))).toSet
    val baseline = Dedup.connectedComponents(
        Dedup.lshCandidatePairs(docs, "doc_id", "text", "source"))
      .collect().map(r => (r.getAs[Long]("node"), r.getAs[Long]("comp"))).toSet
    assert(collapsed === baseline)
    // verbatim cliques land as internal components with min-id labels
    assert((1 to 5).forall(i => collapsed.contains((i.toLong, 1L))))
    assert(collapsed.contains((30L, 30L)) && collapsed.contains((31L, 30L)))
    assert(!collapsed.exists(_._1 == 20L)) // pair-free singleton excluded
  }

  test("nearDupComponents: weight-sum cap = per-doc cap of the uncollapsed pipeline") {
    val docs = boilerplate(200)
    // cap below the MEMBER count: one rep, but the bucket holds 200
    // original docs — must drop, exactly as the uncollapsed cap does
    assert(Dedup.nearDupComponents(docs, "doc_id", "text", "source",
      maxBucket = 100).count() === 0L)
    // cap above: the 200-member verbatim clique survives, comp = min id
    val comps = Dedup.nearDupComponents(docs, "doc_id", "text", "source",
        maxBucket = 300)
      .collect().map(r => (r.getAs[Long]("node"), r.getAs[Long]("comp")))
    assert(comps.length === 200 && comps.forall(_._2 === 1L))
  }

  test("jaccardPairs: size-ratio prefilter never drops a pair with jaccard >= j") {
    // driver-side brute force is the ground truth; the fixture includes
    // the exact-threshold case jaccard == min/max == j (a 7-token
    // subset of a 20-token doc at j = 7/20 = 0.35) where a
    // `sz_small >= j * sz_big` PRODUCT prefilter would round up and
    // wrongly drop the pair — the division form must keep it
    val j = 0.35
    val texts: Seq[(Long, String)] =
      Seq(
        (1L, (1 to 7).map("t" + _).mkString(" ")),  // A ⊂ B, ratio exactly j
        (2L, (1 to 20).map("t" + _).mkString(" ")),
        (3L, (1 to 6).map("t" + _).mkString(" ")),  // ratio 0.3 < j vs doc 2
        (4L, "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10")) ++
      (5 to 40).map(i => (i.toLong,
        (0 until 5 + i % 11).map(k => "w" + ((i * 7 + k * 3) % 29)).mkString(" ")))
    val docs = texts.map { case (id, t) => (id, t, "web") }
      .toDF("doc_id", "text", "source")
    val got = Dedup.jaccardPairs(docs, "doc_id", "text", "source", j, maxDf = 10000)
      .collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    val sets = texts.map { case (id, t) =>
      id -> t.split(" ").filter(_.nonEmpty).toSet }.toMap
    val want = (for {
      (a, sa) <- sets.toSeq; (b, sb2) <- sets.toSeq if a < b
      jac = (sa & sb2).size.toDouble / (sa ++ sb2).size
      if jac >= j
    } yield (a, b)).toSet
    assert(got === want)
    assert(got.contains((1L, 2L)), "exact-threshold pair must survive the prefilter")
  }

  test("jaccardPairs: digest collapse matches brute force on a duplicated corpus") {
    // verbatim-duplicate groups: self cliques at jaccard 1.0, cross
    // pairs once per digest pair expanded to every member pair
    val texts = Seq(
      1L -> "red green blue", 2L -> "red green blue", 3L -> "red green blue",
      4L -> "red green blue", 5L -> "red green blue",
      6L -> "red green yellow", 7L -> "red green yellow",
      8L -> "cyan magenta black")
    val docs = texts.map { case (id, t) => (id, t, "web") }
      .toDF("doc_id", "text", "source")
    val got = Dedup.jaccardPairs(docs, "doc_id", "text", "source",
        minJaccard = 0.3, maxDf = 10000)
      .collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"),
        r.getAs[Double]("jaccard"))).toSet
    val sets = texts.map { case (id, t) => id -> t.split(" ").toSet }.toMap
    val want = (for {
      (a, sa) <- sets.toSeq; (b, sb2) <- sets.toSeq if a < b
      jac = (sa & sb2).size.toDouble / (sa ++ sb2).size
      if jac >= 0.3
    } yield (a, b, jac)).toSet
    assert(got === want) // 10 self pairs in 1-5, 1 in 6-7, 10 cross at 0.5
    assert(got.count(_._3 == 1.0) === 11)

    // under df-pruning a duplicate pair reports s/(2k−s), not 1.0:
    // red/green (df 7 > 6) prune away, blue/yellow survive → self
    // jaccard 1/(6−1) = 0.2 < 0.3 and NO shared surviving cross token,
    // so the threshold drops every pair — same as the uncollapsed path
    val pruned = Dedup.jaccardPairs(docs, "doc_id", "text", "source",
      minJaccard = 0.3, maxDf = 6)
    assert(pruned.count() === 0L)
    // at a threshold below 0.2 the surviving-token cliques come back
    val loose = Dedup.jaccardPairs(docs, "doc_id", "text", "source",
        minJaccard = 0.15, maxDf = 6)
      .collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"),
        r.getAs[Double]("jaccard")))
    assert(loose.length === 11 && loose.forall(_._3 === 0.2), loose.toSeq.toString)
  }

  test("jaccardPairs: prune is a no-op when no token exceeds maxDf") {
    val docs = Seq(
      (1L, "red green blue", "web"),
      (2L, "red green yellow", "web"),
      (3L, "cyan magenta black", "web")).toDF("doc_id", "text", "source")
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", "source",
      minJaccard = 0.3).collect()
    assert(pairs.length === 1)
    assert(pairs.head.getAs[Double]("jaccard") === 0.5) // {red,green} / 4
  }

  test("containmentPairs: full quote scores 1.0 where jaccard dilutes; df-prune drops stop-word-only pairs") {
    val docs = Seq(
      // doc 2's words ⊂ doc 1's: overlap 1.0, jaccard 3/8
      (1L, "alpha beta gamma delta epsilon zeta eta theta", "web"),
      (2L, "alpha beta gamma", "web"),
      // 3/4 share 'the' only — with maxDf=2 'the' (df=3 incl. doc 5) is
      // pruned, so the pair vanishes instead of scoring spuriously
      (3L, "the quick fox", "web"),
      (4L, "the lazy dog", "web"),
      (5L, "the end", "web")).toDF("doc_id", "text", "source")
    val out = Dedup.containmentPairs(docs, "doc_id", "text", "source",
        minOverlap = 0.9, maxDf = 2)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(out === Set((1L, 2L, 1.0)))
    val j = Dedup.jaccardPairs(docs, "doc_id", "text", "source",
        minJaccard = 0.9, maxDf = 2).collect()
    assert(j.isEmpty) // jaccard of the same quote pair is 3/8
  }

  test("adaptive dispatch: direct and collapsed pipelines are bit-identical on both corpus shapes") {
    // the public entry points route by a verbatim-duplication probe;
    // this pins the routing's soundness: BOTH implementations must
    // produce the same pairs on a fully-unique corpus AND on one with
    // verbatim-duplicate groups (the collapse proof says they're equal
    // everywhere — so a mis-route can cost time, never correctness)
    val unique = (1 to 60).map(i => (i.toLong,
        (0 until 6 + i % 5).map(k => "w" + ((i * 3 + k * 7) % 23)).mkString(" "),
        if (i % 2 == 0) "web" else "news"))
      .toDF("doc_id", "text", "source")
    val dup = unique.union((61 to 80).map(i =>
        (i.toLong, "w1 w8 w15 w22 w6 w13", "web")).toDF("doc_id", "text", "source"))
    for (docs <- Seq(unique, dup)) {
      def lset(f: org.apache.spark.sql.DataFrame) =
        f.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      def u(unique: Boolean) = Collapse.units(docs, "doc_id", "text", Seq("source"), unique)
      assert(lset(Dedup.lshOver(u(true), "source", 1024)) ===
        lset(Dedup.lshOver(u(false), "source", 1024)))
      def jset(f: org.apache.spark.sql.DataFrame) =
        f.collect().map(r =>
          (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      assert(jset(Dedup.jaccardOver(u(true), "source", 0.3, 1024)) ===
        jset(Dedup.jaccardOver(u(false), "source", 0.3, 1024)))
      assert(jset(Dedup.containmentOver(u(true), "source", 0.3, 1024)) ===
        jset(Dedup.containmentOver(u(false), "source", 0.3, 1024)))
      def cset(f: org.apache.spark.sql.DataFrame) =
        f.collect().map(r => (r.getAs[Long]("node"), r.getAs[Long]("comp"))).toSet
      assert(cset(Dedup.connectedComponents(
          Dedup.lshOver(u(true), "source", 1024))) ===
        cset(Dedup.nearDupOver(u(false), "source", 1024, 20)))
      // local union-find solve == distributed fixed-point loop
      val pairs = Dedup.lshOver(u(true), "source", 1024)
      assert(cset(Dedup.connectedComponents(pairs)) ===
        cset(Dedup.componentsOver(Graph.undirected(pairs, "a", "b").forced(local = false), 20)))
    }
  }
}
