package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.analytics.Decontaminate
import graft.functions.{RepStatsOps, TextStatExpressions}

/** Benchmark decontamination (n-gram overlap vs an eval set) and the
  * exact one-pass 2-gram repetition stats. */
class DecontaminateSpec extends AnyFunSuite with LocalSpark {

  test("ngramHits: hit counts, shingle totals, first_match = min bench id") {
    import spark.implicits._
    val bench = Seq(
      (0L, "a b c d e"),
      (5L, "b c d e f")
    ).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "a b c d x"), // "a b c d" hits bench 0; "b c d x" misses
      (2L, "x y z w"),   // one gram, no hit → absent
      (3L, "a b c"),     // < 4 words → no shingles → absent
      (4L, "b c d e q")  // "b c d e" owned by both benches → first_match 0
    ).toDF("doc_id", "text")

    val out = Decontaminate.ngramHits(corpus, bench, "doc_id", "text", 4)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3), r.getLong(4)))
    assert(out.toSeq == Seq(
      (1L, 1L, 2, 0.5, 0L),
      (4L, 1L, 2, 0.5, 0L)))
  }

  test("collapsed path is identical to the direct path on duplicated AND unique corpora") {
    import spark.implicits._
    import graft.analytics.Decontaminate
    val bench = Seq((0L, "a b c d e"), (5L, "b c d e f")).toDF("doc_id", "text")
    // duplicated corpus: ids 1/11/21 share a text, 4/14 share another
    val dup = Seq(
      (1L, "a b c d x"), (11L, "a b c d x"), (21L, "a b c d x"),
      (4L, "b c d e q"), (14L, "b c d e q"),
      (2L, "x y z w p")).toDF("doc_id", "text")
    val uniq = Seq(
      (1L, "a b c d x"), (4L, "b c d e q"), (2L, "x y z w p")
    ).toDF("doc_id", "text")
    def run(f: => org.apache.spark.sql.DataFrame) =
      f.orderBy("doc_id").collect().map(_.toSeq).toSeq
    for (corpus <- Seq(dup, uniq)) {
      val direct = run(graft.analytics.Decontaminate
        .hitsOver(units(corpus, true), units(bench, true), 4))
      val collapsed = run(graft.analytics.Decontaminate
        .hitsOver(units(corpus, false), units(bench, true), 4))
      assert(direct == collapsed)
    }
    // the public entry on the duplicated corpus (probe routes to the
    // collapsed path) matches the direct computation
    val pub = run(Decontaminate.ngramHits(dup, bench, "doc_id", "text", 4))
    val ref = run(Decontaminate.hitsOver(units(dup, true), units(bench, true), 4))
    assert(pub == ref)
    // every member of a duplicated text carries the representative's counts
    assert(pub.count(r => r.head.asInstanceOf[Long] % 10 == 1) == 3)
  }

  test("attribution: argmax shared grams, ties to lowest eval id, minShared floors") {
    import spark.implicits._
    // corpus doc 1 shares 3 grams with eval 100, 2 with eval 200 ->
    // top = 100; doc 2 shares 2 with BOTH 100 and 200 -> tie to 100;
    // doc 3 shares only 1 gram with eval 100 -> below minShared, absent
    val corpus = Seq(
      (1L, "a b c d e f"),   // grams: abc bcd cde def
      (2L, "a b c x p q r"), // abc bcx xpq pqr? (k=3: abc, bcx, cxp, xpq, pqr)
      (3L, "a b z z z z")).toDF("doc_id", "text")
    val bench = Seq(
      (100L, "a b c d e x1 p q r"),  // grams incl abc bcd cde + pqr
      (200L, "c d e f g h a b c"),
      // verbatim duplicate of eval 100 — must collapse to the min id
      // (one leak, not two; and the broadcast prices by distinct texts)
      (300L, "a b c d e x1 p q r")).toDF("doc_id", "text")
    val out = Decontaminate.attribution(corpus, bench, "doc_id", "text", 3, 2L)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // doc 1 vs 100: {abc, bcd, cde} = 3; vs 200: {cde, def, abc}... compute:
    //   doc1 grams: abc bcd cde def; eval200 grams: cde def efg fgh gha hab abc
    //   -> shared with 200 = {cde, def, abc} = 3 -> TIE 3 vs 3 -> lowest eval id 100
    assert(out(1L) == ((2L, 3L, 100L)))
    // doc 2 grams: abc bcx cxp xpq pqr; eval100 has abc + pqr (+ xpq? eval100:
    //   a b c d e x1 p q r -> grams: abc bcd cde dex1 ex1p x1pq pqr -> shared = {abc, pqr} = 2
    //   eval200 shared = {abc} = 1 < minShared
    assert(out(2L) == ((1L, 2L, 100L)))
    assert(!out.contains(3L))
  }

  test("attribution: eval_id outside the packable range raises instead of corrupting the argmax") {
    import spark.implicits._
    val corpus = Seq((1L, "a b c d e f")).toDF("doc_id", "text")
    // eval_id = 2^32 violates the packed-BIGINT precondition — the
    // guard must raise loudly, not wrap into a bogus top_eval
    val bench = Seq((4294967296L, "a b c d e f")).toDF("doc_id", "text")
    val e = intercept[Exception] {
      Decontaminate.attribution(corpus, bench, "doc_id", "text", 3, 2L).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("attribution pack overflow")), s"unexpected error: $e")
  }

  test("attribution: collapsed corpus path is identical per member to the direct path") {
    import spark.implicits._
    val base = Seq((1L, "a b c d e f"), (2L, "a b c x p q r"), (3L, "m n o p"))
    val corpus = (0 until 4).flatMap(r => base.map { case (i, t) => (i + r * 10, t) })
      .toDF("doc_id", "text") // replicated -> collapsed path
    val unique = base.toDF("doc_id", "text") // unique -> direct path
    val bench = Seq((100L, "a b c d e x1 p q r")).toDF("doc_id", "text")
    def aset(f: org.apache.spark.sql.DataFrame) =
      f.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val collapsed = aset(Decontaminate.attribution(corpus, bench, "doc_id", "text", 3, 2L))
    // every replica of a text must carry the SAME report as its original
    val direct = aset(Decontaminate.attribution(unique, bench, "doc_id", "text", 3, 2L))
    for ((id, n, ts, te) <- direct; r <- 0 until 4)
      assert(collapsed.contains((id + r * 10, n, ts, te)))
    assert(collapsed.size === direct.size * 4)
  }

  test("dupSpanStats: df counts member docs, shingle-less docs absent") {
    import spark.implicits._
    import graft.analytics.Decontaminate
    // k=2 grams: doc1 {a b, b c}, doc2 {b c, c d}, doc3 {a b}, doc4 none
    // (1 word); docs 5/6 are verbatim copies — their one gram has
    // df = 2 purely from the copies, and the corpus now holds verbatim
    // dups so the public entry routes through the collapsed path.
    val corpus = Seq(
      (1L, "a b c"), (2L, "b c d"), (3L, "a b"), (4L, "z"),
      (5L, "p q"), (6L, "p q")).toDF("doc_id", "text")
    val out = Decontaminate.dupSpanStats(corpus, "doc_id", "text", 2, 2L)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq == Seq(
      (1L, 2, 2L, 1.0), // "a b" in docs 1,3; "b c" in 1,2
      (2L, 2, 1L, 0.5), // only "b c" repeats
      (3L, 1, 1L, 1.0),
      (5L, 1, 1L, 1.0), (6L, 1, 1L, 1.0)))
  }

  test("dupSpans collapsed path is identical to the direct path") {
    import spark.implicits._
    import graft.analytics.Decontaminate
    val dup = Seq(
      (1L, "a b c d x"), (11L, "a b c d x"), (21L, "a b c d x"),
      (4L, "b c d e q"), (14L, "b c d e q"),
      (2L, "x y z w p")).toDF("doc_id", "text")
    val uniq = Seq(
      (1L, "a b c d x"), (4L, "b c d e q"), (2L, "x y z w p")
    ).toDF("doc_id", "text")
    def run(f: => org.apache.spark.sql.DataFrame) =
      f.orderBy("doc_id").collect().map(_.toSeq).toSeq
    for (corpus <- Seq(dup, uniq); k <- Seq(2, 4)) {
      val direct = run(Decontaminate
        .dupSpansOver(units(corpus, true), k, 2L))
      val collapsed = run(Decontaminate
        .dupSpansOver(units(corpus, false), k, 2L))
      assert(direct == collapsed, s"k=$k")
    }
    // verbatim copies alone make every shingled doc fully duplicated
    val pub = run(Decontaminate.dupSpanStats(dup, "doc_id", "text", 4, 2L))
    assert(pub.filter(_.head.asInstanceOf[Long] != 2L)
      .forall(_.last.asInstanceOf[Double] == 1.0))
    assert(pub.find(_.head == 2L).get.last.asInstanceOf[Double] == 0.0)
  }

  // a corpus as unique (direct route) or collapsed units
  private def units(df: org.apache.spark.sql.DataFrame, unique: Boolean) =
    graft.analytics.Collapse.units(df, "doc_id", "text", Nil, unique)

  test("repStats: exact 2-gram totals, distinct counts, top count") {
    import org.apache.spark.unsafe.types.UTF8String
    def rep(s: String) = {
      val r = RepStatsOps.repStats(UTF8String.fromString(s))
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    assert(rep("x y x y x") == ((4L, 2L, 2L))) // "x y"×2, "y x"×2
    assert(rep("a b") == ((1L, 1L, 1L)))
    assert(rep("a") == ((0L, 0L, 0L)))
    assert(rep("") == ((0L, 0L, 0L)))
    assert(rep("a  b") == ((1L, 1L, 1L))) // empty tokens dropped
    assert(RepStatsOps.repStats(null) == null)
  }

  test("repStats column matches the direct computation under codegen") {
    import spark.implicits._
    val df = Seq((1L, "x y x y x"), (2L, "p q r")).toDF("doc_id", "text")
    val r = TextStatExpressions.repStats(col("text"))
    val out = df.select(col("doc_id"), r.getField("n2"),
        r.getField("n2_distinct"), r.getField("top_c"))
      .orderBy("doc_id").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3)))
    assert(out.toSeq == Seq((1L, 4L, 2L, 2L), (2L, 2L, 2L, 1L)))
  }

  test("ngramHitsBloom: hash-identical to the exact join, even with a tiny filter full of false positives") {
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val corpus = docs.where(col("doc_id") % 13 =!= 0)
    val bench = docs.where(col("doc_id") % 13 === 0)
    val exact = Decontaminate.ngramHits(corpus, bench, "doc_id", "text", 3)
      .orderBy("doc_id").collect().toSeq
    // realistic filter size…
    val bloom = Decontaminate.ngramHitsBloom(corpus, bench, "doc_id", "text", 3)
      .orderBy("doc_id").collect().toSeq
    assert(bloom == exact)
    // …and a 64-bit filter, saturated: ~every probe is a false
    // positive, so equality here proves the confirm join does the
    // semantics and the bloom is pure pruning
    val saturated = Decontaminate.ngramHitsBloom(
        corpus, bench, "doc_id", "text", 3, log2Bits = 6, numHash = 2)
      .orderBy("doc_id").collect().toSeq
    assert(saturated == exact)
  }

  test("bloom build is partitioning-invariant; probe filter sits before the exchange over a sort-merge confirm join") {
    import spark.implicits._
    import graft.functions.{BloomFunctions, BloomOps}
    val bench = (0L until 200L).map(i => (i, s"w$i x$i y$i z$i")).toDF("doc_id", "text")
    def bitsOf(df: org.apache.spark.sql.DataFrame): Seq[Long] = {
      val grams = df.select(explode(graft.functions.TextHashExpressions
        .distinctShingles(col("text"), 3)).as("g"))
      val pos = grams.select(explode(
          BloomFunctions.bloomPositions(col("g"), 5, 16)).as("p"))
        .distinct().collect().map(_.getInt(0))
      BloomOps.buildBits(pos, 16).toSeq
    }
    assert(bitsOf(bench.repartition(1)) == bitsOf(bench.repartition(7)),
      "set-bit union must not depend on partitioning")

    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = Decontaminate.ngramHitsBloom(
        docs.where(col("doc_id") % 13 =!= 0),
        docs.where(col("doc_id") % 13 === 0),
        "doc_id", "text", 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("bloom_contains"), plan.take(3000))
    assert(plan.contains("SortMergeJoin"), plan.take(3000))
    // map-only prefilter: the bloom probe must run BEFORE the corpus
    // gram exchange, not after it
    val probeAt = plan.indexOf("bloom_contains")
    val smjAt = plan.indexOf("SortMergeJoin")
    assert(smjAt < probeAt,
      "bloom filter should be below (after, in toString order) the join it feeds")
  }
}
