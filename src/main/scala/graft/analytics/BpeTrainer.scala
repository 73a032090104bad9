package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed BPE vocabulary induction: learn the first `rounds`
  * byte-pair-encoding merges from a corpus — the tokenizer-training
  * step of an LLM data pipeline (published as BPE in the NMT literature
  * and used by every GPT-family tokenizer; the reference crawler stops
  * at token COUNTING, this learns the vocabulary itself).
  *
  * Classic trainer shape, distributed: BPE statistics depend only on
  * the WORD HISTOGRAM, not the corpus — so round 0 collapses the corpus
  * to (distinct word, count), a vocabulary-sized table reached by
  * map-side partial aggregation, and every merge round then runs over
  * the vocabulary, never re-touching the corpus. Each round is one
  * vocabulary-sized aggregate (pair → summed count, partial-agg'd
  * map-side) plus a 1-row argmax collected to the driver — the same
  * bounded-driver-set contract as the k-means centroid loop. At 100 TB
  * the corpus is read ONCE; rounds cost O(vocab), and vocab grows with
  * distinct words, not bytes crawled.
  *
  * Token sequences ride as sentinel-delimited strings with a DOUBLE
  * sentinel at every token boundary (`"ab" -> "\u0001\u0001a\u0001\u0001b\u0001\u0001"`),
  * so a merge is ONE engine-native `replace` of
  * `\u0001x\u0001\u0001y\u0001 -> \u0001xy\u0001`: each match consumes only the
  * INNER half of its flanking boundaries, leaving the outer sentinel
  * for the neighboring pair site — which makes the left-to-right
  * non-overlapping `replace` scan merge exactly the occurrences true
  * BPE merges. (A single-sentinel encoding gets this wrong: adjacent
  * sites share the boundary char, so `"abab"` would merge only its
  * first `(a,b)`.) Both engines' `replace` scans the original string
  * LTR non-overlapping, byte-identically; the replacement restores
  * the two-sentinel invariant, and sentinels keep a pair pattern from
  * ever matching mid-token. All counts are BIGINT; ties in the argmax
  * break on the pair string (binary collation both engines) — fully
  * deterministic at any parallelism.
  */
object BpeTrainer {

  private val S = "\u0001"

  /** Corpus → sentinel-encoded word histogram (the only corpus-wide
    * pass; BPE statistics depend on nothing else). ADAPTIVE on the
    * [[Collapse.unique]] probe: a replicated corpus tokenizes
    * every copy of a text into the same words, so with duplicates
    * present the corpus collapses to one representative per content
    * digest and word counts recover exactly as member-weight sums —
    * identical histogram, tokenization priced by DISTINCT texts. */
  private def wordHistogram(corpus: DataFrame, textCol: String): DataFrame = {
    val weighted =
      if (Collapse.unique(corpus, textCol, textCol))
        corpus.select(explode(Dedup.words(col(textCol))).as("w"),
          lit(1L).as("m"))
      else
        // text as the GROUP KEY (not an agg buffer — stays inside
        // HashAggregate): map-side partials collapse replicas before
        // the exchange, so it carries ~distinct texts per partition
        corpus.groupBy(col(textCol)).agg(count(lit(1)).as("m"))
          .select(explode(Dedup.words(col(textCol))).as("w"), col("m"))
    weighted
      .groupBy("w").agg(sum("m").as("cnt"))
      .select(concat(regexp_replace(col("w"), "(.)", S + S + "$1"),
        lit(S + S)).as("seq"), col("cnt"))
  }

  /** The merge loop over a (cached) histogram: returns the merge
    * records and the fully-merged vocabulary view. */
  private def learnLoop(vocab0: DataFrame, rounds: Int)
      : (Seq[(Int, String, String, String, Long)], DataFrame) = {
    var vocab = vocab0
    val merges = Seq.newBuilder[(Int, String, String, String, Long)]
    for (r <- 1 to rounds) {
      val toks = vocab.select(col("cnt"),
        filter(split(col("seq"), S), t => t =!= "").as("tk"))
      // Spark's sequence(1, 0) counts DOWN — guard single-token seqs
      val mkPairs = transform(
        sequence(lit(1), size(col("tk")) - 1),
        i => concat(element_at(col("tk"), i), lit(S),
          element_at(col("tk"), i + 1)))
      val pairs = toks
        .select(col("cnt"), explode(when(size(col("tk")) >= 2, mkPairs)
          .otherwise(array())).as("pair"))
        .groupBy("pair").agg(sum("cnt").as("c"))
      val best = pairs.orderBy(col("c").desc, col("pair")).limit(1)
        .collect() // exactly one row — bounded by construction
      if (best.nonEmpty) {
        val pair = best(0).getString(0)
        val c = best(0).getLong(1)
        val Array(x, y) = pair.split(S)
        merges += ((r, x, y, x + y, c))
        // Column-API replace: corpus tokens stay data, never SQL text
        vocab = vocab.withColumn("seq",
          replace(col("seq"), lit(S + x + S + S + y + S),
            lit(S + x + y + S)))
      }
    }
    (merges.result(), vocab)
  }

  /** The learned merge table: one row per round,
    * (round, lhs, rhs, merged, cnt) — `cnt` the pair's corpus
    * frequency when it was chosen. */
  def trainMerges(corpus: DataFrame, textCol: String,
                  rounds: Int): DataFrame = {
    val spark = corpus.sparkSession
    val vocab0 = wordHistogram(corpus, textCol).cache()
    try {
      val (merges, _) = learnLoop(vocab0, rounds)
      import spark.implicits._
      merges.toDF("round", "lhs", "rhs", "merged", "cnt")
        .orderBy("round")
    } finally vocab0.unpersist()
  }

  /** Train → APPLY: the top-`k` tokens (by corpus occurrences, ties on
    * the token string) of the corpus encoded under the first `rounds`
    * learned merges — the composability face of the trainer (a real
    * pipeline learns the vocabulary and then tokenizes with it).
    * Encoding, like training, runs over the word HISTOGRAM: applying a
    * merge table to a corpus prices by distinct words, and occurrence
    * totals recover exactly as count-weighted sums. The top-k
    * materializes under the histogram cache (k rows, bounded) so the
    * returned frame is a LocalTableScan. */
  def encodeTopK(corpus: DataFrame, textCol: String, rounds: Int,
                 k: Int): DataFrame = {
    val spark = corpus.sparkSession
    val vocab0 = wordHistogram(corpus, textCol).cache()
    try {
      val (_, vocabF) = learnLoop(vocab0, rounds)
      val top = vocabF
        .select(explode(filter(split(col("seq"), S), t => t =!= ""))
          .as("token"), col("cnt"))
        .groupBy("token").agg(sum("cnt").as("n_occ"))
        .orderBy(col("n_occ").desc, col("token"))
        .limit(k)
        .collect() // bounded by k
        .map(r => (r.getString(0), r.getLong(1)))
      import spark.implicits._
      top.toSeq.toDF("token", "n_occ")
    } finally vocab0.unpersist()
  }
}
