package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-trained bigram language-model fluency scoring — the CCNet /
  * Gopher-style "does this read like the rest of the corpus" quality
  * signal a training-data pipeline runs beside [[TextAnalysis
  * .qualityScore]]'s surface ratios. Reference scope: the reference has
  * no LM scoring (its quality signals stop at URL/status heuristics);
  * this is one of the training-data extensions the engine carries
  * beyond it.
  *
  * The model IS the corpus: unigram counts U(w) and bigram counts
  * B(w1 w2) over every token occurrence, and each document scores the
  * mean quantized conditional probability of its own bigrams,
  *
  *   s(g = "w1 w2")  =  (SCALE * B(g)) div U(w1)     — pure long math
  *   fluency(doc)    =  sum(s) / n_bigrams           — one double div
  *
  * Integer division end to end keeps the score engine-exact (the same
  * argument as [[Clustering]]'s quantized geometry): no float fold
  * order, no log; `SCALE * B` stays in-long up to ~9×10¹² occurrences
  * of a single bigram — beyond any real corpus' top bigram. The final
  * per-doc mean is one division of two longs, IEEE-identical on every
  * engine (the q54/q55 pattern).
  *
  * Scale shape (100 TB): ONE full-size exchange — the bigram occurrence
  * table shuffled by gram into the score join (AQE skew-splittable, the
  * q55 argument; a window formulation would pin every "of the" row
  * into one partition). The two count aggregates ship map-side partials
  * only (a boilerplate gram crosses the wire once per partition), and
  * the bigram-score table S is vocabulary-sized, built from the two
  * count tables — its join is NOT the corpus-sized one. Routed through
  * [[Collapse]]: counts are weight sums over units, because identical
  * texts have identical occurrence multisets.
  */
object LanguageModel {

  /** Quantization scale for the conditional probability (10^6: six
    * decimal digits survive the floor). */
  val Scale: Long = 1000000L

  /** Per-document bigram-LM fluency over the corpus the docs themselves
    * define: (doc_id, n_bigrams, score_s, fluency). Docs with fewer
    * than 2 tokens have no bigrams and do not appear (their unigrams
    * still train the model). */
  def fluency(corpus: DataFrame, idCol: String, textCol: String): DataFrame =
    fluencyOver(Collapse.textUnits(corpus, idCol, textCol))

  /** Tokenize once per unit; the bigram occurrence table feeds the
    * count aggregate and the score join (ReuseExchange runs the shuffle
    * once), and the per-unit aggregation of that join is the
    * pipeline's one corpus-sized exchange. */
  private[graft] def fluencyOver(u: Collapse.Units): DataFrame = {
    val toks = u.rows.select(col("key"), col("weight"),
      Dedup.words(col("text")).as("ws"))
    val bg = toks.select(col("key"), col("weight"),
      explode(Dedup.shingles(col("ws"), 2)).as("g"))
    val uc = toks.select(col("weight"), explode(col("ws")).as("w1"))
      .groupBy("w1").agg(sum("weight").as("u"))
    val bc = bg.groupBy("g").agg(sum("weight").as("b"))
    val byKey = bg.join(score(bc, uc), "g")
      .groupBy("key")
      .agg(count(lit(1)).as("n_bigrams"), sum("s").as("score_s"))
    u.expand(byKey, "doc_id")
      .select(col("doc_id").cast("long").as("doc_id"), col("n_bigrams"), col("score_s"),
        (col("score_s").cast("double") / col("n_bigrams").cast("double"))
          .as("fluency"))
  }

  /** Vocabulary-sized bigram score table S(g) from the two count
    * tables: s = (SCALE * b) div u(prefix) — exact long arithmetic. */
  private def score(bc: DataFrame, uc: DataFrame): DataFrame =
    bc.withColumn("w1", substring_index(col("g"), " ", 1))
      .join(uc, "w1")
      .select(col("g"), expr(s"($Scale * b) div u").as("s"))
}
