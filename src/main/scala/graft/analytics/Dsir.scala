package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data Selection via Importance Resampling (DSIR-style): score each
  * corpus document by how target-like its hashed n-gram features are,
  * so a training-data draw can up-weight documents resembling a small
  * high-quality target distribution (the published method trains two
  * hashed bag-of-ngrams LMs and ranks by their log-likelihood ratio;
  * the reference crawler has no counterpart — this is a training-data
  * extension of the pipeline).
  *
  * Determinism: the published formulation sums float log-ratios, which
  * is not engine-portable (summation order). Here the per-bucket weight
  * is the INTEGER ratio in parts-per-million,
  * `floor((target_count+1) * 1e6 / (corpus_count+1))` — add-one
  * smoothed, all BIGINT, so the per-doc score (a sum of longs) is
  * bit-identical on any engine at any parallelism. Ranking by the
  * ratio sum is order-equivalent to ranking by a monotone score family
  * of the same counts; what matters for selection is the ordering, and
  * THIS ordering is reproducible.
  *
  * Scale shape (100 TB corpus): two corpus passes, both map-heavy.
  * Pass 1 aggregates token-bucket counts — the working set is the
  * bucket table (`buckets` rows, ≤ a few thousand), reached via
  * map-side partial aggregation, so the exchange carries at most
  * `partitions × buckets` fixed-width rows. Pass 2 re-explodes tokens
  * and joins the bucket table back BROADCAST (pinned — the corpus side
  * must never be a build side, the q53 argument) and the per-doc sum
  * partial-aggregates map-side: every token of a doc lives in the same
  * input row, so the exchange carries ~one row per document. The final
  * top-k is `TakeOrderedAndProject` — per-partition heaps merged on
  * the driver, k rows, never a global sort. Derive-then-apply with a
  * tiny broadcast middle is the [[Sampling.temperatureSample]] shape,
  * feature-hashed edition.
  *
  * Routed through [[Collapse]] with the target flag as a group column:
  * identical texts have identical token multisets, so bucket counts
  * are weight sums over (flag, text) units, and the target and
  * all-member counts both fall out of `weight`. Measured 77.6 → ~2 s
  * at a 100× replicated sf10.
  */
object Dsir {

  /** 0..buckets-1 feature bucket of one token (portable md5 family,
    * seed 77; h32 is non-negative so plain `%` agrees across engines). */
  private def bucket(w: Column, buckets: Int): Column =
    Dedup.seededHash(77, w) % buckets

  /** Mirror of [[bucket]] as DuckDB SQL over a token expression. */
  def bucketSql(tokExpr: String, buckets: Int): String =
    s"(CAST(concat('0x', substring(md5(concat('77:', $tokExpr)), 1, 8)) AS BIGINT) % $buckets)"

  /** Per-document importance scores against the target slice:
    * (doc_id, n_tokens, score), top `k` by (score DESC, doc_id).
    * `targetPred` marks the target-distribution rows (they stay in the
    * corpus denominator — DSIR's source distribution is the corpus
    * itself). Docs with zero tokens never appear. */
  def importanceTopK(corpus: DataFrame, idCol: String, textCol: String,
                     targetPred: Column, buckets: Int = 4096,
                     k: Int = 20): DataFrame =
    importanceOver(Collapse.units(
        corpus.select(col(idCol), col(textCol), coalesce(targetPred, lit(false)).as("is_target")),
        idCol, textCol, Seq("is_target"), Collapse.unique(corpus, textCol, textCol)),
      buckets, k)

  /** ONE hash pass over the units (r16): the token stream compacts to
    * per-(unit, bucket) occurrence counts FIRST (`kx`), and both the
    * bucket-count aggregate and the score join consume that compacted
    * frame, so the dominant per-row cost (one seeded md5 per token)
    * runs ONCE instead of once per pass. ReuseExchange evaluates the
    * (unit, bucket) exchange a single time; its rows are fixed-width
    * and bounded by min(tokens, units × buckets), and a hot bucket
    * compacts map-side (partial aggregation), so the exchange is
    * skew-free at any scale. Scores are exact-integer either way:
    * Σ_tokens wgt(bkt) ≡ Σ_bkt kx·wgt. Measured (min-of-3, sf0.1,
    * isolated): wall FLAT (2.54 → 2.56 s — at the gate SF the two old
    * tokenize branches ran CONCURRENTLY under AQE, so the critical path
    * didn't shrink) but executor task time drops 2.07 → 1.89 s and the
    * plan goes 4 scans + 2 Generate → 2 scans + 1 Generate
    * (plans/r16/q67_*) — at 100 TB one full tokenize+md5 pass over the
    * corpus is removed, and in-suite the freed CPU is a neighbor
    * query's headroom. */
  private[graft] def importanceOver(u: Collapse.Units, buckets: Int, k: Int): DataFrame = {
    val tokc = u.rows
      .select(col("key"), col("is_target"), col("weight"),
        explode(Dedup.words(col("text"))).as("w"))
      .select(col("key"), col("is_target"), col("weight"),
        bucket(col("w"), buckets).as("bkt"))
      .groupBy("key", "is_target", "weight", "bkt")
      .agg(count(lit(1)).as("kx"))
    val cnts = tokc.groupBy("bkt").agg(
      sum(when(col("is_target"), col("kx") * col("weight")).otherwise(0L)).as("tcnt"),
      sum(col("kx") * col("weight")).as("scnt"))
    val byKey = tokc.join(broadcast(lut(cnts)), "bkt")
      .groupBy("key")
      .agg(sum(col("kx")).as("n_tokens"), sum(col("kx") * col("wgt")).as("score"))
    u.expand(byKey, "doc_id")
      .select(col("doc_id").cast("long").as("doc_id"), col("n_tokens"), col("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** Bucket → integer-ppm ratio weight (add-one smoothed). */
  private def lut(cnts: DataFrame): DataFrame =
    cnts.select(col("bkt"),
      expr("(tcnt + 1) * 1000000 div (scnt + 1)").as("wgt"))
}
