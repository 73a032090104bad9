package graft.index

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Append-only ledger of MinHash LSH band keys already indexed — the
  * NEAR-dup cross-batch face of the crawl loop's content dedup.
  * [[DigestLedger]] suppresses byte-identical content across batches;
  * this suppresses content whose MinHash signature collides with an
  * earlier batch on any band (the same 2×2 banding as
  * [[graft.analytics.Dedup.lshCandidatePairs]]), so a lightly-edited
  * boilerplate page re-crawled under a thousand URLs indexes once
  * EVER, not once per wording.
  *
  * Granularity contract (deterministic by construction): a document is
  * suppressed iff one of its bands was recorded by an EARLIER batch;
  * all survivors of the current batch index and record ALL their
  * bands. Near-dups that land in the SAME batch both index — within-
  * batch near-dup collapse is the batch pipeline's job
  * ([[graft.analytics.Dedup]]); making the streaming rule depend on
  * intra-batch ordering would make the output depend on partitioning.
  *
  * Same scale shape as [[DigestLedger]] ([[ShardedLedger]] over the
  * `bk` column): 16 shards by the first hex digit of md5(bk), the
  * bounded batch broadcasts into a shard-pruned ledger sliver, the
  * unbounded ledger never moves.
  */
class BandLedger(path: String) extends ShardedLedger(path, "bk", md5)

object BandLedger {
  /** Per-doc LSH band keys from the text column — the exact banding of
    * [[graft.analytics.Dedup.lshCandidatePairs]] (unigram MinHash, 4
    * chunks, bands A=(h1,h2) / B=(h3,h4)), exploded to one row per
    * band. Docs with no tokens produce no bands (null signature → the
    * explode drops them): they can never be suppressed or recorded. */
  def bandKeys(df: DataFrame, textCol: String): DataFrame = {
    val sig = graft.functions.TextHashExpressions
      .minhashSig(col(textCol), 1, 4, distinct = true)
    df.withColumn("__sig", sig)
      .withColumn("bk", explode(when(col("__sig").isNotNull,
        array(
          concat_ws("_", lit("A"), col("__sig").getItem(0), col("__sig").getItem(1)),
          concat_ws("_", lit("B"), col("__sig").getItem(2), col("__sig").getItem(3))))
        .otherwise(array())))
      .drop("__sig")
  }
}
