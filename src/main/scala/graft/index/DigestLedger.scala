package graft.index

/** Append-only ledger of content digests that have already been
  * indexed — the cross-batch face of the crawl loop's content dedup
  * (the batch-scoped collapse in `CrawlTopology.crawlOnce` only sees
  * one micro-batch; the ledger remembers every earlier one, so
  * byte-identical content indexes once EVER, not once per batch).
  * Reference analogue: the signature comparison in AdaptiveScheduler
  * (`core/.../persistence/AdaptiveScheduler.java:121`) — applied
  * across URLs and batches instead of per-URL.
  *
  * Layout and membership check: [[ShardedLedger]] over the `digest`
  * column, sharded by the digest's first hex digit (16 shards). At
  * 100 TB the per-batch cost is a pruned scan of ≤ 16 shard
  * directories plus one batch-broadcast semi-join; the ledger never
  * moves.
  */
class DigestLedger(path: String) extends ShardedLedger(path, "digest", identity)
