package graft

import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is built: Bench, Verify, the demos and
  * every tool run the same engine, so a profile measures what the
  * bench measures. A session setting is changed here, in code, and
  * A/B'd with `perfbench` against the parent commit. */
object Session {
  /** `$SPARK_GRAFT_CPUS`, else every core the JVM sees. */
  def cpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)

  private[graft] def settings(cpus: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    // Scale-aware shuffle sizing: start reduce stages WIDE and let AQE
    // coalesce down from MEASURED map-output sizes. A fixed partition
    // count tuned at sf0.1 is 30× undersized at sf30 (sort/window
    // partitions exceed executor memory and spill); initial-wide +
    // coalesce keeps partitions near the advisory size at ANY scale,
    // which is the cluster-correct setting. Measured (interleaved A/B,
    // min-of-2 runs of the full suite): 256 vs 32 initial = sf0.1
    // 31.4 vs 32.6 s, sf0.01 20.3 vs 21.0 s, and at sf30 the heavy
    // subset halves memory-acquire retries (66→35) — neutral-or-better
    // at every scale.
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> (cpus * 8).toString,
    // zstd for shuffle/spill/broadcast blocks (default lz4): ~35-40%
    // smaller shuffle files at a decode speed that keeps the exchange
    // scan-bound. On a single-box host the binding resource for the
    // 1 B-row queries is DISK (q94's sf1000 window shuffle +
    // copy-on-write store generations exceeded the FS with lz4), and
    // on a real cluster the same bytes are the network — compression
    // ratio is the right trade on both.
    "spark.io.compression.codec" -> "zstd",
    // Let AQE re-optimize CACHED plans (default false pins every
    // shuffle under a .cache() at initialPartitionNum — with
    // initial-wide at 256 that put 256 tasks under EVERY cached
    // frame: the CC edge cache, the BPE word histogram, q81's vocab
    // table — 775-1567 tasks per query on kilobyte-sized cached
    // data, pure scheduler churn). True lets AQE size cached-plan
    // partitions from MEASURED bytes — the same scale-adaptive
    // argument as initial-wide+coalesce itself, correct at any SF.
    // Coalesced caches still report CoalescedHashPartitioning, so
    // per-round joins keyed on the cache key keep eliding their
    // exchange. Measured (min-of-2, sf0.1): q49 1.45→0.80 s,
    // q68 2.55→1.39 s, q71 2.67→1.36 s, q77 0.99→0.69 s; suite
    // task count for the 10 cache-using queries 9 289→561.
    // Results are partitioning-invariant by design (integer/decimal
    // aggregates, quantized geometry) — oracle-verified under BOTH
    // settings.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    // `events.parquet` has shipped with TIMESTAMP(NANOS) `ts`, which
    // Spark reads only as a long under this conf (`Tables.events`
    // converts it). It is session-wide because Spark reads it when it
    // plans and runs the scan, not at `spark.read`, so it cannot be
    // scoped to one read.
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false")

  /** A `local[cpus]` session with the engine's settings, logging at WARN.
    * Returns the JVM's existing session if there is one. */
  def local(cpus: Int = Session.cpus): SparkSession = {
    val spark = settings(cpus)
      .foldLeft(SparkSession.builder().master(s"local[$cpus]")) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
