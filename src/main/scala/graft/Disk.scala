package graft

/** Free-disk preflight (VERDICT r13 ask #4): both of round 13's defects
  * (the q88 hash flake, the q94 sf300 error) happened on a host at 99%
  * disk — store-backed faces shuffle and write scratch, and a full disk
  * turns into silent corruption or an unexplained task death instead of
  * a named failure. Every long-running entrypoint (Bench, Verify) and
  * every scratch allocation preflights free space and refuses LOUDLY
  * below the threshold, and every bench artifact records `disk_free_gb`
  * so an artifact measured under disk pressure is self-evident.
  */
object Disk {
  /** GB free (usable by this process) on the filesystem holding `path`. */
  def freeGb(path: String = sys.props.getOrElse("java.io.tmpdir", "/tmp")): Double =
    new java.io.File(path).getUsableSpace / 1e9

  /** Threshold: env-overridable; 5 GB default covers the gate SFs —
    * large-SF campaigns should raise it (e.g. 40 at sf300). */
  def minFreeGb: Double =
    sys.env.get("SPARK_GRAFT_MIN_FREE_GB").flatMap(_.toDoubleOption).getOrElse(5.0)

  /** Pure decision (spec-tested): refuse iff below threshold. */
  def belowThreshold(free: Double, min: Double): Boolean = free < min

  /** Campaign-aware floor (VERDICT r14 what's-wrong #2: a 94-query
    * sf1000 campaign was cut at 7.1 GB free and three rows paid — the
    * 5 GB default is sized for ONE query, but suite shuffle+scratch
    * residue grows with suite length even with per-query reclamation).
    * 5 GB base + 0.25 GB per selected query, capped at 30; an explicit
    * SPARK_GRAFT_MIN_FREE_GB always wins. Pure (spec-tested). */
  def requiredGb(nQueries: Int): Double =
    sys.env.get("SPARK_GRAFT_MIN_FREE_GB").flatMap(_.toDoubleOption)
      .getOrElse(math.min(30.0, 5.0 + 0.25 * nQueries))

  /** Wait (bounded) for asynchronous disk reclamation to land: Spark's
    * ContextCleaner deletes dead shuffle files 20-40 s AFTER the GC that
    * unreferences them, so code that just freed a large shuffle must not
    * trust an immediate freeGb() read. Exits when `targetGb` headroom is
    * reached, or when growth (≥0.5 GB/tick) was OBSERVED and has since
    * stopped for two ticks — never on quiet ticks alone, which would
    * return before the delayed deletion even starts (ADVICE r15). Used
    * through [[settleIfConsumed]]. Returns the final freeGb. */
  private def settle(targetGb: Double, maxWaitSec: Int = 90, tickMs: Long = 3000): Double = {
    System.gc()
    var prev = freeGb()
    var grewOnce = false
    var stableAfterGrowth = 0
    var waited = 0L
    while (waited < maxWaitSec * 1000L && stableAfterGrowth < 2 && prev < targetGb) {
      Thread.sleep(tickMs); waited += tickMs
      val now = freeGb()
      if (now - prev >= 0.5) { grewOnce = true; stableAfterGrowth = 0 }
      else if (grewOnce) stableAfterGrowth += 1
      prev = now
    }
    prev
  }

  /** [[settle]] to `targetGb`, but only when free space is below it AND
    * the work since `freeAtStart` measurably consumed disk (more than
    * 5 GB): a host that is simply low on disk, with nothing pending to
    * reclaim, must not sit out the settle timeout at every boundary.
    * Returns the final freeGb. */
  def settleIfConsumed(freeAtStart: Double, targetGb: Double): Double = {
    val free = freeGb()
    if (free < targetGb && freeAtStart - free > 5) settle(targetGb) else free
  }

  /** Throws with a named reason if the tmpdir filesystem is under the
    * free-space floor — a refused run beats a corrupted artifact. */
  def preflight(what: String, min: Double = minFreeGb): Unit = {
    val free = freeGb()
    if (belowThreshold(free, min))
      throw new IllegalStateException(
        f"$what: disk preflight FAILED — only $free%.1f GB free in " +
          s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")} (need >= $min GB). " +
          "Reclaim scratch (graft_scratch_*, generated SF dirs, blockmgr-*) or " +
          "lower SPARK_GRAFT_MIN_FREE_GB if this is intentional.")
  }
}
