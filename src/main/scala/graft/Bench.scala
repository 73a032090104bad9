package graft
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
object Bench {
  /** A dirty tree means the compiled classes may not match the stamped
    * sha — and a concurrent `sbt compile` can rewrite
    * target/scala-2.13/classes under a running bench JVM mid-suite
    * (observed: 10 silently errored store-backed queries in a
    * `-dirty` sf100 run). Refuse to start unless explicitly
    * overridden, so a broken artifact can't be produced by accident.
    * Pure decision function (spec-tested); the caller supplies the
    * git state and the override env. */
  def refuseDirty(dirty: Boolean, allowDirtyEnv: Option[String]): Boolean =
    dirty && !allowDirtyEnv.contains("1")

  /** Paths whose modification can change what's in
    * target/scala-2.13/classes — the only dirt the guard cares about. */
  private[graft] val buildInputs = Seq("src/", "project/", "tools/", "build.sbt")

  /** Seconds rounded to 1 ms as a minimal JSON literal (Locale-free —
    * Double.toString never renders a locale comma). Rounding is
    * math.rint's HALF-TO-EVEN (banker's): 0.0005 renders "0" and
    * 0.5125 renders "0.512", not the conventional half-up — noted
    * because it is ~1000× below host noise, not worth a format change
    * in the driver-parsed line (ADVICE r16). Pure (spec-tested). */
  private[graft] def round3(v: Double): String = {
    val r = math.rint(v * 1000.0) / 1000.0
    val s = java.math.BigDecimal.valueOf(r).stripTrailingZeros().toPlainString
    if (s.isEmpty) "0" else s
  }

  /** True iff the porcelain output names a file that affects compiled
    * classes. The round-12 driver run was refused (rc=1, no official
    * bench data) because the driver itself dirties the tree with
    * round artifacts (modified LEAKCHECK.json, untracked
    * CORRECTNESS_r*.json) before benching — artifacts that can't
    * change the running code. Scoping the check to build inputs keeps
    * the guard's real protection (a concurrent compile rewriting the
    * classes dir mid-suite) while letting driver/round artifacts
    * through. Pure (spec-tested on porcelain text). */
  private[graft] def affectsCompiledClasses(porcelain: String): Boolean =
    porcelain.linesIterator.exists { line =>
      if (line.length < 4) false
      else {
        // porcelain v1: 2-char XY status + space + path; renames are
        // "R  old -> new" (either side in a build dir counts). Paths
        // with specials are "-quoted — strip quotes before matching.
        line.drop(3).split(" -> ").exists { raw =>
          val p = raw.stripPrefix("\"").stripSuffix("\"")
          // dirs (trailing /) match by prefix; files match exactly —
          // so build.sbt.bak or srcfoo.txt can never false-positive.
          buildInputs.exists(b => if (b.endsWith("/")) p.startsWith(b) else p == b)
        }
      }
    }

  private def gitPorcelain(): String =
    try {
      val p = new ProcessBuilder("git", "status", "--porcelain").start()
      val s = scala.io.Source.fromInputStream(p.getInputStream).mkString
      p.waitFor()
      s
    } catch { case _: Exception => "" }

  private def gitPorcelainDirty(): Boolean = affectsCompiledClasses(gitPorcelain())

  /** Store-backed crawl faces run FIRST (VERDICT r15 ask #1): their
    * store writes are small but disk-sensitive, and alphabetical order
    * put q94 right after the q08/q44 shuffle giants, whose ~40 GB of
    * shuffle residue is reclaimed ASYNCHRONOUSLY — q94's only sf1000
    * campaign error (TASK_WRITE_FAILED) was its store write racing that
    * deletion. Running them before any shuffle giant removes the race
    * instead of waiting it out. */
  private[graft] val storeBackedFirst = Seq(
    "q88_warc_roundtrip", "q94_crawl_cycle", "q99_error_deletions", "q100_content_cache")

  /** Suite order: store-backed faces first (fixed order above), then the
    * rest alphabetically. Pure (spec-tested). */
  private[graft] def suiteOrder(names: Seq[String]): Seq[String] = {
    val first = storeBackedFirst.filter(names.contains)
    first ++ names.filterNot(first.contains).sorted
  }

  /** The queries whose name starts with one of `only`'s prefixes (every
    * query when None), in suite order. */
  private[graft] def select(only: Option[Seq[String]]): Seq[(String, (SparkSession, String) => DataFrame)] = {
    val queries = SparkEntry.queries
    suiteOrder(queries.keys.filter(n => only.forall(_.exists(n.startsWith))).toSeq)
      .map(n => n -> queries(n))
  }

  /** Runs `body`; a non-fatal failure is handed to `record` and the
    * result is false. Fatal errors (OOM, linkage) propagate, and so
    * does an interrupt, with the thread's interrupt flag set. Bench and
    * Verify record a failed query through this. */
  private[graft] def attempt(body: => Unit)(record: Throwable => Unit): Boolean =
    try { body; true } catch {
      case e: InterruptedException => Thread.currentThread().interrupt(); throw e
      case NonFatal(e) => record(e); false
    }

  /** Absorb JVM/codegen/parquet-footer startup cost outside the timed
    * queries. A failed warmup is logged and skipped: the queries it
    * warms still run, and a real fault shows up there. */
  private[graft] def warmup(spark: SparkSession, sfDir: String): Unit = {
    def warm(what: String)(body: => Unit): Unit =
      attempt(body)(e => System.err.println(s"warmup ($what) failed: $e")): Unit
    // a scan+agg touching the common tables
    warm("table") {
      spark.read.parquet(s"$sfDir/lineitem.parquet").groupBy("l_returnflag").count().count()
      spark.read.parquet(s"$sfDir/documents.parquet").count(): Unit
    }
    // Machinery warmup on a 2-row in-memory table: the FIRST use of each
    // execution path in a JVM (regexp inside an aggregate, window exec,
    // broadcast join, Generate/explode, higher-order lambdas, sort) pays
    // a one-off multi-second class-loading + codegen cost that would
    // otherwise be billed to whichever timed query happens to hit that
    // path first. Data volume here is nil; only the code paths matter.
    warm("machinery") {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      import spark.implicits._
      val tiny = Seq(("https://a.example.com/x", 1), ("https://b.example.com/y", 2)).toDF("url", "n")
      tiny.groupBy(regexp_extract(col("url"), "//([^/]+)", 1)).count().count()
      tiny.withColumn("rn", row_number().over(Window.partitionBy("url").orderBy("n"))).count()
      tiny.join(broadcast(tiny.select(col("n").as("m"))), col("n") === col("m")).count()
      tiny.select(explode(split(col("url"), "/")).as("p")).distinct().orderBy("p").count()
      tiny.select(aggregate(transform(split(col("url"), "/"), x => length(x)),
        lit(0), (a, b) => a + b)).count()
      tiny.groupBy(graft.functions.CrawlFunctions
        .pldCol(graft.functions.CrawlFunctions.hostCol(col("url")))).count().count()
      tiny.rollup(col("url"), col("n")).count().count()
      tiny.withColumn("lv", last(col("url"), ignoreNulls = true).over(
        Window.partitionBy("n").orderBy("n")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))).count(): Unit
    }
  }

  /** The timed action: toRdd.count(), NOT df.count(). df.count()
    * re-optimizes with zero required columns, and Catalyst then
    * DELETES operators whose output the count doesn't need — a
    * row-preserving window/join tail prunes to a parquet metadata
    * count (measured: q37's as-of window, q57's semdedup window+join,
    * q87's OOV join, q92's quota window). toRdd executes the physical
    * plan with the query's full output schema (every output column
    * materialized into UnsafeRows, final sorts included), so the
    * timing covers the operator the query declares. */
  private[graft] def execute(df: DataFrame): Long = df.queryExecution.toRdd.count()

  /** Untimed hygiene at a query boundary, sized for a suite of
    * `nQueries`; `freeAtStart` is the free disk (GB) when the query
    * started. */
  private[graft] def boundary(spark: SparkSession, nQueries: Int, freeAtStart: Double): Unit = {
    // free result-backing checkpoints (CC labels, digest maps) so
    // repeated queries don't accumulate block-manager residents
    graft.analytics.CheckpointRegistry.releaseAll()
    // Shuffle files and broadcasts are only deleted when the
    // ContextCleaner sees their driver references GC'd — and a 96 g
    // heap under a light driver load almost never GCs, so a long suite
    // accumulates every prior query's shuffle output on disk (tens of
    // GB at sf100), evicting the page-cached parquet the next query
    // needs. Observed: q08 194.9 s / q25 51.7 s IN-SUITE at sf100 vs
    // 20.3 s / 8.9 s in isolation min-of-2 — same code, same data. An
    // explicit GC at each query boundary lets the cleaner reclaim the
    // dead state while the clock is stopped.
    spark.catalog.clearCache()
    // ... and reclaim store-backed scratch NOW (WARC shards, frontier
    // stores): at campaign scale the per-query scratch residue is
    // monotonic and killed three sf1000 rows at 7.1 GB free (VERDICT
    // r14 what's-wrong #2). Safe at a query boundary — every query
    // allocates a fresh dir.
    graft.tools.Scratch.sweepAll()
    // The GC runs at every boundary, whatever the free disk: it is what
    // lets the ContextCleaner reclaim the query's dead state (above).
    System.gc()
    // Then a bounded wait for the ASYNCHRONOUS shuffle-file reclaim
    // (measured: 42 GB of q44 sf1000 shuffle vanishes ~20-40 s after
    // the boundary; a store-backed query starting milliseconds later
    // races that deletion — this, not monotonic leakage, is what
    // refused q99 in the r17 re-cut). The wait exits on target
    // headroom or observed-then-stopped growth, never on quiet ticks
    // alone (ADVICE r15), and runs only after a query that consumed
    // disk, so a host short of the target does not sleep at every
    // boundary.
    Disk.settleIfConsumed(freeAtStart, Disk.requiredGb(nQueries) + 10): Unit
  }

  def main(args: Array[String]): Unit = {
    if (refuseDirty(gitPorcelainDirty(), sys.env.get("SPARK_GRAFT_ALLOW_DIRTY"))) {
      System.err.println(
        "bench: REFUSING to run from a dirty tree — commit (or stash) first, " +
          "or set SPARK_GRAFT_ALLOW_DIRTY=1 to override (artifact will be stamped -dirty).")
      sys.exit(2)
    }
    // SPARK_GRAFT_ONLY=q22,q24 restricts to a subset (prefix match on
    // the query name) — parsed here because the disk preflight is sized
    // to the number of queries that will actually run.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val suite = select(only)
    val nSelected = suite.size
    // disk preflight (VERDICT r13 ask #4, r14 what's-wrong #2): a
    // 99%-full host produced two disk-pressure-shaped defects in r13,
    // and the one-query-sized 5 GB floor let a 94-query campaign bench
    // into scratch exhaustion in r14 — refuse with a named reason, with
    // the floor sized to the suite length.
    try Disk.preflight(s"bench ($nSelected queries)", Disk.requiredGb(nSelected)) catch {
      case e: IllegalStateException =>
        System.err.println(e.getMessage)
        sys.exit(3)
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local()
    warmup(spark, sfDir)
    // SPARK_GRAFT_REPS=N runs the suite N times in ONE JVM and keeps
    // the per-query minimum — on a shared host the min is the signal,
    // single runs carry ±30% (spikes: 3×) load noise. Default 2: one
    // rep re-measures whatever load spike it landed in.
    val reps = sys.env.get("SPARK_GRAFT_REPS").map(_.toInt).getOrElse(2).max(1)
    // per-failed-query reason (class + truncated message) — an artifact
    // row `errors:["q94_crawl_cycle"]` with no message cost round 13 an
    // adjudication (VERDICT ask #5); the reason rides in the artifact.
    val errorDetails = scala.collection.mutable.Map.empty[String, String]
    def runSuite(dir: String): Map[String, Double] = {
      val runs = (1 to reps).map { _ =>
        suite.map { case (name, fn) =>
          val free0 = Disk.freeGb()
          val t0 = System.nanoTime()
          // a failed query is recorded as failed (NaN), never as a timing:
          // an exception's duration (~0.05 s) silently deflating the total
          // is exactly the artifact lying when it matters most.
          val ok =
            attempt(execute(fn(spark, dir))) { e =>
              System.err.println(s"bench: $name FAILED: ${e.getMessage}")
              val reason = (e.getClass.getSimpleName + ": " +
                Option(e.getMessage).getOrElse("(no message)")).take(300)
              // key per (pass, query): the main-SF and sf0.01 passes can
              // fail with DIFFERENT root causes; a name-only key recorded
              // just whichever failed first and under-reported the other.
              val key =
                if (dir == sfDir) name
                else s"$name@${java.nio.file.Paths.get(dir).getFileName}"
              errorDetails.getOrElseUpdate(key, reason): Unit
            }
          val t = if (ok) (System.nanoTime() - t0) / 1e9 else Double.NaN
          boundary(spark, nSelected, free0)
          name -> t
        }.toMap
      }
      // min over reps, ignoring failed reps; NaN only if ALL reps failed
      runs.reduce((a, b) => a.map { case (k, v) =>
        k -> (if (v.isNaN) b(k) else if (b(k).isNaN) v else math.min(v, b(k)))
      })
    }
    // failed queries (NaN) are excluded from the queries map and the
    // total, and named in an "errors" list so a fast-fail can never be
    // mistaken for a real timing.
    def js(m: Map[String, Double]): String =
      m.filterNot(_._2.isNaN)
        .map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    // per-query map at millisecond precision for the FINAL stdout line:
    // the driver contract is ONE JSON line carrying {"metric","value",
    // "unit","queries","sf"} — the full-precision map made that line
    // ~5 KB and the driver's tail capture truncated it mid-object
    // (BENCH parsed:null five rounds running), while the r15 "compact"
    // line fit but DROPPED the queries key the contract names. Rounding
    // to 1 ms keeps all 101 entries in ~2.9 KB — inside the observed
    // ≥3.9 KB tail window — and 1 ms is far below host noise (±30%).
    // Full precision still lands in the artifact file and on stderr.
    def jsMs(m: Map[String, Double]): String =
      m.filterNot(_._2.isNaN)
        .map { case (k, v) => s"\"" + k + "\":" + Bench.round3(v) }
        .mkString("{", ",", "}")
    def errs(ms: Map[String, Double]*): String = {
      val names = ms.flatMap(_.collect { case (k, v) if v.isNaN => k }).distinct.sorted
      if (names.isEmpty) "" else s""","errors":${names.map("\"" + _ + "\"").mkString("[", ",", "]")}"""
    }
    val results = runSuite(sfDir)
    val total = results.values.filterNot(_.isNaN).sum
    // a second, smaller-SF pass when available: round-over-round deltas
    // at two scales separate plan regressions (move together) from
    // host-load noise (don't). Same JSON line, extra keys.
    val sf001Dir = java.nio.file.Paths.get(sfDir).resolveSibling("sf0.01")
    val small =
      if (java.nio.file.Files.isDirectory(sf001Dir) && sf001Dir.toString != sfDir)
        Some(runSuite(sf001Dir.toString)) else None
    val extra = small.map(m =>
      s""","total_sf001":${m.values.filterNot(_.isNaN).sum},"queries_sf001":${js(m)}""").getOrElse("")
    // a subset run must be distinguishable from the full suite: the
    // "only" key records the filter, and the file lands as
    // bench_subset.json so a 2-query A/B can never clobber (or
    // masquerade as) the full-run artifact.
    val onlyKey = only.map(o =>
      s""","only":${o.map("\"" + _ + "\"").mkString("[", ",", "]")}""").getOrElse("")
    // provenance: every bench line names the build it measured, so a
    // stale artifact (or a table mixing two builds) is self-evident.
    val commit =
      try {
        val p = new ProcessBuilder("git", "rev-parse", "--short", "HEAD").start()
        val s = scala.io.Source.fromInputStream(p.getInputStream).mkString.trim
        p.waitFor()
        if (s.nonEmpty) s else "unknown"
      } catch { case _: Exception => "unknown" }
    // the -dirty stamp uses the same build-input scope as the guard:
    // a driver-written round artifact (LEAKCHECK.json, BENCH_r*.json)
    // can't change the measured code, so it must not taint the sha.
    val dirty = if (affectsCompiledClasses(gitPorcelain())) "-dirty" else ""
    // Locale.ROOT: the JVM default locale may render 12,3 — invalid JSON
    // in the one line the driver parses.
    val freeGb = String.format(java.util.Locale.ROOT, "%.1f", Double.box(Disk.freeGb()))
    // heap provenance: sf1000 campaigns need SPARK_DRIVER_MEM=96g and
    // the 8 g default OOMs or GC-throttles them — a whole round of
    // adjudication (r17) went to numbers that silently mixed 8 g and
    // 96 g runs. Every artifact now names the heap it measured under.
    val heapGb = String.format(java.util.Locale.ROOT, "%.1f",
      Double.box(Runtime.getRuntime.maxMemory / 1e9))
    def jesc(v: String): String = v.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case '\r' => "\\r"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    }
    val details =
      if (errorDetails.isEmpty) ""
      else s""","error_details":${errorDetails.toSeq.sortBy(_._1).map { case (k, v) =>
        "\"" + jesc(k) + "\":\"" + jesc(v) + "\""
      }.mkString("{", ",", "}")}"""
    // FULL line (per-query map, sf0.01 pass, error details) — artifact
    // file + stderr only. The driver's stdout tail capture truncated
    // this ~5 KB object two rounds running (BENCH parsed:null), so the
    // full map must never be the line the driver parses.
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","reps":$reps,"commit":"$commit$dirty","disk_free_gb":$freeGb,"heap_gb":$heapGb$onlyKey${errs(results :: small.toList: _*)}$details,"queries":${js(results)},"sf":"${jesc(sfDir)}"$extra}"""
    // land the full line in a file. Path from env (SPARK_GRAFT_BENCH_OUT)
    // with a fallback OUTSIDE the worktree (tmpdir): a scratch file
    // inside the repo makes the NEXT bench in a series report a -dirty
    // sha. Best-effort: an unwritable path must not turn a finished
    // benchmark into a failure after the results printed. The fallback
    // name embeds the pid so concurrent bench runs never clobber each
    // other.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", {
      val base = sys.props.getOrElse("java.io.tmpdir", "/tmp")
      val pid = ProcessHandle.current().pid()
      s"$base/${if (only.isDefined) "graft_bench_subset" else "graft_bench_out"}_$pid.json"
    })
    val wrote =
      try {
        java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
          (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
        System.err.println(s"bench: full artifact written to $outPath")
        true
      } catch {
        case e: Exception =>
          System.err.println(s"bench: could not write $outPath: $e (full line follows on stderr)")
          false
      }
    System.err.println(line)
    // COMPACT final stdout line (VERDICT r13 ask #3): small enough
    // (~250 B) that the driver's tail capture always contains one
    // complete JSON object — total, query count, errors, provenance,
    // and the artifact path holding the per-query map. If the artifact
    // file could not be written, fall back to the full line so the
    // per-query data is never lost entirely.
    val nOk = results.values.count(!_.isNaN)
    val compact =
      s"""{"metric":"total","value":$total,"unit":"sec","n":$nOk,"reps":$reps,"commit":"$commit$dirty","disk_free_gb":$freeGb,"heap_gb":$heapGb$onlyKey${errs(results :: small.toList: _*)},"artifact":"${jesc(outPath)}","queries":${jsMs(results)},"sf":"${jesc(sfDir)}"}"""
    // COMMITTED fallback channel (VERDICT r14 missing-#1, 3 rounds of
    // parsed:null): sbt decorates stdout ([info]/[success]) beyond our
    // control, so the compact line ALSO lands at a fixed repo path the
    // round evidence can cite regardless of the driver's tail capture.
    // Full-suite runs only — a 2-query A/B must never masquerade as the
    // round's official number. Not a build input → can't trip the dirty
    // guard. Best-effort.
    if (only.isEmpty)
      try java.nio.file.Files.write(java.nio.file.Paths.get("bench_last.json"),
        (compact + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit
      catch { case e: Exception =>
        System.err.println(s"bench: could not write bench_last.json: $e")
      }
    // stop Spark BEFORE the handshake line so nothing can write to the
    // process streams after it: the compact JSON is the FINAL stdout
    // line of the run (VERDICT r15 ask #5). Paired with build.sbt's
    // StdoutOutput strategy + suppressed [success] banner, the line
    // reaches the driver bare — no [info] prefix, no trailing banner.
    spark.stop()
    println(if (wrote) compact else line)
    System.out.flush()
  }
}
