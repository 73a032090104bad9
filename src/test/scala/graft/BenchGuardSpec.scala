package graft

import org.scalatest.funsuite.AnyFunSuite

/** The dirty-tree guard in [[Bench]]: a bench run from an uncommitted
  * tree produced a silently broken artifact once (10 errored
  * store-backed queries in a `-dirty` sf100 run, caused by a
  * concurrent compile rewriting the shared classes dir). The guard
  * must refuse exactly the dirty+no-override case and nothing else.
  */
class BenchGuardSpec extends AnyFunSuite {
  test("clean tree always runs") {
    assert(!Bench.refuseDirty(dirty = false, None))
    assert(!Bench.refuseDirty(dirty = false, Some("1")))
    assert(!Bench.refuseDirty(dirty = false, Some("0")))
  }
  test("dirty tree refuses unless explicitly overridden with 1") {
    assert(Bench.refuseDirty(dirty = true, None))
    assert(Bench.refuseDirty(dirty = true, Some("0")))
    assert(Bench.refuseDirty(dirty = true, Some("")))
    assert(Bench.refuseDirty(dirty = true, Some("true"))) // only "1" overrides
    assert(!Bench.refuseDirty(dirty = true, Some("1")))
  }

  // Round-12 regression: the driver modifies LEAKCHECK.json and drops
  // untracked CORRECTNESS_r*.json / BENCH_r*.json before benching, so a
  // whole-tree porcelain check refused the driver's own run (rc=1 — no
  // official bench data for the round). Only build inputs may refuse.
  test("driver-owned round artifacts do not count as dirty") {
    val driverTree =
      """ M LEAKCHECK.json
        |?? CORRECTNESS_r13.json
        |?? BENCH_r13.json
        |?? bench_sf10_r13.json
        | M BASELINE.md
        | M VERDICT.md
        |?? PLANS.md
        |""".stripMargin
    assert(!Bench.affectsCompiledClasses(driverTree))
    assert(!Bench.affectsCompiledClasses(""))
  }
  test("build-input dirt still refuses") {
    assert(Bench.affectsCompiledClasses(" M src/main/scala/graft/Bench.scala\n"))
    assert(Bench.affectsCompiledClasses("?? src/main/scala/graft/New.scala\n"))
    assert(Bench.affectsCompiledClasses(" M build.sbt\n"))
    assert(Bench.affectsCompiledClasses(" M project/build.properties\n"))
    assert(Bench.affectsCompiledClasses(" M tools/gen_scale.py\n"))
    // mixed: one artifact + one source file => dirty
    assert(Bench.affectsCompiledClasses(" M LEAKCHECK.json\n M src/main/scala/A.scala\n"))
    // rename INTO a build dir counts (either side)
    assert(Bench.affectsCompiledClasses("R  notes.txt -> src/main/scala/graft/X.scala\n"))
    // prefix must be a path component: near-miss names never match
    assert(!Bench.affectsCompiledClasses("?? srcfoo.txt\n"))
    assert(!Bench.affectsCompiledClasses("?? build.sbt.bak\n"))
    assert(!Bench.affectsCompiledClasses("?? projectX/a.txt\n"))
  }
  test("disk preflight decision: below-threshold refuses, at-or-above runs") {
    assert(Disk.belowThreshold(free = 1.2, min = 5.0))
    assert(!Disk.belowThreshold(free = 5.0, min = 5.0))
    assert(!Disk.belowThreshold(free = 80.0, min = 5.0))
    // freeGb on a real path is positive and finite
    val f = Disk.freeGb("/tmp")
    assert(f > 0 && f < 1e6)
  }
  test("campaign-sized preflight floor scales with suite length, capped") {
    // (env-less path: SPARK_GRAFT_MIN_FREE_GB is unset under sbt test)
    if (sys.env.get("SPARK_GRAFT_MIN_FREE_GB").isEmpty) {
      assert(Disk.requiredGb(1) == 5.25)            // one-query A/B ≈ old floor
      assert(Disk.requiredGb(94) == 28.5)           // r14's campaign would have refused at 7.1 GB
      assert(Disk.requiredGb(1000) == 30.0)         // capped
    }
  }

  test("disk settle: a boundary that consumed no disk returns without sleeping") {
    // a target no host reaches: only the consumption gate keeps the
    // settle loop (3 s ticks, up to 90 s) from running
    val t0 = System.nanoTime()
    val free = Disk.settleIfConsumed(freeAtStart = Disk.freeGb(), targetGb = 1e9)
    assert((System.nanoTime() - t0) / 1e9 < 1.0)
    assert(free > 0 && free < 1e9)
  }

  test("round3: millisecond precision, minimal JSON literal, locale-free") {
    assert(Bench.round3(0.554832503) == "0.555")
    assert(Bench.round3(114.848813136) == "114.849")
    assert(Bench.round3(2.0) == "2")
    assert(Bench.round3(0.0004) == "0")          // sub-ms rounds to 0, still valid JSON
    assert(Bench.round3(1234.5678) == "1234.568")
    // the REAL query names at 1 ms precision must fit the driver's
    // observed ≥3.9 KB stdout tail window together with the ~350 B
    // compact header — this trips if someone adds enough queries (or
    // long enough names) to push the final line past the window.
    // Width per value sized at 999999.999 (ADVICE r16): a ≥10 000 s
    // query — plausible at sf1000 — renders 10 chars, and the guard
    // must certify the widest line a real campaign can emit.
    val line = SparkEntry.queries.keys
      .map(k => "\"" + k + "\":" + Bench.round3(999999.999)).mkString("{", ",", "}")
    assert(line.length < 3500, s"queries map too long for the tail window: ${line.length}")
  }

  test("suite order: store-backed faces first, rest alphabetical (VERDICT r15 ask #1)") {
    // q94's only sf1000 campaign error was its store write racing the
    // async reclaim of q08/q44's ~40 GB shuffle residue — alphabetical
    // order put it right after them. Store-backed faces now run before
    // any shuffle giant.
    val names = Seq("q94_crawl_cycle", "q08_merge_dedup", "q44_sessionize",
      "q01_pricing_summary", "q99_error_deletions", "q88_warc_roundtrip",
      "q100_content_cache")
    assert(Bench.suiteOrder(names) == Seq(
      "q88_warc_roundtrip", "q94_crawl_cycle", "q99_error_deletions",
      "q100_content_cache",
      "q01_pricing_summary", "q08_merge_dedup", "q44_sessionize"))
    // subset without store-backed faces: plain alphabetical
    assert(Bench.suiteOrder(Seq("q44_sessionize", "q08_merge_dedup")) ==
      Seq("q08_merge_dedup", "q44_sessionize"))
    // a store-backed subset keeps the fixed face order
    assert(Bench.suiteOrder(Seq("q99_error_deletions", "q88_warc_roundtrip")) ==
      Seq("q88_warc_roundtrip", "q99_error_deletions"))
  }
}
