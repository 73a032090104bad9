package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench and Verify record a failed query through `Bench.attempt`: an
  * ordinary failure is recorded, an interrupt is not swallowed. */
class BenchAttemptSpec extends AnyFunSuite {

  test("a non-fatal failure is recorded and reported as failed") {
    var seen = Option.empty[Throwable]
    assert(!Bench.attempt(throw new IllegalStateException("boom"))(e => seen = Some(e)))
    assert(seen.map(_.getMessage).contains("boom"))
    assert(Bench.attempt(())(e => fail(s"nothing to record: $e")))
  }

  test("an interrupt propagates with the thread's interrupt flag still set") {
    var recorded = false
    Thread.currentThread().interrupt()
    // sleep throws at once on an interrupted thread and clears the flag
    intercept[InterruptedException] {
      Bench.attempt(Thread.sleep(1000))(_ => recorded = true)
    }
    assert(Thread.interrupted(), "interrupt flag must be restored") // clears it again
    assert(!recorded)
  }
}
