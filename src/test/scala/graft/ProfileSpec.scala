package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.graft.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd}
import org.scalatest.funsuite.AnyFunSuite

import graft.tools.Profile

/** The profiler's counters are per (query, rep), and `--plans` writes
  * the plan that actually ran, with the query's note and, for the
  * iterative operators, the round body. */
class ProfileSpec extends AnyFunSuite with LocalSpark {
  private val sf = "/root/testdata/sf0.001"

  test("reps of a query report the same jobs; each query's final plan is written") {
    val plans = Files.createTempFile("profile_plans", ".md")
    val queries = Seq("q01_pricing_summary", "q03_status_counts", "q49_pagerank")
    val reps = Profile.run(spark, sf, queries, 2, Some(plans))
    assert(reps.map(r => (r.query, r.rep)) == queries.flatMap(q => Seq(q -> 1, q -> 2)))
    reps.groupBy(_.query).values.foreach { case Seq(first, second) =>
      assert(first.jobs > 0 && first.stages.nonEmpty, first)
      assert(second.jobs == first.jobs, s"$first\n$second")
    }
    // one `## <query>` section per query, each holding one final plan
    val sections = Files.readString(plans).split("\n## ").toSeq.tail
      .map(s => s.takeWhile(_ != '\n') -> s)
    assert(sections.map(_._1).sorted == queries)
    sections.foreach { case (q, text) => assert(text.contains("isFinalPlan=true"), q) }
    val byQuery = sections.toMap
    assert(byQuery("q01_pricing_summary").contains("partial_sum map-side, one tiny shuffle"))
    assert(byQuery("q49_pagerank").contains("### q49_pagerank — round body"))
  }

  test("drain on an interrupted thread keeps the interrupt") {
    val sc = spark.sparkContext
    val entered, release = new CountDownLatch(1)
    val busy = new SparkListener {
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (entered.getCount > 0) { entered.countDown(); release.await(10, TimeUnit.SECONDS): Unit }
    }
    sc.addSparkListener(busy)
    try {
      spark.range(1).count()
      assert(entered.await(10, TimeUnit.SECONDS))
      Thread.currentThread().interrupt()
      intercept[InterruptedException](ListenerBridge.drain(sc))
      assert(Thread.interrupted())
    } finally {
      Thread.interrupted()
      release.countDown()
      sc.removeSparkListener(busy)
    }
  }
}
