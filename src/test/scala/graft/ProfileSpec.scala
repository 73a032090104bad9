package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.graft.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd}
import org.scalatest.funsuite.AnyFunSuite

import graft.tools.Profile

/** The profiler's counters are per (query, rep), and `--plans` writes
  * the plan that actually ran. */
class ProfileSpec extends AnyFunSuite with LocalSpark {
  private val sf = "/root/testdata/sf0.001"

  test("reps of a query report the same jobs; each query's final plan is written") {
    val plans = Files.createTempDirectory("profile_plans")
    val queries = Seq("q01_pricing_summary", "q03_status_counts")
    val reps = Profile.run(spark, sf, queries, 2, Some(plans))
    assert(reps.map(r => (r.query, r.rep)) == queries.flatMap(q => Seq(q -> 1, q -> 2)))
    reps.groupBy(_.query).values.foreach { case Seq(first, second) =>
      assert(first.jobs > 0 && first.stages.nonEmpty, first)
      assert(second.jobs == first.jobs, s"$first\n$second")
    }
    val written = Files.list(plans).iterator.asScala.toSeq
    assert(written.map(_.getFileName.toString).sorted == queries.map(_ + ".txt"))
    written.foreach(p => assert(Files.readString(p).contains("isFinalPlan=true"), p))
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
