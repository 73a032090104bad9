package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.Bucketing

/** Bucketed tables must join on the bucket key WITHOUT an Exchange on
  * the bucketed sides — the co-located-join contract that makes the
  * write-time shuffle amortize across every downstream join. */
class BucketingSpec extends AnyFunSuite with LocalSpark {

  // getOrCreate returns the suite-shared session in a full run, so no
  // per-spec warehouse config can be relied on: tables get unique names
  // and explicit temp locations instead (the IndexSinkSpec Derby rule)
  private val run = java.util.UUID.randomUUID().toString.replace("-", "")
  private val docsTable = s"docs_bucketed_$run"
  private val keepTable = s"keep_bucketed_$run"
  private def tmpPath(name: String): String =
    java.nio.file.Files.createTempDirectory(name).resolve("t").toString

  private def executedPlanString(df: org.apache.spark.sql.DataFrame): String = {
    df.collect() // materialize so AQE finalizes the plan
    df.queryExecution.executedPlan.toString
  }

  test("join of two tables bucketed on the key plans no Exchange") {
    import spark.implicits._
    val docs = (0L until 1000L).map(i => (i, s"text $i", s"src${i % 4}"))
      .toDF("doc_id", "text", "source")
    val keep = (0L until 1000L by 3).map(Tuple1(_)).toDF("doc_id")
    Bucketing.saveBucketed(docs, docsTable, "doc_id", 8, Some(tmpPath("bktd")))
    Bucketing.saveBucketed(keep, keepTable, "doc_id", 8, Some(tmpPath("bktk")))

    // hint("merge"): at toy scale AQE would broadcast the keep side and
    // never consult the bucketing — the 100 TB shape this spec pins is
    // two BIG sides, where sort-merge is the planner's own choice
    val joined = Bucketing.table(spark, docsTable)
      .join(Bucketing.table(spark, keepTable).hint("merge"), "doc_id")
    val plan = executedPlanString(joined)
    assert(!plan.contains("Exchange"),
      s"bucketed join must be exchange-free:\n$plan")
    assert(joined.count() == 334)

    // the unbucketed version of the same join DOES shuffle — the
    // assertion above is meaningful
    val unbucketed = docs.join(keep.hint("merge"), "doc_id")
    assert(executedPlanString(unbucketed).contains("Exchange"))
  }

  test("aggregation on the bucket key reuses the bucketing (no Exchange)") {
    val agg = Bucketing.table(spark, docsTable)
      .groupBy("doc_id").agg(count(lit(1)).as("n"))
    val plan = executedPlanString(agg)
    assert(!plan.contains("Exchange"),
      s"bucketed agg must be exchange-free:\n$plan")
  }
}
