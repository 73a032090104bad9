package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Contract of the iterative-operator materialization helper
  * ([[graft.analytics.IterateAccess]] → `Iterate.checkpoint`) and the
  * plan properties the loops rely on: UnsafeRow-format checkpoints
  * with intact schema/values, lineage truncation (round N+1 reads a
  * LogicalRDD scan, not the round-N plan), and the edge table's
  * reusable hash partitioning. */
class IterateSpec extends AnyFunSuite with LocalSpark {

  test("checkpoint preserves schema and values across the internal-row bridge") {
    import spark.implicits._
    val df = Seq((1L, "a", 1.5), (2L, "b", -2.0), (3L, null, 0.0))
      .toDF("id", "s", "v")
      .groupBy("id").agg(max("s").as("s"), sum("v").as("v"))
    val (back, handle) = graft.analytics.IterateAccess.checkpoint(df)
    try {
      assert(back.schema == df.schema)
      assert(back.orderBy("id").collect().toSeq ==
        df.orderBy("id").collect().toSeq)
    } finally handle.unpersist(false)
  }

  test("checkpoint truncates lineage: the rebuilt frame plans as an RDD scan") {
    import spark.implicits._
    val df = Seq(1, 2, 3).toDF("x").groupBy("x").count()
    val (back, handle) = graft.analytics.IterateAccess.checkpoint(df)
    try {
      val plan = back.queryExecution.optimizedPlan.toString
      assert(plan.contains("LogicalRDD") || plan.contains("ExistingRDD"),
        s"expected an RDD scan, got:\n$plan")
      assert(!plan.toLowerCase.contains("aggregate"),
        "the upstream aggregate must NOT be re-planned after checkpointing")
    } finally handle.unpersist(false)
  }

  test("checkpoint stores UnsafeRow batches (internal format, not boxed Rows)") {
    import spark.implicits._
    val df = Seq((1L, 10L), (2L, 20L)).toDF("node", "rank")
    val (_, handle) = graft.analytics.IterateAccess.checkpoint(df)
    try {
      handle.count()
      val first = handle.first()
      assert(first.isInstanceOf[org.apache.spark.sql.catalyst.expressions.UnsafeRow],
        s"checkpoint rows must stay Tungsten UnsafeRows, got ${first.getClass}")
    } finally handle.unpersist(false)
  }

  test("rows survive unpersisting the PREVIOUS round (copy semantics)") {
    import spark.implicits._
    // two chained checkpoints as the loops do: materialize round 2,
    // free round 1, round 2 must still read correctly
    val r1 = graft.analytics.IterateAccess.checkpoint(
      spark.range(100).toDF("node").withColumn("comp", col("node")))
    r1._2.count()
    val r2 = graft.analytics.IterateAccess.checkpoint(
      r1._1.withColumn("comp", col("comp") + 1))
    r2._2.count()
    r1._2.unpersist(false)
    try {
      assert(r2._1.agg(sum("comp")).head().getLong(0) == (0L until 100L).map(_ + 1).sum)
    } finally r2._2.unpersist(false)
  }
}
