package graft

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.AsofJoin

/** Backward as-of join: inclusive at-or-before match, left-join nulls,
  * single-shuffle plan. */
class AsofJoinSpec extends AnyFunSuite with LocalSpark {

  private def ts(s: String) = Timestamp.valueOf(s)

  test("picks the latest state at or before each probe; null when none") {
    import spark.implicits._
    val probe = Seq(
      (1L, ts("2024-01-01 10:00:00"), 100L), // before any state → null
      (1L, ts("2024-01-02 00:00:00"), 101L), // equal ts → inclusive match
      (1L, ts("2024-01-05 00:00:00"), 102L), // after both → latest wins
      (2L, ts("2024-01-03 00:00:00"), 200L), // other key
      (3L, ts("2024-01-03 00:00:00"), 300L)  // key with no state at all
    ).toDF("k", "t", "event_id")
    val state = Seq(
      (1L, ts("2024-01-02 00:00:00"), 10L),
      (1L, ts("2024-01-04 00:00:00"), 11L),
      (2L, ts("2024-01-01 00:00:00"), 20L)
    ).toDF("k", "t", "ord")

    val out = AsofJoin.asofJoin(probe, state, "k", "t")
      .orderBy("event_id").collect()
      .map(r => (r.getLong(2), if (r.isNullAt(3)) null else r.getLong(3)))
    assert(out.toSeq == Seq(
      (100L, null), (101L, 10L), (102L, 11L), (200L, 20L), (300L, null)))
  }

  test("a NULL payload in the latest state row stays NULL (no stale resurrection)") {
    import spark.implicits._
    val probe = Seq((1L, ts("2024-01-03 00:00:00"), 100L)).toDF("k", "t", "event_id")
    val state = Seq(
      (1L, ts("2024-01-01 00:00:00"), Some(5L), Some(7L)),
      (1L, ts("2024-01-02 00:00:00"), Some(9L), None) // b legitimately NULL
    ).toDF("k", "t", "a", "b")
    val row = AsofJoin.asofJoin(probe, state, "k", "t").collect().head
    assert(row.getAs[Long]("a") == 9L)
    assert(row.isNullAt(row.fieldIndex("b"))) // NOT 7 from the older row
  }

  test("probe columns and order of payloads survive; one shuffle in the plan") {
    import spark.implicits._
    val probe = Seq((1L, ts("2024-01-02 00:00:00"), "a", 1.5)).toDF("k", "t", "tag", "x")
    val state = Seq((1L, ts("2024-01-01 00:00:00"), 9L)).toDF("k", "t", "s")
    val out = AsofJoin.asofJoin(probe, state, "k", "t")
    assert(out.columns.toSeq == Seq("k", "t", "tag", "x", "s"))
    val row = out.collect().head
    assert(row.getString(2) == "a" && row.getDouble(3) == 1.5 && row.getLong(4) == 9L)

    // exactly one exchange: the union sorts/windows within ONE hash
    // shuffle on the key — no range-join blowup stage (AQE nests the
    // exchange inside a query stage, so count it in the plan string)
    val plan = out.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head // AQE prints final + initial
    assert(plan.split("Exchange hashpartitioning").length - 1 == 1, plan)
  }
}
