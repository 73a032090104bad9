package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.MinKByOrdStrAgg.minKByOrdStr

/** Pins the native min-k aggregate (MinKByOrdStrAgg) bit-identical to the
  * `row_number over (partition by g order by ord, s) <= k` window idiom —
  * including ties, duplicate rows, groups smaller than k, and the
  * partial/final merge path (many input partitions per group).
  */
class MinKAggSpec extends AnyFunSuite with LocalSpark {

  private def viaWindow(df: org.apache.spark.sql.DataFrame, k: Int) = {
    val w = Window.partitionBy(col("g")).orderBy(col("o"), col("s"))
    df.withColumn("rn", row_number().over(w)).where(col("rn") <= k)
      .select(col("g"), col("o"), col("s"), col("rn"))
  }

  private def viaAgg(df: org.apache.spark.sql.DataFrame, k: Int) =
    df.groupBy(col("g"))
      .agg(minKByOrdStr(col("o"), col("s"), k).as("top"))
      .select(col("g"), posexplode(col("top")))
      .select(col("g"), col("col.ord").as("o"), col("col.s").as("s"),
        (col("pos") + 1).cast("int").as("rn"))

  private def assertSame(df: org.apache.spark.sql.DataFrame, k: Int): Unit = {
    val a = viaWindow(df, k).orderBy("g", "rn").collect().map(_.toSeq)
    val b = viaAgg(df, k).orderBy("g", "rn").collect().map(_.toSeq)
    assert(a.toSeq == b.toSeq)
  }

  test("matches window on a deterministic battery: ties, dups, small groups") {
    import spark.implicits._
    val df = Seq(
      // group 1: plain distinct values
      (1L, 30L, "c"), (1L, 10L, "a"), (1L, 20L, "b"), (1L, 40L, "d"),
      // group 2: ord ties broken by string
      (2L, 5L, "z"), (2L, 5L, "y"), (2L, 5L, "x"), (2L, 5L, "w"),
      // group 3: fully duplicate rows inside the top-k
      (3L, 7L, "m"), (3L, 7L, "m"), (3L, 7L, "m"), (3L, 9L, "n"),
      // group 4: fewer rows than k
      (4L, 1L, "only"),
      // group 5: worst-replacement cascade (descending arrival)
      (5L, 50L, "e"), (5L, 40L, "d"), (5L, 30L, "c"), (5L, 20L, "b"), (5L, 10L, "a"))
      .toDF("g", "o", "s")
    assertSame(df, 3)
    assertSame(df, 1)
    assertSame(df, 10)
  }

  test("matches window across many partitions (partial/final merge path)") {
    import spark.implicits._
    // deterministic pseudo-random battery spread over 4 input partitions:
    // ord values collide heavily so the merge path sees real ties
    val rows = (0 until 2000).map { i =>
      (i % 7L, (i * 37 % 11).toLong, "s" + (i * 13 % 17))
    }
    val df = rows.toDF("g", "o", "s").repartition(4)
    assertSame(df, 3)
    assertSame(df, 5)
  }

  test("matches window past ObjectHashAggregate's group fallback (>128 groups)") {
    import spark.implicits._
    // ObjectHashAggregate falls back to sort-based aggregation after
    // spark.sql.objectHashAggregate.sortBased.fallbackThreshold (128)
    // distinct groups per partition — the buffer must survive the
    // sort-based path's serialize/deserialize round-trips too
    val rows = (0 until 6000).map { i =>
      ((i % 500).toLong, (i * 31 % 13).toLong, "v" + (i * 7 % 19))
    }
    val df = rows.toDF("g", "o", "s").repartition(3)
    assertSame(df, 2)
  }

  test("timestamp_ntz order column keeps its logical type") {
    import spark.implicits._
    val df = Seq(
      (1L, "2024-01-02 00:00:00", "b"), (1L, "2024-01-01 00:00:00", "a"),
      (1L, "2024-01-03 00:00:00", "c"), (1L, "2024-01-01 00:00:00", "z"))
      .toDF("g", "ts", "s")
      .withColumn("o", col("ts").cast("timestamp_ntz")).drop("ts")
    val out = df.groupBy(col("g"))
      .agg(minKByOrdStr(col("o"), col("s"), 2).as("top"))
      .select(posexplode(col("top")))
    assert(out.schema("col").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
      .apply("ord").dataType == org.apache.spark.sql.types.TimestampNTZType)
    val got = out.select(col("col.s")).as[String].collect().toSeq
    assert(got == Seq("a", "z"))
  }

  test("int and date order columns: values round-trip (no boxed-Long CCE)") {
    import spark.implicits._
    // int/date are physically Int in Catalyst rows; eval must narrow the
    // buffered Long or the output projection's getInt throws CCE.
    val ints = Seq((1L, 30, "c"), (1L, 10, "a"), (1L, 20, "b"))
      .toDF("g", "o", "s")
    val gotInt = ints.groupBy(col("g"))
      .agg(minKByOrdStr(col("o"), col("s"), 2).as("top"))
      .select(posexplode(col("top")))
      .select(col("col.ord").as[Int], col("col.s").as[String]).collect().toSeq
    assert(gotInt == Seq((10, "a"), (20, "b")))

    val dates = Seq((1L, "2024-03-01", "late"), (1L, "2024-01-01", "early"),
      (1L, "2024-02-01", "mid"))
      .toDF("g", "d", "s").withColumn("o", col("d").cast("date")).drop("d")
    val out = dates.groupBy(col("g"))
      .agg(minKByOrdStr(col("o"), col("s"), 2).as("top"))
      .select(posexplode(col("top")))
    assert(out.schema("col").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
      .apply("ord").dataType == org.apache.spark.sql.types.DateType)
    val gotDate = out.select(col("col.ord").cast("string").as[String],
      col("col.s").as[String]).collect().toSeq
    assert(gotDate == Seq(("2024-01-01", "early"), ("2024-02-01", "mid")))
  }

  test("null strings and null ords are skipped, not ranked") {
    import spark.implicits._
    val df = Seq(
      (1L, Some(10L), Some("a")), (1L, None, Some("zz")), (1L, Some(5L), None),
      (1L, Some(20L), Some("b")))
      .toDF("g", "o", "s")
    val got = df.groupBy(col("g"))
      .agg(minKByOrdStr(col("o"), col("s"), 2).as("top"))
      .select(posexplode(col("top"))).select(col("col.s")).as[String].collect().toSeq
    assert(got == Seq("a", "b"))
  }
}
