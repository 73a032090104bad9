package graft

import org.scalatest.funsuite.AnyFunSuite

/** Smoke-level checks of every SparkEntry query on sf0.001 (full
  * hash-correctness runs against the DuckDB oracle via Verify +
  * tools/check_oracle.py). */
class QueriesSpec extends AnyFunSuite with LocalSpark {
  private val sf = "/root/testdata/sf0.001"

  test("every oracle-declared query exists in queries") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracleSql without queries impl: $missing")
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
    test(s"$name runs and returns rows") {
      val df = fn(spark, sf)
      assert(df.columns.nonEmpty)
      assert(df.count() >= 0)
      if (name != "q11_purgatory_antijoin") // anti-join may legitimately be small
        assert(df.count() > 0, s"$name returned no rows")
    }
  }

  // Metadata map column ops (Metadata.java semantics) — quick end-to-end
  test("MetadataOps column helpers") {
    import graft.model.MetadataOps._
    import org.apache.spark.sql.functions._
    val df = spark.sql(
      "SELECT map('a', array('1','2'), 'p.x', array('v')) AS md")
    val r = df.select(
      mdFirst(col("md"), "a").as("first"),
      mdValues(col("md"), "zzz").as("empty"),
      map_keys(mdPrefix(col("md"), "p.")).as("pkeys"),
      mdFirst(mdSet(col("md"), "a", lit("9")), "a").as("set"),
      size(mdValues(mdAdd(col("md"), "a", lit("3")), "a")).as("added")
    ).head()
    assert(r.getString(0) == "1")
    assert(r.getSeq[String](1).isEmpty)
    assert(r.getSeq[String](2) == Seq("p.x"))
    assert(r.getString(3) == "9")
    assert(r.getInt(4) == 3)
  }
}
