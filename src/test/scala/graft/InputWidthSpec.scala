package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.InputWidth

/** [[InputWidth.widen]] must fire exactly when the physical input
  * cannot feed every core — a compact parquet table (one file, one row
  * group) — and be a provable no-op everywhere else, since at cluster
  * scale the no-op path is the only acceptable cost. */
class InputWidthSpec extends AnyFunSuite with LocalSpark {
  import spark.implicits._

  private def tmpDir(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(name)
    d.toFile.deleteOnExit()
    d.resolve("t.parquet").toString
  }

  test("single-row-group parquet is widened to the requested width") {
    val p = tmpDir("iw_single")
    (1 to 1000).toDF("x").coalesce(1).write.mode("overwrite").parquet(p)
    val df = spark.read.parquet(p)
    val w = InputWidth.widen(df, 8)
    assert(w.rdd.getNumPartitions == 8)
    assert(w.agg(sum("x")).as[Long].head() == 500500L)
  }

  test("enough FILES: untouched without reading any footer") {
    val p = tmpDir("iw_many")
    (1 to 1000).toDF("x").repartition(6).write.mode("overwrite").parquet(p)
    val df = spark.read.parquet(p)
    // width 4 <= 6 files: the same instance comes back — the file-count
    // exit, which is the zero-cost path a 100 TB table takes
    assert(InputWidth.widen(df, 4) eq df)
  }

  test("enough ROW GROUPS in few files: untouched") {
    val p = tmpDir("iw_rg")
    (1 to 4000).toDF("x").coalesce(1).write.mode("overwrite")
      .option("parquet.block.size", "1024") // tiny groups -> many per file
      .parquet(p)
    val df = spark.read.parquet(p)
    val groups = {
      val f = df.inputFiles.head
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f),
        spark.sparkContext.hadoopConfiguration)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRowGroups.size() finally r.close()
    }
    assume(groups >= 3, s"writer produced $groups row groups")
    assert(InputWidth.widen(df, 3) eq df)
    assert(InputWidth.widen(df, groups + 1).rdd.getNumPartitions == groups + 1)
  }

  test("non-scan and non-parquet inputs are untouched") {
    val range = spark.range(10).toDF("x") // no files behind it
    assert(InputWidth.widen(range, 8) eq range)
    val agg = spark.range(10).toDF("x").groupBy("x").count()
    assert(InputWidth.widen(agg, 8).rdd.getNumPartitions != 0) // no throw
    val p = tmpDir("iw_csv").replace("t.parquet", "t.csv")
    (1 to 100).toDF("x").coalesce(1).write.mode("overwrite").csv(p)
    val csv = spark.read.csv(p)
    assert(InputWidth.widen(csv, 8) eq csv) // line-splittable: not ours to fix
  }
}
