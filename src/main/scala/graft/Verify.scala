package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // disk preflight: a near-full tmpdir corrupts store-backed query
    // scratch mid-run — refuse loudly instead (VERDICT r13 ask #4).
    try Disk.preflight("verify") catch {
      case e: IllegalStateException =>
        System.err.println(e.getMessage)
        sys.exit(3)
    }
    // the bench's own session: the correctness gate certifies that no
    // engine setting moves a declared query's hash
    val spark = Session.local()
    // DuckDB reads TIMESTAMP_MICROS natively; INT96 (Spark's default)
    // round-trips less predictably — pin the portable encoding of the
    // files this dump writes.
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    new java.io.File(outDir).mkdirs()
    // mismatch-prone faces (q88 WARC round-trip) persist diagnostic
    // sidecars next to the verify output when this property names a
    // directory — a driver-red oracle row becomes adjudicable from the
    // round artifacts without a rerun (VERDICT r14 next-#1b).
    System.setProperty("graft.verify.out", outDir)
    var failed = List.empty[String]
    SparkEntry.queries.foreach { case (name, fn) =>
      try Bench.attempt {
        val df = fn(spark, sfDir)
        // DuckDB reads Spark's UTC-adjusted timestamps as TIMESTAMPTZ,
        // while the oracle SQL yields naive TIMESTAMP — normalize all
        // top-level timestamp outputs to NTZ so representations agree.
        val out = df.schema.fields.foldLeft(df) { (d, f) =>
          f.dataType match {
            case org.apache.spark.sql.types.TimestampType =>
              d.withColumn(f.name, d(f.name).cast(org.apache.spark.sql.types.TimestampNTZType))
            case _ => d
          }
        }
        out.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } { e =>
        failed ::= name
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      finally
        // free result-backing checkpoints between queries
        graft.analytics.CheckpointRegistry.releaseAll()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    // A crashed query must be a LOUD gate failure, not a silently absent
    // row in the driver's correctness file (round 8 lost 21 queries that
    // way). Oracle dump + stop still ran above, so partial results land.
    if (failed.nonEmpty) {
      System.err.println(
        s"[verify] ${failed.size}/${SparkEntry.queries.size} queries FAILED: ${failed.sorted.mkString(", ")}")
      sys.exit(1)
    }
  }
}
