package perfbench

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.SparkEntry

/** A fixed subset of `SparkEntry.queries`, run one at a time in a closed
  * loop: an untimed warm pass that also collects every output for the
  * check, then the timed passes. Each query is timed in two parts: construct (the query
  * function call, which includes its eager probes and driver-local
  * solves) and execute (`queryExecution.toRdd.count()`, Bench's action).
  * Engine counters are scoped to each query through the benchmark's own
  * listener. Inter-query hygiene runs with the clock stopped. */
object Corpus {
  private def hygiene(spark: SparkSession): Unit = {
    graft.analytics.CheckpointRegistry.releaseAll()
    spark.catalog.clearCache()
    graft.tools.Scratch.sweepAll()
  }

  private def lookup(names: Seq[String]): Seq[(String, (SparkSession, String) => DataFrame)] = {
    val all = SparkEntry.queries
    names.map { n =>
      val hits = all.keys.filter(k => k == n || k.startsWith(n + "_")).toSeq
      require(hits.size == 1, s"query '$n' matches ${hits.mkString(",")}")
      n -> all(hits.head)
    }
  }

  def run(spark: SparkSession, counters: Counters, dir: String, names: Seq[String],
          passes: Int, markTimed: () => Unit): Map[String, Any] = {
    val qs = lookup(names)
    // Bench's disk floor, sized to the queries this run executes
    graft.Disk.preflight(s"perfbench (${qs.size} queries)", graft.Disk.requiredGb(qs.size))
    val check = qs.map { case (name, fn) =>
      val rows = fn(spark, dir).collect()
      hygiene(spark)
      name -> Map("rows" -> rows.length.toLong, "hash" -> orderFreeHash(rows))
    }.toMap
    markTimed()
    val timed = (1 to passes).map { _ =>
      val p0 = counters.snapshot(spark)
      val perQuery = qs.map { case (name, fn) =>
        val c0 = counters.snapshot(spark)
        val t0 = System.nanoTime()
        val df = fn(spark, dir)
        val t1 = System.nanoTime()
        df.queryExecution.toRdd.count()
        val t2 = System.nanoTime()
        val c = counters.snapshot(spark) - c0
        hygiene(spark)
        name -> Map("construct_s" -> (t1 - t0) / 1e9, "execute_s" -> (t2 - t1) / 1e9,
          "spark" -> c.toJson)
      }.toMap
      val pc = counters.snapshot(spark) - p0
      Map("queries" -> perQuery, "spark" -> pc.toJson)
    }
    Map("passes" -> timed, "check" -> check)
  }

  /** Order-insensitive content hash: each row renders to a canonical
    * string (doubles at 6 significant digits, map entries sorted), is
    * hashed with SHA-256, and the first 8 bytes of every row hash are
    * summed modulo 2^64. */
  def orderFreeHash(rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val sum = rows.foldLeft(0L) { (acc, r) =>
      val h = md.digest(canon(r).getBytes("UTF-8"))
      acc + java.nio.ByteBuffer.wrap(h, 0, 8).getLong
    }
    f"$sum%016x"
  }

  private def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double => fmtDouble(d)
    case f: Float => fmtDouble(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros().toPlainString
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "=" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case o => o.toString
  }

  private def fmtDouble(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(new java.math.MathContext(6))
      .stripTrailingZeros().toPlainString
}
