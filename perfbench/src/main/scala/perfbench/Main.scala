package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

/** JVM side of the benchmark. `run.py` generates the inputs, starts
  * this main once per run and turns the raw line it prints into
  * metrics and checks.
  *
  * Usage: perfbench.Main workload=<crawl_loop|corpus> work=<dir> cpus=<n> [input=<dir>] [key=value ...]
  *
  * Prints one line `PERFBENCH_RAW {json}` with every sample, the epoch
  * milliseconds of JVM start and of the first timed operation. */
object Main {
  def main(args: Array[String]): Unit = {
    val kv = args.map { a =>
      val i = a.indexOf('=')
      require(i > 0, s"argument '$a' is not key=value")
      a.substring(0, i) -> a.substring(i + 1)
    }.toMap
    def int(k: String): Int = kv(k).toInt
    def long(k: String): Long = kv(k).toLong
    val work = Paths.get(kv("work")).toAbsolutePath
    def input = Paths.get(kv("input")).toAbsolutePath
    Files.createDirectories(work)
    val cpus = int("cpus")

    val spark = Session.local(cpus, work.toString)
    val counters = Counters.install(spark)
    var timedAt = -1L
    // the first call wins: a workload may run more than one timed phase
    val markTimed = () => if (timedAt < 0) timedAt = System.currentTimeMillis()

    val result = kv("workload") match {
      case "crawl_loop" =>
        CrawlLoop.run(spark, counters, input, work,
          CrawlLoop.Params(hosts = int("hosts"), pages = int("pages"),
            delayMs = long("delay_ms"), trace = kv("trace") == "1"),
          markTimed)
      case "corpus" =>
        val queries = Corpus.run(spark, counters, input.toString,
          kv("queries").split(",").toSeq, passes = int("passes"), markTimed)
        // the status stream legs follow when their sizes are given
        val stream = if (!kv.contains("rows_per_batch")) Map.empty[String, Any]
          else StatusStream.run(spark, work,
            StatusStream.Params(rowsPerBatch = int("rows_per_batch"),
              warmBatches = int("warm_batches"), timedBatches = int("timed_batches"),
              keyOffset = long("key_offset"), keySpace = long("key_space"),
              ttlKeySpace = long("ttl_key_space")),
            markTimed)
        queries ++ stream
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    require(timedAt > 0, "workload never started its timed phase")
    val line = Json.render(result ++ Map(
      "jvm_start_ms" -> ManagementFactory.getRuntimeMXBean.getStartTime,
      "timed_start_ms" -> timedAt,
      "heap_peak_mb" -> Jvm.heapPeakMb))
    spark.stop()
    println("PERFBENCH_RAW " + line)
    System.out.flush()
  }
}
