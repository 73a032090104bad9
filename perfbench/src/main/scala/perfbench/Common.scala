package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** The one place every workload gets its session. The settings copy
  * `graft.Bench.main`'s so the benchmark measures the engine the suite
  * measures: shuffle partitions = cores, initial partitions = 8 × cores
  * (AQE coalesces down), zstd block compression, and AQE allowed to
  * re-partition cached plans. Scratch, shuffle and warehouse paths are
  * kept under `work`. */
object Session {
  def settings(cpus: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> (cpus * 8).toString,
    "spark.io.compression.codec" -> "zstd",
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  def local(cpus: Int, work: String): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    val spark = settings(cpus).foldLeft(b) { case (acc, (k, v)) => acc.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** Engine counters read from outside through a SparkListener the
  * benchmark owns. Read `snapshot` only after `Bus.drain`. */
final class Counters extends SparkListener {
  private val jobs, tasks, cpuNs, shuffleWrite, spill = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  def snapshot(spark: SparkSession): Counters.Snap = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    Counters.Snap(jobs.get, tasks.get, cpuNs.get, shuffleWrite.get, spill.get)
  }
}

object Counters {
  final case class Snap(jobs: Long, tasks: Long, cpuNs: Long, shuffleWrite: Long, spill: Long) {
    def -(o: Snap): Snap = Snap(jobs - o.jobs, tasks - o.tasks, cpuNs - o.cpuNs,
      shuffleWrite - o.shuffleWrite, spill - o.spill)
    def toJson: Map[String, Any] = Map("jobs" -> jobs, "tasks" -> tasks,
      "executor_cpu_s" -> cpuNs / 1e9, "shuffle_write_bytes" -> shuffleWrite,
      "spill_bytes" -> spill)
  }

  def install(spark: SparkSession): Counters = {
    val c = new Counters
    spark.sparkContext.addSparkListener(c)
    c
  }
}

object Jvm {
  /** Peak heap occupancy since JVM start, summed over the heap pools. */
  def heapPeakMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)
}

/** Minimal JSON rendering for the raw result line (numbers, strings,
  * booleans, sequences and string-keyed maps). */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite number $d")
      d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case o => throw new IllegalArgumentException(s"cannot render ${o.getClass}")
  }

  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case '\r' => "\\r"; case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  }.mkString("\"", "", "\"")
}
