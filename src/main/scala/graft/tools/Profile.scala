package graft.tools

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.graft.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

import graft.{Bench, Session}

/** Where each query's time goes, measured the way `Bench` measures it:
  * the same session, query selection, warmup, timed action and
  * query-boundary hygiene. One line per (query, rep) splits the wall
  * time into DataFrame construction (eager probes, caches, driver-local
  * solves), planning and execution, with the rep's jobs, stages, tasks,
  * executor CPU, shuffle bytes and spill; its stages follow, indented.
  * The first rep is the cold number, the minimum the steady-state one.
  *
  * Usage: SPARK_GRAFT_SF_DIR=… SPARK_GRAFT_REPS=N
  *   runMain graft.tools.Profile [query-prefix…] [--plans DIR]
  * `--plans DIR` writes each query's final adaptive plan to DIR/<query>.txt.
  */
object Profile {
  final case class Stage(id: Int, name: String, tasks: Int, wallMs: Long, cpuNs: Long,
      shuffleRead: Long, shuffleWrite: Long, spill: Long) {
    override def toString: String =
      f"    stage $id%4d $tasks%5d tasks $wallMs%7d ms cpu=${cpuNs / 1e9}%.2fs " +
        s"shuffleR=$shuffleRead shuffleW=$shuffleWrite spill=$spill ${name.take(60)}"
  }

  final case class Rep(query: String, rep: Int, constructS: Double, planS: Double,
      executeS: Double, jobs: Long, stages: Seq[Stage]) {
    private def sum(f: Stage => Long): Long = stages.map(f).sum
    override def toString: String =
      f"$query%-30s rep=$rep total=${constructS + planS + executeS}%.3f construct=$constructS%.3f " +
        f"plan=$planS%.3f execute=$executeS%.3f jobs=$jobs stages=${stages.size} " +
        f"tasks=${sum(_.tasks.toLong)} cpu=${sum(_.cpuNs) / 1e9}%.2fs shuffleR=${sum(_.shuffleRead)} " +
        s"shuffleW=${sum(_.shuffleWrite)} spill=${sum(_.spill)}" +
        stages.map("\n" + _).mkString
  }

  private final class Recorder extends SparkListener {
    val jobs = new AtomicLong
    val stages = new ConcurrentLinkedQueue[Stage]
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val m = si.taskMetrics
      val wallMs = (for (s <- si.submissionTime; c <- si.completionTime) yield c - s).getOrElse(-1L)
      stages.add(Stage(si.stageId, si.name, si.numTasks, wallMs, m.executorCpuTime,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.diskBytesSpilled)): Unit
    }
  }

  /** Runs every query `prefixes` selects (all when empty) `reps` times,
    * printing each rep as it completes. */
  def run(spark: SparkSession, sfDir: String, prefixes: Seq[String], reps: Int,
      plans: Option[Path]): Seq[Rep] = {
    val suite = Bench.select(Some(prefixes).filter(_.nonEmpty))
    plans.foreach(Files.createDirectories(_))
    val rec = new Recorder
    spark.sparkContext.addSparkListener(rec)
    try suite.flatMap { case (name, fn) =>
      (1 to reps).map { rep =>
        // drain first: no event of the previous rep may land after the reset
        ListenerBridge.drain(spark.sparkContext)
        rec.jobs.set(0)
        rec.stages.clear()
        val free0 = graft.Disk.freeGb()
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val t1 = System.nanoTime()
        df.queryExecution.executedPlan
        val t2 = System.nanoTime()
        Bench.execute(df)
        val t3 = System.nanoTime()
        ListenerBridge.drain(spark.sparkContext)
        val r = Rep(name, rep, (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9, rec.jobs.get,
          rec.stages.asScala.toSeq.sortBy(_.id))
        println(r)
        if (rep == reps) plans.foreach(dir => Files.writeString(dir.resolve(s"$name.txt"),
          df.queryExecution.explainString(FormattedMode)))
        Bench.boundary(spark, suite.size, free0)
        r
      }
    } finally spark.sparkContext.removeSparkListener(rec)
  }

  def main(args: Array[String]): Unit = {
    val (prefixes, plans) = args.indexOf("--plans") match {
      case -1 => (args.toSeq, None)
      case i =>
        require(i + 1 < args.length, "--plans needs a directory")
        (args.toSeq.patch(i, Nil, 2), Some(Paths.get(args(i + 1))))
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.get("SPARK_GRAFT_REPS").map(_.toInt).getOrElse(2).max(1)
    val spark = Session.local()
    Bench.warmup(spark, sfDir)
    run(spark, sfDir, prefixes, reps, plans)
    spark.stop()
  }
}
