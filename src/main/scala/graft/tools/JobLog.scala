package graft.tools

import java.io.PrintStream

import scala.collection.mutable

import org.apache.spark.SparkConf
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd, SparkListenerJobEnd, SparkListenerJobStart}

/** Per-leg job wall vs driver gap of the crawl cycle, with no added
  * action: every cycle job carries the description `crawl.<leg>`, so
  * the listener sums, per leg, the wall time of its jobs and the driver
  * time before each of them (from the end of the previous `crawl.*` job
  * to its submission: planning, analysis, plan rendering, commits).
  * Job wall is the union of job intervals, so over a run the legs' job
  * wall plus driver gap add up to the span of the `crawl.*` jobs.
  *
  * Attach it to any JVM that builds a session, without code changes:
  * {{{
  *   JAVA_TOOL_OPTIONS="-Dspark.extraListeners=graft.tools.JobLog \
  *     -Dspark.graft.jobLog=/tmp/legs.tsv" python3 perfbench/run.py …
  * }}}
  * At application end it writes one TSV row per leg (leg, jobs, job
  * wall ms, driver gap ms) to `spark.graft.jobLog`, or to stderr. */
final class JobLog(conf: SparkConf) extends SparkListener {
  private final class Leg { var jobs = 0; var jobMs = 0L; var gapMs = 0L }

  private val legs = mutable.LinkedHashMap.empty[String, Leg]
  private val open = mutable.Map.empty[Int, (String, Long)]
  private var lastEnd = -1L

  private def label(e: SparkListenerJobStart): Option[String] =
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
      .filter(_.startsWith("crawl."))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    label(e).foreach { l =>
      val leg = legs.getOrElseUpdate(l, new Leg)
      leg.jobs += 1
      if (lastEnd >= 0 && open.isEmpty) leg.gapMs += math.max(0L, e.time - lastEnd)
      open(e.jobId) = (l, e.time)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    // AQE submits sibling stages as concurrent jobs: count the union of
    // job intervals, so a leg's gap and job wall never overlap
    open.remove(e.jobId).foreach { case (l, start) =>
      legs(l).jobMs += math.max(0L, e.time - math.max(start, lastEnd))
      lastEnd = math.max(lastEnd, e.time)
    }
  }

  override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = synchronized {
    val path = conf.getOption("spark.graft.jobLog")
    val out = path.fold(System.err)(p => new PrintStream(new java.io.FileOutputStream(p)))
    try {
      out.println("leg\tjobs\tjob_ms\tgap_ms")
      legs.foreach { case (l, g) => out.println(s"$l\t${g.jobs}\t${g.jobMs}\t${g.gapMs}") }
    } finally if (path.isDefined) out.close()
  }
}
