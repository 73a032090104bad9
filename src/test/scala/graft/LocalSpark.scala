package graft

import org.apache.spark.sql.SparkSession

/** The specs' session: the engine's own settings (`Session.local`) on
  * 4 cores. All specs run in one forked JVM, where the first session
  * built is the one every spec shares. */
trait LocalSpark {
  lazy val spark: SparkSession = Session.local(4)
}
