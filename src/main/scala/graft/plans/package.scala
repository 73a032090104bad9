package graft

package object plans {

  /** Adds [[InputWidth]] to a session's optimizer; `graft.Session` and
    * `Tables.t` call it, so a session built elsewhere gets the rule on
    * its first query. Installing twice leaves one copy, nothing else. */
  def install(spark: org.apache.spark.sql.SparkSession): Unit = spark.experimental.synchronized {
    val extra = spark.experimental.extraOptimizations
    if (!extra.contains(InputWidth)) spark.experimental.extraOptimizations = extra :+ InputWidth
  }
}
