package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to the `private[sql]` Column↔Expression converters — the
  * sanctioned pattern for third-party Catalyst extensions that expose a
  * Column API over custom expressions (Spark 4 moved these behind
  * `org.apache.spark.sql.classic`). */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

/** Bridge to the `private[sql]` internal-row entry/exit points used by
  * [[graft.analytics]]'s iterative checkpoints: `queryExecution.toRdd`
  * (UnsafeRows out, no external-Row conversion) and
  * `internalCreateDataFrame` (UnsafeRows back in as a LogicalRDD).
  * Same sanctioned third-party-extension pattern as [[ColumnBridge]]. */
object InternalBridge {
  import org.apache.spark.rdd.RDD
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.types.StructType
  import org.apache.spark.sql.{DataFrame, SparkSession}

  def toInternalRdd(df: DataFrame): RDD[InternalRow] =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution.toRdd

  def internalCreateDataFrame(spark: SparkSession, rdd: RDD[InternalRow],
                              schema: StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)

  /** `df`'s rows as a leaf plan: a LogicalRDD over `toInternalRdd(df)`,
    * so a plan built on the result analyses, optimizes and renders only
    * its own operators, never `df`'s. Called on a CACHED frame, the RDD
    * reads the cache's blocks, and a lost block recomputes through the
    * cache's lineage (unlike a local checkpoint, which fails). The leaf
    * carries `df`'s size estimate (the cache's measured size once it is
    * loaded): a bare LogicalRDD reads as `spark.sql.defaultSizeInBytes`
    * and is never broadcast. No copy:
    * nothing persists these rows, and operators that buffer rows copy
    * them themselves. */
  def leaf(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.Statistics
    import org.apache.spark.sql.catalyst.types.DataTypeUtils
    import org.apache.spark.sql.execution.LogicalRDD
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    val est = ds.queryExecution.optimizedPlan.stats
    val plan = LogicalRDD(DataTypeUtils.toAttributes(df.schema), toInternalRdd(df))(
      ds.sparkSession, Some(Statistics(est.sizeInBytes, est.rowCount)), None)
    org.apache.spark.sql.classic.Dataset.ofRows(ds.sparkSession, plan)
  }
}
