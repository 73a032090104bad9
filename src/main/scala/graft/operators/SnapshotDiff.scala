package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Snapshot diff — classify every key across two versions of a table as
  * ADDED / REMOVED / CHANGED (optionally SAME).
  *
  * Crawl face: the batch form of the reference's change detection — the
  * status updater's merge decides per URL whether a row is new or
  * revisited (`core/.../persistence/AbstractStatusUpdaterBolt.java`),
  * and AdaptiveScheduler compares content signatures across fetches to
  * detect modification (`external/opensearch/.../AdaptiveScheduler.java:121`).
  * Diffing two frontier snapshots answers "what did this crawl cycle
  * discover, lose, or change" in one relational pass. Training-data
  * face: diffing two corpus versions yields the increment to reprocess
  * — the standard trick that turns a 100 TB re-run into a delta-sized
  * one.
  *
  * Semantics: keys are matched with null-safe equality via the join's
  * USING clause; value columns compare null-safely (`<=>`), so
  * null→null is SAME and null→value is CHANGED. Output: key columns,
  * then `old_<c>` / `new_<c>` for each value column, then `change`.
  *
  * Scale: ONE key-partitioned full-outer join — both sides shuffle on
  * the key once (sort-merge at scale, no broadcast: both snapshots are
  * corpus-sized). Snapshots written with Spark's `bucketBy` on the
  * key would make it exchange-free. The presence
  * flags cost one constant column per side — no count/distinct
  * pre-pass, no second scan of either snapshot.
  */
object SnapshotDiff {

  def diff(oldSnap: DataFrame, newSnap: DataFrame, keyCols: Seq[String],
           valueCols: Seq[String], includeSame: Boolean = false): DataFrame = {
    require(keyCols.nonEmpty, "snapshot diff needs at least one key column")
    val o = oldSnap.select((keyCols.map(col) ++
      valueCols.map(c => col(c).as(s"old_$c")) :+ lit(1).as("_po")): _*)
    val n = newSnap.select((keyCols.map(col) ++
      valueCols.map(c => col(c).as(s"new_$c")) :+ lit(1).as("_pn")): _*)
    val joined = o.join(n, keyCols, "full_outer")
    val valueChanged = valueCols
      .map(c => !(col(s"old_$c") <=> col(s"new_$c")))
      .reduceOption(_ || _).getOrElse(lit(false))
    val classified = joined.withColumn("change",
      when(col("_po").isNull, lit("ADDED"))
        .when(col("_pn").isNull, lit("REMOVED"))
        .when(valueChanged, lit("CHANGED"))
        .otherwise(lit("SAME")))
    (if (includeSame) classified else classified.where(col("change") =!= "SAME"))
      .select((keyCols.map(col) ++
        valueCols.flatMap(c => Seq(col(s"old_$c"), col(s"new_$c"))) :+
        col("change")): _*)
  }
}
