package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.plans.InputWidth

/** Verbatim-duplicate collapse: the reference's content-signature idea
  * (`MD5SignatureParseFilter.java:48`) applied across documents. An
  * operator whose result depends only on a document's text can run once
  * per distinct md5 digest and expand the result back to every member.
  * This object is the only place that knows how that collapse and
  * expansion work; each routed operator is one body over the [[Units]]
  * it returns.
  *
  *  - Collapse: one row per (groups, md5(text)), keyed by the group's
  *    smallest id, weighted by its member count. The aggregate carries
  *    FIXED-WIDTH columns only (min id + count), so Catalyst plans a
  *    partial/final HashAggregate; a string in the buffer (min(text))
  *    is not UnsafeRow-mutable and demotes the pass to Sort +
  *    SortAggregate, a full sort of the corpus carrying its text
  *    (measured 2× q22). The representative's text arrives by a second
  *    scan joined back on (groups, digest) keeping the member whose id
  *    is the key; the expansion maps members to keys through the same
  *    join without the text. AQE broadcasts the digest table when it is
  *    small, so both are map-only and share one broadcast. Ids are
  *    unique per row (the same contract connected components needs).
  *  - Why the min id: a digest group's min id is also the min over its
  *    members, so min-label connected components over keys give every
  *    member the label the uncollapsed graph gives it.
  *  - Why weights: identical texts have identical token, gram and band
  *    multisets, so any count over documents is the sum of `weight`
  *    over units — bodies write `sum(weight)` where a per-document
  *    pipeline writes `count`. On unique units `weight` is the literal
  *    1, which Catalyst folds, so the direct plan carries no weights.
  *  - Starved-scan repair ([[Units.wide]]): a compact single-row-group
  *    corpus pins its scan to one task. Unique units widen the scan
  *    ([[InputWidth.widen]]). Collapsed units never widen the scan, which
  *    would shuffle the full corpus text into the join-back (measured
  *    +2.5 s on q22 at 100× scale); they repartition the rep-sized
  *    joined frame when the scan is narrow.
  *
  * The route is data-dependent in a way AQE cannot re-plan, so a
  * one-row probe ([[unique]]) picks it before planning. Both routes are
  * correct on any input; the collapse costs two extra corpus passes and
  * joins on a unique corpus and saves a pass per copy on a replicated
  * one. */
object Collapse {

  /** Rows with at least one word — the rows the probe counts. */
  def worded(textCol: String): Column = trim(col(textCol)) =!= ""

  /** The probe's per-row key. xxhash64, not md5: an order of magnitude
    * cheaper per byte, and a collision can only UNDERCOUNT distincts,
    * i.e. route toward the collapse, which is correct on any input. */
  def probeKey(groupCol: String, textCol: String): Column =
    xxhash64(col(groupCol), col(textCol))

  /** The probe's decision from its two counts: at least `atLeast` of the
    * `rows` worded rows are distinct. An empty input is unique. */
  def unique(rows: Long, distinct: Long, atLeast: Double): Boolean =
    rows == 0L || distinct.toDouble >= atLeast * rows

  /** Duplication probe over the worded (group, text) rows of `df`: ONE
    * column-pruned scan with map-side partials. Exact counts, because a
    * 1% sample of a ×100-replicated corpus looks mostly unique and
    * would mis-route exactly the corpus that needs the collapse.
    * `atLeast = 1.0` (any duplicate collapses) suits the operators
    * whose cost grows with copies squared or per copy; 0.95 suits
    * those where the collapse only saves a fixed overhead — 8
    * duplicate texts in 5 000 do not pay for two extra joins
    * (measured: q80 2.2 → 6.0 s mis-routed). */
  def unique(df: DataFrame, textCol: String, groupCol: String,
             atLeast: Double = 1.0): Boolean = {
    val r = df.where(worded(textCol))
      .agg(count(lit(1)), count_distinct(probeKey(groupCol, textCol)))
      .first()
    unique(r.getLong(0), r.getLong(1), atLeast)
  }

  /** The units an operator body runs over: `rows` holds
    * (groups…, key, weight, text). Unique units are the documents
    * themselves (key = id, weight = 1); collapsed units are one row per
    * (groups, md5(text)). */
  def units(df: DataFrame, idCol: String, textCol: String,
            groupCols: Seq[String], unique: Boolean): Units = {
    val gs = groupCols.map(col)
    if (unique) {
      def project(scan: DataFrame) = scan.select(gs ++ Seq(col(idCol).as("key"),
        lit(1L).as("weight"), col(textCol).as("text")): _*)
      new Units(project(df), true, () => project(InputWidth.widen(df)), null)
    } else {
      // Both consumers below join this on (groups, digest) and read
      // every column through its (always true) filter, so Catalyst
      // infers the same filters into it and prunes neither column: the
      // aggregate is one plan and AQE runs it once.
      val agg = df.select(gs ++ Seq(md5(col(textCol)).as("digest"), col(idCol).as("m_id")): _*)
        .groupBy(gs :+ col("digest"): _*)
        .agg(min(col("m_id")).as("key"), count(lit(1)).as("weight"))
        .where(col("key").isNotNull && col("weight") >= 1)
      def withKeys(cols: Column*) =
        df.select(gs ++ (md5(col(textCol)).as("digest") +: cols): _*)
          .join(agg, groupCols :+ "digest")
      // the representative is the member whose id is the key (= the min)
      val rows = withKeys(col(idCol).as("id"), col(textCol).as("text"))
        .where(col("id") <= col("key"))
        .select(gs ++ Seq(col("key"), col("weight"), col("text")): _*)
      val members = withKeys(col(idCol).as("id")).select(col("key"), col("id"))
      // never widen the scan here: it would shuffle the full corpus text
      // into the join-back; repartition the rep-sized rows instead
      def widened() =
        if (!InputWidth.isNarrow(df)) rows
        else rows.repartition(df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt)
      new Units(rows, false, () => widened(), members)
    }
  }

  /** [[units]] for an operator that depends on the text alone, routed
    * by the probe over (text). */
  def textUnits(df: DataFrame, idCol: String, textCol: String,
                atLeast: Double = 1.0): Units =
    units(df, idCol, textCol, Nil, unique(df, textCol, textCol, atLeast))

  final class Units private[Collapse] (val rows: DataFrame, unique: Boolean,
                                       widened: () => DataFrame, members: DataFrame) {

    /** `rows` with the starved-scan repair; bodies use it where their
      * per-row work is CPU-dense. */
    def wide: DataFrame = widened()

    /** Per-unit results (column `key`) as per-document results (column
      * `idName`). Collapsed units join every member to its key. */
    def expand(byKey: DataFrame, idName: String): DataFrame =
      if (unique) byKey.withColumnRenamed("key", idName)
      else byKey.join(members.withColumnRenamed("id", idName), "key").drop("key")

    /** Pairs between units (columns `ka` < `kb`) as document pairs
      * (`a` < `b`), plus the verbatim cliques: `cliques` (column `key`,
      * weight ≥ 2 units only) pairs the members of each such unit with
      * each other. The two sets are disjoint, so the union needs no
      * dedup. Unique units have no cliques and never build them. */
    def expandPairs(cross: DataFrame, cliques: => DataFrame): DataFrame =
      if (unique) cross.withColumnRenamed("ka", "a").withColumnRenamed("kb", "b")
      else {
        def m(k: String, i: String) = members.select(col("key").as(k), col("id").as(i))
        val out = cross.join(m("ka", "ia"), "ka").join(m("kb", "ib"), "kb")
          .select(cross.columns.map {
            case "ka" => least(col("ia"), col("ib")).as("a")
            case "kb" => greatest(col("ia"), col("ib")).as("b")
            case c => col(c)
          }: _*)
        val self = cliques.join(m("key", "a"), "key").join(m("key", "b"), "key")
          .where(col("a") < col("b"))
        out.unionByName(self.select(out.columns.map(col): _*))
      }
  }
}
