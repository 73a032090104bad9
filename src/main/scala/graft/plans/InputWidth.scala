package graft.plans

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.catalyst.expressions.{AttributeSet, CreateArray}
import org.apache.spark.sql.catalyst.plans.{FullOuter, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.internal.SQLConf

/** Marks a graft native expression whose per-row work is CPU-dense. md5,
  * xxhash64, k-means assignment and PQ quantization are cheap per row and
  * carry no mark (widening the k-means rounds: q56 0.87 → 1.31 s, sf0.01). */
trait CpuDense

/** Input-width repair, the one place that decides whether a plan widens.
  *
  * Parquet splits by ROW GROUP: a compact table (one file, one row
  * group) funnels every row through ONE task, which under heavy per-row
  * work pins the stage to one core (q43 at sf10: 32 s against ~1 s of
  * work). Below the first CPU-dense operator (a `Generate`, a typed
  * `mapPartitions`/`map`, or a projection of a [[CpuDense]] expression)
  * whose input reaches a starved parquet scan through projections,
  * filters, deserialization and streamed join sides, this rule puts a
  * `Repartition(spark.sql.shuffle.partitions)` at the bottom of that
  * chain, right above the scan or a join's output, carrying only the
  * columns the chain reads: the whole per-row chain runs wide (say, a
  * tokenizing projection under an explode), and after a digest
  * collapse's join-back only rep-sized rows shuffle. A broadcast side
  * widens only inputs the rest of the plan widens too (a shared frame
  * keeps one reusable exchange). The exchange blocks the walk, so the
  * rule is idempotent.
  *
  * A scan is starved with fewer files than the width (else no footer is
  * read: a 100 TB table exits on its file count) holding fewer row
  * groups than the width, so the shuffle is bounded by a small input.
  */
object InputWidth extends Rule[LogicalPlan] {

  def apply(plan: LogicalPlan): LogicalPlan = {
    val width = conf.getConf(SQLConf.SHUFFLE_PARTITIONS)
    val footers = scala.collection.mutable.Map.empty[HadoopFsRelation, Boolean]
    val big = scala.collection.mutable.Set.empty[LogicalPlan] // widened outside broadcast sides
    // per chain bottom, the columns of it that any widened chain reads, so
    // the chains over one scan ship one exchange that the plan reuses
    val read = scala.collection.mutable.Map.empty[LogicalPlan, Set[Int]].withDefaultValue(Set.empty)
    // `p` with the exchange at its chain's bottom, given what the operator above reads
    def sink(p: LogicalPlan, needed: AttributeSet): LogicalPlan = p match {
      case c @ (_: Project | _: Filter | _: DeserializeToObject) =>
        c.withNewChildren(Seq(sink(c.children.head, c match {
          case f: Filter => needed ++ f.references
          case _ => c.references
        })))
      case _ =>
        read(p.canonicalized) ++= p.output.indices.filter(i => needed.contains(p.output(i)))
        val cols = read(p.canonicalized).toSeq.sorted.map(p.output)
        Repartition(width, shuffle = true, if (cols.size == p.output.size) p else Project(cols, p))
    }
    def below(op: LogicalPlan, small: Boolean) = op.withNewChildren(op.children.map { p =>
      if (small && !big(p.canonicalized) ||
          !scans(p).exists(fs => footers.getOrElseUpdate(fs, starved(fs, width)))) p
      else {
        if (!small) big += p.canonicalized
        sink(p, op match {
          case g: Generate => g.references ++ AttributeSet(g.requiredChildOutput)
          case _ => op.references
        })
      }
    })
    def visit(p: LogicalPlan, small: Boolean): LogicalPlan = p.withNewChildren(p match {
      case j: Join => Seq(j.left -> j.hint.leftHint, j.right -> j.hint.rightHint).map {
        case (side, hint) => visit(side, small || broadcast(hint))
      }
      case _ => p.children.map(visit(_, small))
    }) match {
      // an explode of a plan-built array only fans rows out: dense if an element is
      case g: Generate if !g.generator.children.exists(_.isInstanceOf[CreateArray]) ||
          g.generator.exists(_.isInstanceOf[CpuDense]) => below(g, small)
      case m @ (_: MapPartitions | _: MapElements) => below(m, small)
      case q: Project if q.projectList.exists(_.exists(_.isInstanceOf[CpuDense])) => below(q, small)
      case q => q
    }
    visit(plan, small = false) // the first pass only fills `big` and `read`
    visit(plan, small = false)
  }

  /** The file scans `p` reads without crossing an exchange. */
  private def scans(p: LogicalPlan): Seq[HadoopFsRelation] = p match {
    case r: LogicalRelation if !r.isStreaming => Seq(r.relation).collect { case fs: HadoopFsRelation => fs }
    case _: Project | _: Filter | _: DeserializeToObject => scans(p.children.head)
    case j: Join if j.joinType != FullOuter =>
      scans(if (j.joinType == RightOuter || broadcast(j.hint.leftHint)) j.right else j.left)
    case _ => Nil
  }

  private def broadcast(hint: Option[HintInfo]) = hint.exists(_.strategy.contains(BROADCAST))

  /** Row groups are summed file by file until they reach `width`; an
    * unreadable footer counts as `width` (never widen on a guess). */
  private def starved(fs: HadoopFsRelation, width: Int): Boolean = {
    val files = fs.location.inputFiles
    lazy val conf = fs.sparkSession.sessionState.newHadoopConf()
    def groups(f: String) = try {
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f), conf))
      try r.getRowGroups.size() finally r.close()
    } catch { case _: Exception => width }
    fs.fileFormat.isInstanceOf[ParquetFileFormat] && files.nonEmpty && files.length < width &&
      files.iterator.scanLeft(0)(_ + groups(_)).forall(_ < width)
  }
}
