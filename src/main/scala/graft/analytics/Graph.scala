package graft.analytics

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The solve route shared by the graph solvers: PageRank, HITS and BFS
  * depth ([[LinkGraph]]) and connected components
  * ([[Dedup.connectedComponents]]). Each solver has a driver-local body
  * and a distributed loop that compute the same result; this object
  * owns everything around those bodies.
  *
  *  - Edge prep. Distinct edges, partitioned and sorted on the round
  *    join key and cached. The cached partitioning and ordering survive
  *    the InMemoryTableScan, so every round's edge⋈node-table join
  *    moves only the |V|-row side; the |E|-row edge table is never
  *    re-exchanged or re-sorted after round 1.
  *  - The route. A host-level link graph is tiny even when the corpus is
  *    not (10⁸ pages collapse to 10⁵ hosts), and a dedup pair graph is
  *    cluster-sparse; each distributed round is a fixed multi-stage
  *    job. So when the distinct edge list has at most [[LocalMaxEdges]]
  *    rows, the driver collects it and runs the same recurrence in
  *    memory. Both routes give bit-identical results: the bodies use
  *    integer sums, floor division, max/min and hop counts, which are
  *    order-independent. The count that decides materializes the cache
  *    the first round (or the collect) would have paid for anyway.
  *    Measured (BASELINE "Graph solver routes"): the local route is
  *    6-11× faster on the query graphs at sf0.01, and the loop is the
  *    only route for a graph the driver cannot hold, so both stay.
  *  - The local result ([[Edges.solved]]) has the schema the loop
  *    returns, so a caller cannot tell the routes apart.
  *  - The round loop ([[rounds]]) checkpoints each round and frees the
  *    previous one as soon as the new one lands. */
object Graph {

  /** Edge count up to which the driver solves a graph locally. */
  val LocalMaxEdges = 2000000L

  /** Distinct (src, dst) edges keyed on src, not cached. */
  private[analytics] def directedRows(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    keyed(edges.select(col(srcCol).as("src"), col(dstCol).as("dst")), "src")

  /** Both directions of each pair as distinct (x, y) edges keyed on y,
    * not cached. One pass: the input is typically an expensive
    * generator (MinHash window + self-join), and a union of two selects
    * would evaluate it twice before the cache can help. */
  private[analytics] def undirectedRows(pairs: DataFrame, aCol: String, bCol: String): DataFrame =
    keyed(pairs
      .select(explode(array(
        struct(col(aCol).as("x"), col(bCol).as("y")),
        struct(col(bCol).as("x"), col(aCol).as("y")))).as("e"))
      .select(col("e.x").as("x"), col("e.y").as("y")), "y")

  private def keyed(e: DataFrame, key: String): DataFrame =
    e.distinct().repartition(col(key)).sortWithinPartitions(key)

  /** Prepared directed edges, routed by size. */
  def directed(edges: DataFrame, srcCol: String, dstCol: String): Edges =
    new Edges(directedRows(edges, srcCol, dstCol).cache(), None)

  /** Prepared undirected edges, routed by size when the ids are
    * integral: the local components solve takes the min under Long
    * ordering, which is Spark's `min` only for integral ids. Other ids
    * take the loop. */
  def undirected(pairs: DataFrame, aCol: String, bCol: String): Edges = {
    val rows = undirectedRows(pairs, aCol, bCol).cache()
    val integral = Seq[DataType](LongType, IntegerType, ShortType).contains(rows.schema("x").dataType)
    new Edges(rows, if (integral) None else Some(false))
  }

  /** Cached prepared edges and the route they take (`local`). */
  final class Edges private[Graph] (val df: DataFrame, route: Option[Boolean]) {
    lazy val count: Long = df.count()
    val local: Boolean = route.getOrElse(count <= LocalMaxEdges)

    /** The same edges on a forced route (specs). */
    private[graft] def forced(local: Boolean): Edges = new Edges(df, Some(local))

    /** Runs the route's body, `inMemory` over the collected edge rows or
      * `loop` over the cached edges, then drops the cache. */
    def solve(inMemory: Array[Row] => DataFrame)(loop: DataFrame => DataFrame): DataFrame =
      try if (local) inMemory(df.collect()) else loop(df)
      finally df.unpersist()

    /** A local body's rows as a frame with the loop's schema: `node`
      * typed like the node columns and nullable when any of them is (a
      * union's rule), then `values`. */
    def solved(values: Seq[StructField], rows: Iterable[Row],
               nodes: Seq[StructField] = df.schema.fields.toSeq): DataFrame =
      df.sparkSession.createDataFrame(rows.toSeq.asJava, StructType(
        nodes.head.copy(name = "node", nullable = nodes.exists(_.nullable)) +: values))
  }

  /** Runs up to `maxRounds` rounds from `init`. Each round's output is
    * checkpointed ([[Iterate.checkpoint]]) and `settle` runs one action
    * over every partition of it, counting what the round changed
    * (default: its rows); a round that changes nothing ends the loop.
    * The previous round's blocks are freed once the new round lands.
    * The last round's checkpoint backs the returned frame, so it is
    * freed only after the caller consumes it ([[CheckpointRegistry]]).
    * Returns the last frame and the last count (-1 when no round ran). */
  def rounds(init: DataFrame, maxRounds: Int, step: DataFrame => DataFrame,
             settle: (DataFrame, RDD[InternalRow]) => Long = (_, h) => h.count())
      : (DataFrame, Long) = {
    var cur = init
    var prevHandle = Option.empty[RDD[InternalRow]]
    var changed = -1L
    var round = 0
    while (changed != 0L && round < maxRounds) {
      round += 1
      val (next, handle) = Iterate.checkpoint(step(cur))
      changed = settle(next, handle)
      prevHandle.foreach(_.unpersist(false))
      prevHandle = Some(handle)
      cur = next
    }
    prevHandle.foreach(CheckpointRegistry.retain)
    (cur, changed)
  }

  /** `df` checkpointed, materialized and kept for a returned frame (a
    * one-round [[rounds]]), with its row count. */
  def kept(df: DataFrame): (DataFrame, Long) = rounds(df, 1, identity)
}
