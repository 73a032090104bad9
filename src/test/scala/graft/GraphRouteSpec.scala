package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.scalacheck.{Gen, Prop, Test}
import org.scalatest.funsuite.AnyFunSuite

import graft.analytics.{Dedup, Graph, LinkGraph}

/** Each graph solver gives the same rows and the same schema on the
  * driver-local route and on the distributed loop ([[Graph]]), on
  * generated graphs with self-loops, parallel edges, dangling and
  * source-only nodes, BFS seeds absent from the graph, and Long, Int or
  * String ids. Components over String ids take the loop. */
class GraphRouteSpec extends AnyFunSuite with LocalSpark {

  /** Edges over nodes 0..n; n+1..n+3 are only ever targets (dangling),
    * a node drawn only as a source is source-only. A drawn edge is a
    * self-loop one time in four, and up to two edges repeat. */
  private val edgeLists: Gen[Seq[(Int, Int)]] = for {
    n <- Gen.choose(1, 8)
    m <- Gen.choose(0, 14)
    es <- Gen.listOfN(m, Gen.frequency(
      1 -> Gen.choose(0, n).map(v => (v, v)),
      3 -> Gen.zip(Gen.choose(0, n), Gen.choose(0, n + 3))))
    dup <- Gen.choose(0, 2)
  } yield es ++ es.take(dup)

  /** Seeds drawn from 0..11, so some are absent from the graph. */
  private val seedLists: Gen[Seq[Int]] = Gen.choose(0, 3).flatMap(Gen.listOfN(_, Gen.choose(0, 11)))

  private val idKinds = Seq("long", "int", "string")

  /** `vs` as a frame of `cols`, ids typed by `kind`. */
  private def frame(vs: Seq[Seq[Int]], kind: String, cols: String*): DataFrame = {
    import spark.implicits._
    val df = kind match {
      case "long" => vs.map(v => (v.head.toLong, v.last.toLong)).toDF("c0", "c1")
      case "int" => vs.map(v => (v.head, v.last)).toDF("c0", "c1")
      case _ => vs.map(v => (s"n${v.head}", s"n${v.last}")).toDF("c0", "c1")
    }
    df.select(cols.zipWithIndex.map { case (c, i) => df(s"c$i").as(c) }: _*)
  }

  /** What differs between the two routes of `solve`, empty when none. */
  private def diff(what: String, edges: () => Graph.Edges)(solve: Graph.Edges => DataFrame): Seq[String] = {
    def run(local: Boolean) = {
      val df = solve(edges().forced(local))
      (df.schema, df.collect().map(_.toSeq.mkString("|")).toSeq.sorted)
    }
    val ((ls, lr), (ds, dr)) = (run(true), run(false))
    (if (ls == ds) Nil else Seq(s"$what schema: local ${ls.treeString} loop ${ds.treeString}")) ++
      (if (lr == dr) Nil else Seq(s"$what rows: local $lr loop $dr"))
  }

  private def failures(es: Seq[(Int, Int)], seeds: Seq[Int], kind: String): Seq[String] = {
    val pairs = es.map { case (a, b) => Seq(a, b) }
    def directed() = Graph.directed(frame(pairs, kind, "src", "dst"), "src", "dst")
    val seedFrame = frame(seeds.map(Seq(_)), kind, "node")
    def undirected() = Graph.undirected(frame(pairs, kind, "a", "b"), "a", "b")
    val components =
      if (kind != "string") diff("connectedComponents", undirected)(Dedup.componentsOver(_, 20))
      else {
        val g = undirected()
        g.df.unpersist()
        if (g.local) Seq("components over String ids took the local route") else Nil
      }
    val all = diff("pagerank", directed)(LinkGraph.pagerankOver(_, 3, 1000000000000L)) ++
      diff("hits", directed)(LinkGraph.hitsOver(_, 2, 1000000L)) ++
      diff("bfsDepth", directed)(LinkGraph.bfsOver(_, seedFrame, 3)) ++ components
    all.map(f => s"[$kind ids, edges $es, seeds $seeds] $f")
  }

  test("the solvers keep no copy of the route: prep, size decision, local result, round loop") {
    val copied = Seq("localSolveMaxEdges", "2000000", "sortWithinPartitions", "prevHandle",
      "CheckpointRegistry", "Iterate.checkpoint", "createDataFrame", "makeRDD", "StructType(")
    val root = Paths.get("src/main/scala/graft/analytics")
    val copies = Seq("LinkGraph.scala", "Dedup.scala").flatMap { f =>
      Files.readAllLines(root.resolve(f)).asScala.zipWithIndex.collect {
        case (l, i) if copied.exists(l.contains) => s"$f:${i + 1}: ${l.trim}"
      }
    }
    assert(copies.isEmpty, copies.mkString("\n"))
  }

  test("empty graph: both routes agree for every solver and id type") {
    for (kind <- idKinds) {
      val f = failures(Nil, Seq(0), kind)
      assert(f.isEmpty, f.mkString("\n"))
    }
  }

  test("generated graphs: both routes give the same rows and schema") {
    val prop = Prop.forAllNoShrink(edgeLists, seedLists) { (es, seeds) =>
      val f = idKinds.flatMap(failures(es, seeds, _))
      Prop(f.isEmpty) :| f.mkString("\n")
    }
    val result = Test.check(Test.Parameters.default.withMinSuccessfulTests(6).withWorkers(1), prop)
    assert(result.passed, org.scalacheck.util.Pretty.pretty(result))
  }
}
