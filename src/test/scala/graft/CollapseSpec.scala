package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.analytics.Collapse

/** `Collapse` is the one place that knows how verbatim duplicates
  * collapse and expand: its probe and its units. */
class CollapseSpec extends AnyFunSuite with LocalSpark {

  test("probe: exact at 1.0, ratio below it, empty and wordless inputs read unique") {
    import spark.implicits._
    val dup = Seq((1L, "a b", "web"), (2L, "a b", "web"), (3L, "c", "web"),
      (4L, "a b", "news"), (5L, "  ", "web"), (6L, "  ", "web"))
      .toDF("doc_id", "text", "source")
    // by (source, text): 4 worded rows, 3 distinct
    assert(!Collapse.unique(dup, "text", "source"))
    assert(Collapse.unique(dup, "text", "source", atLeast = 0.75))
    assert(!Collapse.unique(dup, "text", "source", atLeast = 0.76))
    // by text alone: "a b" ×3 and "c" — 2 of 4
    assert(!Collapse.unique(dup, "text", "text", atLeast = 0.5 + 1e-9))
    assert(Collapse.unique(dup.where($"doc_id" =!= 2L && $"doc_id" =!= 4L), "text", "text"))
    assert(Collapse.unique(dup.where($"doc_id" > 4L), "text", "source"))
    assert(Collapse.unique(dup.limit(0), "text", "source"))
    assert(Collapse.unique(0L, 0L, 1.0) && Collapse.unique(5L, 5L, 1.0) && !Collapse.unique(5L, 4L, 1.0))
  }

  test("collapsed units: one row per (groups, text), min id key, member-count weight") {
    import spark.implicits._
    val docs = Seq((7L, "a b", "web"), (3L, "a b", "web"), (5L, "a b", "news"),
      (9L, "c", "web")).toDF("doc_id", "text", "source")
    val u = Collapse.units(docs, "doc_id", "text", Seq("source"), unique = false)
    assert(u.rows.columns.toSeq == Seq("source", "key", "weight", "text"))
    assert(u.rows.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet ==
      Set(("web", 3L, 2L, "a b"), ("news", 5L, 1L, "a b"), ("web", 9L, 1L, "c")))
    val byKey = u.rows.select($"key", $"weight")
    assert(u.expand(byKey, "doc_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((2L, 7L), (2L, 3L), (1L, 5L), (1L, 9L)))
    val direct = Collapse.units(docs, "doc_id", "text", Seq("source"), unique = true)
    assert(direct.rows.count() == 4 && direct.rows.where($"weight" =!= 1).isEmpty)
  }

  test("no analytics operator outside Collapse.scala repairs a starved scan itself") {
    // repo-wide: the starved-scan decision lives in graft/plans only, and
    // only Session.scala (which sets it) names the width conf
    val root = Paths.get("src/main/scala")
    val plans = root.resolve("graft/plans")
    val session = root.resolve("graft/Session.scala")
    assert(Files.isDirectory(plans) && Files.isRegularFile(session))
    val wide = """\.wide\b""".r
    val copies = Files.walk(root).iterator.asScala
      .filter(p => p.toString.endsWith(".scala") && !p.startsWith(plans))
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (l, i) if l.contains("InputWidth") || l.contains("isNarrow(") ||
              wide.findFirstIn(l).nonEmpty ||
              (l.contains("spark.sql.shuffle.partitions") && p != session) =>
            s"${root.relativize(p)}:${i + 1}"
        }
      }.toSeq.sorted
    assert(copies.isEmpty, copies.mkString(", "))
  }
}
