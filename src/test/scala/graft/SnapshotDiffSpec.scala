package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SnapshotDiff

/** Truth table for [[SnapshotDiff.diff]]: presence classes, null-safe
  * value compare, multi-column keys and values. */
class SnapshotDiffSpec extends AnyFunSuite with LocalSpark {

  test("ADDED / REMOVED / CHANGED / SAME classification with null-safe values") {
    import spark.implicits._
    val old_ = Seq(
      ("u1", Some("FETCHED")),     // unchanged
      ("u2", Some("DISCOVERED")),  // status changes
      ("u3", Some("ERROR")),       // disappears
      ("u4", None: Option[String]),// null -> null: SAME
      ("u5", None: Option[String]) // null -> value: CHANGED
    ).toDF("url", "status")
    val new_ = Seq(
      ("u1", Some("FETCHED")),
      ("u2", Some("FETCHED")),
      ("u4", None: Option[String]),
      ("u5", Some("FETCHED")),
      ("u6", Some("DISCOVERED"))   // appears
    ).toDF("url", "status")

    val out = SnapshotDiff.diff(old_, new_, Seq("url"), Seq("status"))
      .collect().map(r => r.getString(0) ->
        ((Option(r.getString(1)), Option(r.getString(2)), r.getString(3)))).toMap
    assert(!out.contains("u1") && !out.contains("u4")) // SAME filtered
    assert(out("u2") == ((Some("DISCOVERED"), Some("FETCHED"), "CHANGED")))
    assert(out("u3") == ((Some("ERROR"), None, "REMOVED")))
    assert(out("u5") == ((None, Some("FETCHED"), "CHANGED")))
    assert(out("u6") == ((None, Some("DISCOVERED"), "ADDED")))

    val withSame = SnapshotDiff.diff(old_, new_, Seq("url"), Seq("status"),
      includeSame = true)
    assert(withSame.count() == 6)
    assert(withSame.where("change = 'SAME'").count() == 2)
  }

  test("multi-column keys and values; any differing value column flips to CHANGED") {
    import spark.implicits._
    val old_ = Seq(("h1", "p1", 200, 10L), ("h1", "p2", 200, 10L))
      .toDF("host", "path", "code", "len")
    val new_ = Seq(("h1", "p1", 200, 10L), ("h1", "p2", 200, 99L))
      .toDF("host", "path", "code", "len")
    val out = SnapshotDiff.diff(old_, new_, Seq("host", "path"),
        Seq("code", "len")).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getString(0) == "h1" && r.getString(1) == "p2")
    assert(r.getAs[String]("change") == "CHANGED")
    assert(r.getAs[Long]("old_len") == 10L && r.getAs[Long]("new_len") == 99L)
  }
}
