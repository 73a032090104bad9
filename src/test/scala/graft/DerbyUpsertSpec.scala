package graft

import java.sql.DriverManager

import scala.util.Try

import org.scalatest.funsuite.AnyFunSuite

import graft.index.JdbcIndexSink

/** Upsert-mode `indexBatch` with two tasks writing one fresh in-memory
  * Derby database at once — the shape a crawl cycle's index leg has —
  * repeated, because a fault inside the database engine shows only in
  * some of the races. Every round must succeed, and its second batch
  * must overwrite the ids it shares with the first and insert the rest. */
class DerbyUpsertSpec extends AnyFunSuite with LocalSpark {

  private val runId = java.util.UUID.randomUUID().toString.take(8)

  test("two-task upserts into fresh in-memory Derby databases never fail") {
    import spark.implicits._
    val rounds = 30
    def batch(from: Int, to: Int, tag: String) =
      (from until to).map(i => (s"http://u$i.example/p", s"$tag text $i", tag))
        .toDF("url", "text", "title").repartition(2)
    val failures = (1 to rounds).flatMap { round =>
      val jdbc = s"jdbc:derby:memory:upsert_${runId}_$round;create=true"
      Try {
        val sink = new JdbcIndexSink(jdbc, "docs_idx", create = false)
        sink.ensureSchema()
        sink.indexBatch(batch(0, 40, "first"))
        sink.indexBatch(batch(20, 60, "second"))
        val conn = DriverManager.getConnection(jdbc)
        val texts = try {
          val rs = conn.createStatement().executeQuery("SELECT text_body FROM docs_idx")
          Iterator.continually(rs).takeWhile(_.next()).map(_.getString(1)).toVector
        } finally conn.close()
        assert(texts.size == 60)
        assert(texts.count(_.startsWith("second")) == 40)
      }.failed.toOption.map(e => s"round $round: $e")
    }
    assert(failures.isEmpty, s"${failures.size} of $rounds rounds failed: ${failures.mkString("; ")}")
  }
}
