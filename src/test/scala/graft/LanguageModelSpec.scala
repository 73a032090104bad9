package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.analytics.LanguageModel

/** Corpus-trained bigram LM fluency: exact integer scores, and the
  * digest-collapsed path pinned bit-identical to the doc-level path. */
class LanguageModelSpec extends AnyFunSuite with LocalSpark {

  test("fluency: hand-computed integer conditional probabilities") {
    import spark.implicits._
    // U: a=3 b=2 c=1;  B: "a b"=2, "b a"=1
    // s("a b") = 2000000 div 3 = 666666;  s("b a") = 1000000 div 2 = 500000
    val corpus = Seq((1L, "a b a"), (2L, "a b"), (3L, "c"))
      .toDF("doc_id", "text")
    val rows = LanguageModel.fluency(corpus, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(rows.length == 2) // d3 has no bigram (its unigram still trains)
    val d1 = rows(0)
    assert(d1.getLong(0) == 1L && d1.getLong(1) == 2L)
    assert(d1.getLong(2) == 666666L + 500000L)
    assert(d1.getDouble(3) == 1166666.0 / 2.0)
    val d2 = rows(1)
    assert(d2.getLong(0) == 2L && d2.getLong(1) == 1L)
    assert(d2.getLong(2) == 666666L)
    assert(d2.getDouble(3) == 666666.0)
  }

  test("collapsed path is bit-identical to the direct path") {
    import spark.implicits._
    val dup = Seq(
      (1L, "a b c d x"), (11L, "a b c d x"), (21L, "a b c d x"),
      (4L, "b c d e q"), (14L, "b c d e q"),
      (2L, "x y z w p")).toDF("doc_id", "text")
    val uniq = Seq(
      (1L, "a b c d x"), (4L, "b c d e q"), (2L, "x y z w p")
    ).toDF("doc_id", "text")
    def run(f: => org.apache.spark.sql.DataFrame) =
      f.orderBy("doc_id").collect().map(_.toSeq).toSeq
    for (corpus <- Seq(dup, uniq)) {
      def u(unique: Boolean) = graft.analytics.Collapse.units(corpus, "doc_id", "text", Nil, unique)
      val direct = run(LanguageModel.fluencyOver(u(true)))
      val collapsed = run(LanguageModel.fluencyOver(u(false)))
      assert(direct == collapsed)
      assert(direct.nonEmpty)
    }
    // weighted counts on the replicated corpus: every member of a
    // verbatim group scores identically
    val byText = run(LanguageModel.fluency(dup, "doc_id", "text"))
      .groupBy(_(1)) // n_bigrams identical within a group here
    assert(byText.nonEmpty)
  }
}
