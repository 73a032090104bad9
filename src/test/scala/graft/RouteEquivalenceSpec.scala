package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalatest.funsuite.AnyFunSuite

import graft.analytics.{Collapse, Decontaminate, Dedup, Dsir, LanguageModel, TextAnalysis}

/** Every operator routed through `Collapse` gives the same rows over
  * unique units (the direct route) and collapsed units, on generated
  * corpora with verbatim duplication within and across groups, empty
  * and whitespace-only texts. Both routes are correct on any input, so
  * this holds whichever way the probe would route. Corpora go through a
  * one-file parquet table, so the starved-scan repair runs on both
  * routes. */
class RouteEquivalenceSpec extends AnyFunSuite with LocalSpark {

  private val vocab = (0 until 7).map(i => s"w$i")

  private val text: Gen[String] = Gen.frequency(
    1 -> Gen.const(""),
    1 -> Gen.const("   "),
    8 -> Gen.choose(1, 7).flatMap(n => Gen.listOfN(n, Gen.oneOf(vocab)).map(_.mkString(" "))))

  /** (doc_id, text, source) rows drawn from a small pool of texts and
    * two sources, so copies land within and across groups; ids unique. */
  private def rows(pool: Seq[String], n: Int, firstId: Long): Gen[Seq[(Long, String, String)]] =
    for {
      picks <- Gen.listOfN(n, Gen.zip(Gen.oneOf(pool), Gen.oneOf("web", "news")))
      ids <- Gen.pick(n, firstId until firstId + 3L * n)
    } yield ids.toSeq.zip(picks).map { case (id, (t, s)) => (id, t, s) }

  private val corpora: Gen[(Seq[(Long, String, String)], Seq[(Long, String, String)])] =
    for {
      pool <- Gen.choose(2, 6).flatMap(Gen.listOfN(_, text))
      n <- Gen.choose(3, 12)
      docs <- rows(pool, n, 1L)
      bench <- rows(pool :+ "w0 w1 w2", 3, 1000L)
    } yield (docs, bench)

  private def table(rs: Seq[(Long, String, String)]): DataFrame = {
    import spark.implicits._
    val dir = Files.createTempDirectory("routes").resolve("t").toString
    rs.toDF("doc_id", "text", "source").coalesce(1).write.parquet(dir)
    spark.read.parquet(dir)
  }

  private def same(what: String, a: DataFrame, b: DataFrame): Prop = {
    def rowsOf(df: DataFrame) = df.collect().map(_.toSeq.mkString("|")).toSeq.sorted
    val (ra, rb) = (rowsOf(a), rowsOf(b))
    Prop(ra == rb) :| s"$what: direct $ra != collapsed $rb"
  }

  test("every routed body gives the same rows over unique and collapsed units") {
    val prop = Prop.forAllNoShrink(corpora) { case (docRows, benchRows) =>
      val docs = table(docRows)
      val bench = table(benchRows)
      def bySource(u: Boolean) = Collapse.units(docs, "doc_id", "text", Seq("source"), u)
      def byText(df: DataFrame, u: Boolean) = Collapse.units(df, "doc_id", "text", Nil, u)
      def byTarget(u: Boolean) = Collapse.units(
        docs.withColumn("is_target", col("doc_id") % 3 === 0),
        "doc_id", "text", Seq("is_target"), u)
      def both(what: String)(f: Boolean => DataFrame) = same(what, f(true), f(false))
      val props = Seq(
        both("lshCandidatePairs")(u => Dedup.lshOver(bySource(u), "source", 3)),
        both("lshCandidatePairCounts")(u => Dedup.lshCountsOver(bySource(u), "source", 3)),
        both("nearDupComponents")(u => Dedup.nearDupOver(bySource(u), "source", 3)),
        both("jaccardPairs")(u => Dedup.jaccardOver(bySource(u), "source", 0.3, 3)),
        both("containmentPairs")(u => Dedup.containmentOver(bySource(u), "source", 0.5, 3)),
        both("ngramHits")(u =>
          Decontaminate.hitsOver(byText(docs, u), byText(bench, true), 2)),
        both("benchGrams")(u =>
          Decontaminate.hitsOver(byText(docs, true), byText(bench, u), 2)),
        both("ngramHitsBloom")(u =>
          Decontaminate.bloomHitsOver(byText(docs, u), byText(bench, u), 2, 12, 3)),
        both("attribution")(u =>
          Decontaminate.attributionOver(byText(docs, u), bench, "doc_id", "text", 2, 1L)),
        both("ngramNovelty")(u =>
          Decontaminate.noveltyOver(byText(docs, u), byText(bench, u), 2, 100)),
        both("dupSpanStats")(u => Decontaminate.dupSpansOver(byText(docs, u), 2, 2L)),
        both("postings")(u => TextAnalysis.postingsOver(byText(docs, u), 2, 2L, 4L)),
        both("fluency")(u => LanguageModel.fluencyOver(byText(docs, u))),
        both("importanceTopK")(u => Dsir.importanceOver(byTarget(u), 16, 100)))
      props.reduce(_ && _)
    }
    val result = Test.check(Test.Parameters.default.withMinSuccessfulTests(5).withWorkers(1), prop)
    assert(result.passed, org.scalacheck.util.Pretty.pretty(result))
  }
}
