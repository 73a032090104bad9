package graft

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{DeserializeToObject, Filter, Generate, Join,
  LogicalPlan, MapPartitions, Project, Repartition}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.analytics.{Collapse, Dedup}
import graft.functions.TextHashExpressions
import graft.plans.InputWidth
import graft.queries.Tables

/** [[InputWidth]] must widen exactly when the physical input cannot
  * feed every core — a compact parquet table (one file, one row group)
  * under CPU-dense work — and be a provable no-op everywhere else,
  * since at cluster scale the no-op path is the only acceptable cost.
  * The width is the session's `spark.sql.shuffle.partitions`. */
class InputWidthSpec extends AnyFunSuite with LocalSpark {
  import spark.implicits._

  private def tmpDir(name: String): String = {
    val d = Files.createTempDirectory(name)
    d.toFile.deleteOnExit()
    d.resolve("t.parquet").toString
  }

  private def withWidth[T](w: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val old = spark.conf.get(key)
    spark.conf.set(key, w.toString)
    try body finally spark.conf.set(key, old)
  }

  private def repartitions(df: DataFrame): Seq[Repartition] =
    df.queryExecution.optimizedPlan.collect { case r: Repartition => r }

  /** The operator directly above each inserted exchange. */
  private def aboveExchange(plan: LogicalPlan): Seq[LogicalPlan] =
    plan.collect { case p if p.children.exists(_.isInstanceOf[Repartition]) => p }

  /** A one-file, one-row-group parquet table of `n` documents. */
  private def compactDocs(n: Int = 200): DataFrame = {
    val p = tmpDir("iw_docs")
    (1 to n).map(i => (i.toLong, s"w${i % 7} w${i % 5} w${i % 3} w${i % 2}", "web"))
      .toDF("doc_id", "text", "source").coalesce(1).write.parquet(p)
    spark.read.parquet(p)
  }

  test("single-row-group parquet is widened to the requested width") {
    val p = tmpDir("iw_single")
    (1 to 1000).toDF("x").coalesce(1).write.mode("overwrite").parquet(p)
    withWidth(8) {
      val w = spark.read.parquet(p).select(explode(sequence(col("x"), col("x"))).as("x"))
      assert(repartitions(w).map(_.numPartitions) == Seq(8))
      assert(w.rdd.getNumPartitions == 8)
      assert(w.agg(sum("x")).as[Long].head() == 500500L)
    }
  }

  test("enough FILES: untouched without reading any footer") {
    val p = tmpDir("iw_many")
    (1 to 1000).toDF("x").repartition(6).write.mode("overwrite").parquet(p)
    withWidth(4) {
      assert(repartitions(spark.read.parquet(p).select(explode(sequence(col("x"), col("x"))))).isEmpty)
    }
    // Six copies of an EMPTY part file: zero row groups in total, so a
    // rule that read their footers would call the scan starved and
    // widen. It must exit on the file count (6 >= 4) alone.
    val e = tmpDir("iw_empty")
    spark.range(0).toDF("x").coalesce(1).write.parquet(e)
    val part = Files.list(Path.of(e)).filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().get()
    (1 to 5).foreach(i => Files.copy(part, part.resolveSibling(s"copy-$i.parquet"),
      StandardCopyOption.REPLACE_EXISTING))
    val empty = spark.read.parquet(e)
    assert(empty.inputFiles.length == 6)
    withWidth(4) {
      assert(repartitions(empty.select(explode(sequence(col("x"), col("x"))))).isEmpty)
    }
  }

  test("enough ROW GROUPS in few files: untouched") {
    val p = tmpDir("iw_rg")
    (1 to 4000).toDF("x").coalesce(1).write.mode("overwrite")
      .option("parquet.block.size", "1024") // tiny groups -> many per file
      .parquet(p)
    val df = spark.read.parquet(p)
    val groups = {
      val f = df.inputFiles.head
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f),
        spark.sparkContext.hadoopConfiguration)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRowGroups.size() finally r.close()
    }
    assume(groups >= 3, s"writer produced $groups row groups")
    def dense = df.select(explode(sequence(col("x"), col("x"))))
    withWidth(3)(assert(repartitions(dense).isEmpty))
    withWidth(groups + 1)(assert(repartitions(dense).map(_.numPartitions) == Seq(groups + 1)))
  }

  test("non-scan and non-parquet inputs are untouched") {
    withWidth(8) {
      // no files behind it
      assert(repartitions(spark.range(10).select(explode(sequence(col("id"), col("id"))))).isEmpty)
      // an aggregate's exchange sits between the dense operator and the scan
      val p = tmpDir("iw_agg")
      (1 to 100).toDF("x").coalesce(1).write.parquet(p)
      val agg = spark.read.parquet(p).groupBy("x").count().select(explode(sequence(col("x"), col("x"))))
      assert(repartitions(agg).isEmpty)
      assert(agg.count() == 100)
      val c = tmpDir("iw_csv").replace("t.parquet", "t.csv")
      (1 to 100).toDF("x").coalesce(1).write.mode("overwrite").csv(c)
      // line-splittable: not ours to fix
      assert(repartitions(spark.read.csv(c).select(explode(split(col("_c0"), ",")))).isEmpty)
    }
  }

  test("the inserted exchange sits at the bottom of the dense operator's input chain") {
    val docs = compactDocs()
    withWidth(4) {
      // under the projections and filters that feed the Generate (the
      // inferred `size(split(..)) > 0` filter tokenizes too), above the scan
      val gen = docs.select(col("doc_id"), split(upper(col("text")), " ").as("ws"))
        .where(col("doc_id") > 3).select(col("doc_id"), explode(col("ws")))
      val genPlan = gen.queryExecution.optimizedPlan
      assert(aboveExchange(genPlan).map(_.getClass) == Seq(classOf[Filter]))
      assert(genPlan.collectFirst { case g: Generate => g.child.isInstanceOf[Project] }.contains(true))
      val genExchange = repartitions(gen).head
      assert(!genExchange.exists(_.isInstanceOf[Filter]))
      assert(genPlan.collectFirst { case f: Filter => f.child.isInstanceOf[Repartition] }.contains(true))
      // it ships the text, not the token arrays
      assert(genExchange.output.map(_.name).toSet == Set("doc_id", "text"))
      assert(gen.count() == docs.where(col("doc_id") > 3).select(explode(split(col("text"), " "))).count())
      // two chains over one scan ship one exchange, which the plan reuses
      val words = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("w")).select("w")
      val both = words.union(docs.select(explode(split(col("source"), "e")).as("w")))
      val shared = repartitions(both)
      assert(shared.size == 2 && shared.map(_.canonicalized).distinct.size == 1)
      assert(shared.head.output.map(_.name).toSet == Set("text", "source"))
      // a typed map: below its deserializer
      val typed = docs.select(col("text")).as[String].mapPartitions(_.map(_.length))
      val plan = typed.queryExecution.optimizedPlan
      assert(plan.collectFirst { case d: DeserializeToObject => d.child.exists(_.isInstanceOf[Repartition]) }
        .contains(true))
      assert(plan.collectFirst { case m: MapPartitions => m.child.isInstanceOf[DeserializeToObject] }
        .contains(true))
      // the collapsed route: above the join-back, so the rep-sized rows
      // shuffle and the corpus scan does not
      val u = Collapse.units(docs, "doc_id", "text", Nil, unique = false)
      val sh = u.rows.select(col("key"),
        TextHashExpressions.distinctShingles(col("text"), 2).as("gs"))
      val above = aboveExchange(sh.queryExecution.optimizedPlan)
      assert(above.size == 1 && above.head.isInstanceOf[Project])
      val exchange = repartitions(sh).head
      assert(exchange.collectFirst { case j: Join => j }.nonEmpty)
      // and it ships only what the dense projection reads
      assert(exchange.output.map(_.name).toSet == Set("key", "text"))
      assert(sh.count() == u.rows.count())
    }
  }

  test("a second optimizer pass adds no second exchange") {
    val docs = compactDocs()
    withWidth(4) {
      val df = Dedup.minhashSignatures(docs, "doc_id", "text")
      val once = df.queryExecution.optimizedPlan
      assert(once.collect { case r: Repartition => r }.size == 1)
      assert(InputWidth(once) eq once)
      val twice = spark.sessionState.optimizer.execute(once)
      assert(twice.collect { case r: Repartition => r }.size == 1)
    }
  }

  test("exactDedup and an xxhash64 aggregate stay unwidened") {
    val docs = compactDocs()
    withWidth(4) {
      assert(repartitions(Dedup.exactDedup(docs, "doc_id", "text")).isEmpty)
      assert(repartitions(docs.agg(count_distinct(Collapse.probeKey("source", "text")))).isEmpty)
      // nor the digest collapse's own aggregate and join-back
      assert(repartitions(Collapse.units(docs, "doc_id", "text", Nil, unique = false).rows).isEmpty)
    }
  }

  test("an explode of a plan-built array widens only for a marked element") {
    val docs = compactDocs()
    withWidth(4) {
      // an unpivot: one row out per element, no per-row work of its own
      assert(repartitions(docs.select(col("doc_id"),
        explode(array(col("source"), upper(col("text")))))).isEmpty)
      val marked = docs.select(col("doc_id"), explode(array(col("source"),
        TextHashExpressions.simhash16(col("text")).cast("string"))))
      assert(repartitions(marked).map(_.numPartitions) == Seq(4))
    }
  }

  test("a broadcast side is small by contract and stays unwidened") {
    val docs = compactDocs()
    withWidth(4) {
      def grams(df: DataFrame, id: String) = df.select(col("doc_id").as(id),
        explode(TextHashExpressions.distinctShingles(col("text"), 2)).as("g"))
      val hits = grams(docs.where(col("doc_id") % 13 =!= 0), "doc")
        .join(broadcast(grams(docs.where(col("doc_id") % 13 === 0), "bench")), "g")
      val plan = hits.queryExecution.optimizedPlan
      val exchanges = plan.collect { case r: Repartition => r }
      assert(exchanges.size == 1)
      assert(exchanges.head.output.map(_.name).toSet == Set("doc_id", "text"))
      assert(plan.collectFirst { case j: Join => j.left.exists(_.isInstanceOf[Repartition]) }
        .contains(true))
    }
  }

  test("a session that Session.local did not build gets the rule through the query layer") {
    assert(spark.experimental.extraOptimizations.count(_ eq InputWidth) == 1)
    val dir = Files.createTempDirectory("iw_tables")
    (1 to 50).map(i => (i.toLong, s"a b c$i")).toDF("doc_id", "text").coalesce(1)
      .write.parquet(dir.resolve("documents.parquet").toString)
    val other: SparkSession = spark.newSession()
    assert(!other.experimental.extraOptimizations.contains(InputWidth))
    val strategies = other.experimental.extraStrategies
    val conf = other.conf.getAll
    val docs = Tables.t(other, dir.toString, "documents")
    Tables.t(other, dir.toString, "documents")
    graft.plans.install(other)
    assert(other.experimental.extraOptimizations == Seq(InputWidth))
    assert(other.experimental.extraStrategies == strategies)
    assert(other.conf.getAll == conf)
    val w = other.conf.get("spark.sql.shuffle.partitions").toInt
    assume(w > 1, s"width $w cannot starve")
    assert(docs.select(explode(split(col("text"), " "))).queryExecution.optimizedPlan
      .collect { case r: Repartition => r.numPartitions } == Seq(w))
  }
}
