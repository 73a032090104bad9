package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{UrlExpressions, GraftExtensions}

/** Native Catalyst expression specs: same semantics as the Scala layer,
  * and codegen actually engages (no CodegenFallback). */
class ExpressionsSpec extends AnyFunSuite with LocalSpark {

  test("normalize_url expression via Column API") {
    import spark.implicits._
    val df = Seq(
      "HTTP://WWW.Example.COM:80/Path#frag",
      "http://e.com/p?a=1&sid=x",
      "garbage",
      null
    ).toDF("url")
    val out = df.select(UrlExpressions.normalizeUrl($"url").as("n")).collect().map(_.getString(0))
    assert(out(0) == "http://www.example.com/Path")
    assert(out(1) == "http://e.com/p?a=1")
    assert(out(2) == null)
    assert(out(3) == null)
  }

  test("partition_key expression matches the Scala layer") {
    import spark.implicits._
    val df = Seq("https://news.example.co.uk/x").toDF("url")
    val host = df.select(UrlExpressions.partitionKey($"url", "byHost")).head().getString(0)
    val dom  = df.select(UrlExpressions.partitionKey($"url", "byDomain")).head().getString(0)
    assert(host == "news.example.co.uk")
    assert(dom == "example.co.uk")
  }

  test("transfer_kept_keys matches the relational map_filter formulation") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = Seq(1L, 2L, 3L).toDF("id").selectExpr("id",
      """map('depth', cast(id as string),
        |    'fetch.statusCode', '200',
        |    'fetch.loadingTime', '5',
        |    concat('x.', cast(id as string)), 'v',
        |    'discard', 'y',
        |    'signature', 's') AS md""".stripMargin.replace("\n", " "))
    val relational = df.select($"id",
      array_join(array_sort(map_keys(map_filter($"md", (k, _) =>
        k === "depth" || k === "signature" || k.startsWith("fetch.")))), ",")
        .as("kept"))
      .orderBy("id").collect().map(_.toSeq).toSeq
    val native = df.select($"id",
      UrlExpressions.transferKeptKeys($"md",
        exact = Seq("depth", "signature"), prefixes = Seq("fetch.")).as("kept"))
      .orderBy("id").collect().map(_.toSeq).toSeq
    assert(native == relational)
    assert(native.head(1) == "depth,fetch.loadingTime,fetch.statusCode,signature")
    // nothing kept => empty string, like array_join over an empty array
    val none = Seq(1L).toDF("id").selectExpr("id", "map('a','b') AS md")
      .select(UrlExpressions.transferKeptKeys($"md", Seq("z"), Seq("q.")))
      .collect().head.getString(0)
    assert(none == "")
  }

  test("SQL registration + whole-stage codegen engages") {
    UrlExpressions.register(spark)
    val out = spark.sql(
      "SELECT normalize_url_native('HTTP://A.com:80/x#f') AS n, " +
      "partition_key_native('http://sub.a.com/x', 'byDomain') AS k")
      .collect().head
    assert(out.getString(0) == "http://a.com/x")
    assert(out.getString(1) == "a.com")

    // codegen path: a range-sourced plan (not constant-foldable) with
    // the expression must stay inside WholeStageCodegen (CodegenFallback
    // would split the Project out of the codegen span)
    import org.apache.spark.sql.functions.{concat, lit, col}
    val df = spark.range(10)
      .select(UrlExpressions.normalizeUrl(
        concat(lit("HTTP://A.com:80/p/"), col("id"))).as("n"))
    // '*(n)' prefix in simpleString == inside a WholeStageCodegen span
    val hasWsc = df.queryExecution.executedPlan.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec])
    assert(hasWsc, df.queryExecution.executedPlan.toString)
    val vals = df.collect().map(_.getString(0))
    assert(vals(3) == "http://a.com/p/3")
  }

  test("minhash_sig expression matches the column-algebra formulation") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.analytics.Dedup
    import graft.functions.TextHashExpressions
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox"),
      (3L, "too short"),          // < 3 words → no 3-shingle signature
      (4L, ""),                   // no words at all
      (5L, "a  b   c  a b c a")   // repeated whitespace + repeated words
    ).toDF("id", "text")

    // oracle formulation: explode shingles → md5 → min of each hex chunk
    val expected = df
      .select($"id", explode(Dedup.shingles(Dedup.words($"text"), 3)).as("sh"))
      .select($"id", md5($"sh").as("m"))
      .groupBy($"id")
      .agg(
        min(Dedup.md5ChunkStr($"m", 0)).as("s1"), min(Dedup.md5ChunkStr($"m", 1)).as("s2"),
        min(Dedup.md5ChunkStr($"m", 2)).as("s3"), min(Dedup.md5ChunkStr($"m", 3)).as("s4"))
      .select($"id",
        Dedup.hexToLong($"s1").as("h1"), Dedup.hexToLong($"s2").as("h2"),
        Dedup.hexToLong($"s3").as("h3"), Dedup.hexToLong($"s4").as("h4"))
      .orderBy($"id").collect()

    val actual = Dedup.minhashSignatures(df, "id", "text", 4, 3).orderBy($"id").collect()
    assert(actual.map(_.toSeq).toSeq == expected.map(_.toSeq).toSeq)
    assert(actual.map(_.getLong(0)).toSeq == Seq(1L, 2L, 5L)) // 3 and 4 drop

    // distinct-unigram variant (k=1): each distinct word hashed once
    val uni = df.where($"id" === 5L)
      .select(TextHashExpressions.minhashSig($"text", 1, 4, distinct = true).as("sig"))
      .head().getSeq[Long](0)
    val uniExpected = df.where($"id" === 5L)
      .select(explode(array_distinct(Dedup.words($"text"))).as("w"))
      .select(md5($"w").as("m"))
      .agg(min(Dedup.md5ChunkStr($"m", 0)), min(Dedup.md5ChunkStr($"m", 1)),
           min(Dedup.md5ChunkStr($"m", 2)), min(Dedup.md5ChunkStr($"m", 3)))
      .head().toSeq.map(s => java.lang.Long.parseLong(s.asInstanceOf[String], 16))
    assert(uni == uniExpected)
  }

  test("simhash16 and winnow_fp match the relational formulations") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    import graft.analytics.Dedup
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and runs far away today"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "tiny doc"),
      (4L, "")
    ).toDF("id", "text")

    // simhash16 vs explode-per-(word,bit) relational formulation
    val wordsDf = df.select($"id", explode(array_distinct(Dedup.words($"text"))).as("w"))
    val powers = array((0 until 16).map(i => lit(1L << i)): _*)
    val divisors = array(lit(8), lit(4), lit(2), lit(1))
    val expectedSim = wordsDf
      .select($"id", substring(md5($"w"), 1, 4).as("hx"))
      .select($"id", explode(sequence(lit(0), lit(15))).as("k"), $"hx")
      .withColumn("hexval", instr(lit("0123456789abcdef"),
        $"hx".substr(floor($"k" / 4).cast("int") + 1, lit(1))) - 1)
      .withColumn("bit", floor($"hexval" / element_at(divisors, ($"k" % 4).cast("int") + 1)) % 2)
      .groupBy($"id", $"k").agg(sum($"bit" * 2 - 1).as("s"))
      .groupBy($"id")
      .agg(sum(when($"s" > 0, element_at(powers, $"k".cast("int") + 1)).otherwise(0L)).as("simhash"))
      .orderBy($"id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val actualSim = Dedup.simhash16(df, "id", "text")
      .orderBy($"id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(actualSim.toSeq == expectedSim.toSeq)
    assert(actualSim.map(_._1).toSeq == Seq(1L, 2L, 3L)) // empty doc drops

    // winnow_fp vs posexplode + window-min formulation (k=4, window=5)
    val sh = df.select($"id", Dedup.words($"text").as("ws"))
      .select($"id", (size($"ws") - 3).as("np"),
        posexplode(Dedup.shingles($"ws", 4)).as(Seq("pos", "sh")))
      .select($"id", $"np", $"pos", Dedup.md5ChunkStr(md5($"sh"), 0).as("h"))
    val win = Window.partitionBy($"id").orderBy($"pos")
      .rowsBetween(Window.currentRow, 4)
    val expectedWf = sh.withColumn("wmin", min($"h").over(win))
      .where($"pos" <= $"np" - 5)
      .groupBy($"id")
      .agg(countDistinct($"wmin").as("n_fingerprints"), Dedup.hexToLong(min($"wmin")).as("min_fp"))
      .orderBy($"id").collect().map(_.toSeq)
    val actualWf = graft.analytics.TextAnalysis.winnowingFingerprints(df, "id", "text")
      .orderBy($"id").collect().map(_.toSeq)
    assert(actualWf.toSeq == expectedWf.toSeq)
    assert(actualWf.nonEmpty) // doc 1 (14 words -> 11 shingles) qualifies
  }

  test("vector expressions match the higher-order-function formulation") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.VecExpressions
    val df = Seq(
      (1L, Array(1.0f, 2.0f, -3.0f, 0.5f)),
      (2L, Array(-0.25f, 4.0f, 0.0f, 1.5f))
    ).toDF("id", "v").select($"id", $"v".cast("array<double>").as("v"))

    // dot product vs zip_with/aggregate fold
    val pair = df.where($"id" === 1).select($"v".as("a"))
      .crossJoin(df.where($"id" === 2).select($"v".as("b")))
    val dotNative = pair.select(VecExpressions.dotD($"a", $"b").as("d")).head().getDouble(0)
    val dotHof = pair.select(
      aggregate(zip_with($"a", $"b", (x, y) => x * y), lit(0.0), (acc, x) => acc + x).as("d"))
      .head().getDouble(0)
    assert(dotNative == dotHof)

    // l2 normalize vs transform/aggregate fold
    val nNative = df.select($"id", VecExpressions.l2Normalize($"v").as("n")).orderBy($"id")
      .collect().map(_.getSeq[Double](1))
    val nHof = df
      .select($"id", $"v",
        sqrt(aggregate(transform($"v", x => x * x), lit(0.0), (acc, x) => acc + x)).as("nrm"))
      .select($"id", transform($"v", x => x / $"nrm").as("n")).orderBy($"id")
      .collect().map(_.getSeq[Double](1))
    assert(nNative.toSeq == nHof.toSeq)

    // lsh bucket vs the md5-sign column formulation (via the oracle's spec)
    val bNative = df.select(VecExpressions.lshBucket($"v", 4, 6).as("b")).orderBy($"b")
      .collect().map(_.getInt(0))
    def planeSign(j: Int, i: org.apache.spark.sql.Column) =
      when((instr(lit("0123456789abcdef"),
        substring(md5(concat(lit(s"$j:"), i.cast("string"))), 1, 1)) - 1) % 2 === 0,
        lit(1.0)).otherwise(lit(-1.0))
    val bits = (0 until 6).map { j =>
      val dot = aggregate(zip_with($"v", sequence(lit(1), lit(4)),
        (x, i) => x * planeSign(j, i)), lit(0.0), (acc, x) => acc + x)
      when(dot > 0, shiftleft(lit(1), j)).otherwise(lit(0))
    }
    val bHof = df.select(bits.reduce(_ + _).as("b")).orderBy($"b").collect().map(_.getInt(0))
    assert(bNative.toSeq == bHof.toSeq)
  }

  test("two simhash16 calls in one projection codegen cleanly") {
    import spark.implicits._
    import graft.functions.TextHashExpressions
    val df = Seq(("hello world", "other text")).toDF("a", "b")
      .select(TextHashExpressions.simhash16($"a").as("ha"),
        TextHashExpressions.simhash16($"b").as("hb"))
    val row = df.collect().head // fixed-name locals would fail Janino here
    assert(row.getLong(0) != row.getLong(1))
  }

  test("text-hash and vector expressions are callable from SQL") {
    graft.functions.UrlExpressions.register(spark)
    val r = spark.sql(
      """SELECT
        |  minhash_sig('a b c d e', 3, 4) AS mh,
        |  simhash16('hello world') AS sh,
        |  winnow_fp('a b c d e f g h i j k l', 4, 5) AS wf,
        |  dot_d(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS dp,
        |  l2_normalize(array(3.0d, 4.0d)) AS nv,
        |  lsh_bucket(array(0.6d, 0.8d), 2, 4) AS bk,
        |  multi_probe_buckets(array(0.6d, 0.8d), 2, 4, 2) AS probes
        |""".stripMargin).collect().head
    assert(r.getSeq[Long](0).length == 4)
    assert(r.getLong(1) != 0L)
    assert(r.getSeq[Long](2).length == 2)
    assert(r.getDouble(3) == 11.0)
    assert(math.abs(r.getSeq[Double](4).map(x => x * x).sum - 1.0) < 1e-12)
    val probes = r.getSeq[Int](6)
    assert(probes.length == 2 && probes.head == r.getInt(5)) // own bucket first
  }

  test("extensions class applies cleanly; registration works on a cloned session") {
    // getOrCreate in a shared-JVM test suite returns the existing
    // session, so withExtensions can't be observed end-to-end here —
    // assert the injector itself and the registry path on a session
    // clone instead.
    new GraftExtensions().apply(new org.apache.spark.sql.SparkSessionExtensions)
    val s2 = spark.newSession()
    UrlExpressions.register(s2)
    val r = s2.sql("SELECT normalize_url_native('http://E.com/a#b') AS n").collect().head
    assert(r.getString(0) == "http://e.com/a")
  }
}
