package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text analysis for training-data pipelines: language-ID (marker-word
  * heuristic), quality scoring, token counting, winnowing document
  * fingerprints. Column algebra only; per-doc work is embarrassingly
  * parallel (map-only except the winnowing window, which partitions by
  * doc id).
  */
object TextAnalysis {

  /** Marker stopwords per language for the n-gram/marker heuristic
    * (LanguageID parse filter analogue, `external/langid/.../LanguageID
    * .java:54`). */
  val langMarkers: Map[String, Seq[String]] = Map(
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "ein", "mit"),
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "for"),
    "es" -> Seq("el", "los", "las", "de", "que", "y", "en", "un"),
    "fr" -> Seq("le", "la", "et", "les", "des", "un", "une", "est"),
    "zh" -> Seq("的", "是", "不", "我", "在", "有", "了", "人"))

  /** n-gram profile language identification (character trigrams +
    * script-range detection, [[graft.functions.LangProfiles]]) — the
    * reference's LanguageID parse filter approach
    * (`external/langid/.../LanguageID.java:54`), run as ONE codegen'd
    * pass per document. Language inventory lives in
    * [[graft.functions.LangProfiles]] (script ranges + script-family
    * marker tiers + Latin trigram profiles) + und; confidence =
    * dominant script fraction, or profile score / total trigrams. */
  def langId(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
        graft.functions.TextStatExpressions.langId(col(textCol)).as("li"))
      .select(col(idCol),
        col("li").getField("lang").as("lang_pred"),
        col("li").getField("conf").as("confidence"))

  /** Quality score: token count, mean word length, stopword ratio,
    * punctuation density — exact-arithmetic combination (no libm).
    * All counters come from one native pass per doc
    * ([[graft.functions.TextStatsExpr]]); the `size(filter(...))` HOF
    * formulation survives only as the DuckDB oracle. */
  def qualityScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val st = graft.functions.TextStatExpressions
      .textStats(col(textCol), langMarkers("en"))
    df.select(
        col(idCol),
        st.getItem(0).cast("int").as("n_tokens"),
        st.getItem(5).cast("int").as("n_chars_m"),
        st.getItem(1).cast("int").as("n_stop"),
        st.getItem(2).cast("int").as("n_punct"))
      .select(
        col(idCol), col("n_tokens"),
        (col("n_stop").cast("double") / greatest(col("n_tokens"), lit(1)).cast("double"))
          .as("stop_ratio"),
        (col("n_chars_m").cast("double") / greatest(col("n_tokens"), lit(1)).cast("double"))
          .as("mean_word_len"),
        quality(col("n_tokens"), col("n_stop"), col("n_chars_m")).as("quality"))
  }

  /** The quality formula over [[qualityScore]]'s counters: half the
    * stopword ratio plus half the tokens per character. */
  def quality(nTokens: Column, nStop: Column, nCharsM: Column): Column =
    (nStop.cast("double") / greatest(nTokens, lit(1)).cast("double")) * 0.5 +
      (nTokens.cast("double") / (nCharsM + 1).cast("double")) * 0.5

  /** Token counts: whitespace tokens + a BPE-ish regex token count
    * (alnum runs and single non-space symbols counted separately).
    * One native pass per doc — no regex, no interpreted lambdas. */
  def tokenCounts(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val st = graft.functions.TextStatExpressions
      .textStats(col(textCol), Seq.empty)
    df.select(
      col(idCol),
      st.getItem(0).cast("int").as("ws_tokens"),
      st.getItem(3).cast("int").as("alnum_tokens"),
      st.getItem(4).cast("int").as("symbol_tokens"))
  }

  /** Top-k distinctive terms per document — TF-IDF-shaped ranking with
    * a fully deterministic, integer-only order: term frequency DESC
    * (rarer-is-later tie-break on document frequency ASC, then term
    * ASC). No float idf in the sort key, so results are bit-identical
    * across engines and partitionings.
    *
    * Scale: NO window, NO sort, and (on any natural-language corpus)
    * NO shuffle of the exploded frame at all. The original
    * formulation's two windows (`count over (partition by term)` for
    * df, `row_number` for the per-doc rank) each sort the full
    * (doc,term) frame inside their exchange — at sf1000 (~10⁹
    * aggregated rows) the spill exceeded the machine's free disk and
    * killed the query; a TypedImperativeAggregate top-k fared no
    * better, because ObjectHashAggregate's partial phase falls back to
    * sort-based aggregation past 128 groups per task and re-sorts the
    * same frame. The structure that actually scales exploits the two
    * asymmetries of the problem: document frequency is VOCAB-sized
    * (per-doc term dedup happens map-side via array_distinct before
    * the explode, so the df aggregate's partial combine ships at most
    * |vocab| rows per task — a tiny shuffle), and everything else —
    * tf and the top-k rank — is DOC-LOCAL. So: aggregate df, take it
    * to the driver (guarded: at most `maxBroadcastVocab`+1 rows are
    * ever fetched), broadcast it, and compute tf + top-k per document
    * in one mapPartitions over the scan. Zero shuffles of corpus-sized
    * data, per-doc state only. A corpus whose vocabulary exceeds the
    * guard falls back to [[topTermsShuffle]] — one hash shuffle by
    * doc, broadcast df join, native [[graft.functions.TopKTermsAgg]].
    */
  def topTerms(df: DataFrame, idCol: String, textCol: String, k: Int = 3,
               maxBroadcastVocab: Int = 10000000): DataFrame = {
    val spark = df.sparkSession
    // take(n+1) never materializes more than the guard on the driver
    val vocab = documentFrequency(df, idCol, textCol)
      .take(maxBroadcastVocab + 1)
    if (vocab.length > maxBroadcastVocab)
      topTermsShuffle(df, idCol, textCol, k)
    else {
      val bc = spark.sparkContext.broadcast(
        vocab.map(r => r.getString(0) -> r.getLong(1)).toMap)
      val idType = df.schema(idCol).dataType
      val outSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(idCol, idType),
        org.apache.spark.sql.types.StructField("rank",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("term",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("tf",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("df",
          org.apache.spark.sql.types.LongType, nullable = false)))
      val enc = org.apache.spark.sql.Encoders.row(outSchema)
      df.select(col(idCol), col(textCol))
        .mapPartitions { rows =>
          val dfm = bc.value
          rows.flatMap { r =>
            val id = r.get(0)
            val text = if (r.isNullAt(1)) null else r.getString(1)
            if (text == null) Iterator.empty
            else {
              // tokenization identical to the relational split-on-" "
              val counts = scala.collection.mutable.HashMap.empty[String, Long]
              text.split(" ", -1).foreach(t =>
                if (t.nonEmpty) counts.update(t, counts.getOrElse(t, 0L) + 1L))
              counts.iterator
                .map { case (t, n) => (t, n, dfm(t)) }.toArray
                .sortWith { case ((at, atf, adf), (bt, btf, bdf)) =>
                  atf > btf || (atf == btf && (adf < bdf ||
                    (adf == bdf && at < bt)))
                }
                .iterator.take(k).zipWithIndex.map { case ((t, n, d), i) =>
                  org.apache.spark.sql.Row(id, i + 1, t, n, d)
                }
            }
          }
        }(enc)
    }
  }

  /** Per-term document frequency, computed without ever shuffling
    * corpus-sized data: array_distinct BEFORE the explode makes the
    * (doc,term) dedup map-side, so the count's partial combine ships
    * at most |vocab| rows per task. */
  private[analytics] def documentFrequency(df: DataFrame, idCol: String,
                                           textCol: String): DataFrame =
    df.select(explode(array_distinct(split(col(textCol), " "))).as("term"))
      .where(col("term") =!= "")
      .groupBy(col("term")).agg(count(lit(1)).as("df"))

  /** Huge-vocabulary fallback for [[topTerms]]: one hash shuffle of the
    * token frame by doc (no sort — partial/final tf and the top-k
    * aggregate then run in the same post-shuffle stage, every operator
    * keyed on the arriving doc_id clustering), df joined via an
    * explicit broadcast. [[graft.functions.TopKTermsAgg]] keeps a
    * fixed ≤k buffer per group; its ObjectHashAggregate host may still
    * sort-fall-back past the session's fallback threshold, but on
    * doc-clustered in-stage data that spill is per-task-partition
    * sized, not corpus-sized. */
  private[analytics] def topTermsShuffle(df: DataFrame, idCol: String,
                                         textCol: String, k: Int): DataFrame = {
    val toks = df
      .select(col(idCol), explode(split(col(textCol), " ")).as("term"))
      .where(col("term") =!= "")
      .repartition(col(idCol))
    val tf = toks.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    tf.join(broadcast(documentFrequency(df, idCol, textCol)), Seq("term"))
      .groupBy(col(idCol))
      .agg(graft.functions.TopKTermsAgg
        .topKTerms(col("term"), col("tf"), col("df"), k).as("tops"))
      .select(col(idCol), posexplode(col("tops")))
      .select(col(idCol), (col("pos") + 1).as("rank"),
        col("col.term").as("term"), col("col.tf").as("tf"), col("col.df").as("df"))
  }

  /** PII redaction: emails / IPv4s / long digit runs replaced with
    * typed placeholders. Patterns are RE2-safe (no lookaround, no \b)
    * so the identical regex runs in any engine; `regexp_replace` is
    * codegen'd — map-only at any scale. Order matters: emails first
    * (an address contains digit runs), then IPs (dotted digits), then
    * bare digit runs. */
  val piiPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "[EMAIL]",
    "([0-9]{1,3}\\.){3}[0-9]{1,3}" -> "[IP]",
    "[0-9]{7,}" -> "[NUM]")

  def redactPii(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val redacted = piiPatterns.foldLeft(col(textCol)) {
      case (c, (re, repl)) => regexp_replace(c, re, repl)
    }
    df.select(col(idCol), redacted.as("redacted"),
      // count-only scan: regexp_extract_all materialized EVERY match
      // into an array just to take its size — regexp_count is the same
      // non-overlapping-match count without the per-row allocations
      regexp_count(col(textCol), lit(piiPatterns.head._1))
        .cast("int").as("n_emails"))
  }

  /** Winnowing fingerprints (Schleimer et al., MOSS): hash every k-word
    * shingle, take the min hash of each sliding window of `w` positions,
    * count the distinct window-minima per doc. Fingerprinting is
    * document-local, so it runs as ONE codegen'd pass per row
    * ([[graft.functions.WinnowFpExpr]]) — no posexplode, no window
    * shuffle: at scale the fingerprint stage is a pure map. The
    * windowed relational formulation survives as the DuckDB oracle. */
  def winnowingFingerprints(df: DataFrame, idCol: String, textCol: String,
                            shingleK: Int = 4, window: Int = 5): DataFrame =
    df.select(col(idCol),
        graft.functions.TextHashExpressions.winnowFp(col(textCol), shingleK, window).as("wf"))
      .where(col("wf").isNotNull)
      .select(col(idCol),
        col("wf").getItem(0).as("n_fingerprints"),
        col("wf").getItem(1).as("min_fp"))

  /** Posting-list materialization: (term, df, postings) for n-word
    * shingle terms whose document frequency lies in [minDf, maxDf] —
    * the relational core of a search-index build, which is what the
    * reference's indexer bolts ship documents to OpenSearch/Solr FOR
    * (`core/.../indexing/AbstractIndexerBolt.java` + the backend
    * indexers; the backend builds exactly these inverted lists).
    * Expressed natively: the per-(term, doc) stream aggregates ONCE on
    * term with map-side partials; postings are sort_array'd so output
    * is order-independent and hash-checkable.
    *
    * Scale: `maxDf` is load-bearing — it bounds every collect_set to
    * `maxDf` ids, so no aggregation group can exceed a fixed memory
    * footprint no matter how common a term is (an UNBOUNDED postings
    * build needs doc-partitioned index segments — which is how real
    * engines shard postings — not a bigger hash map). Common terms are
    * counted (df) but their lists are discarded by the HAVING-style
    * filter AFTER the size-capped aggregation... except that capping
    * must happen DURING aggregation to bound memory, so the df filter
    * runs over a count-only aggregate and only qualifying terms join
    * back for list collection: two passes over the shingle stream,
    * both map-side-partial, the second one filtered down to rare
    * terms by a broadcast-able keep set. */
  def postings(df: DataFrame, idCol: String, textCol: String,
               shingleN: Int = 3, minDf: Long = 2,
               maxDf: Long = 8): DataFrame =
    postingsOver(Collapse.textUnits(df, idCol, textCol, 0.95), shingleN, minDf, maxDf)

  /** Collapses at 0.95 ([[Collapse.unique]]): the collapse saves the
    * shingle pass per copy but costs two joins. Only QUALIFYING terms
    * expand back to members — rare terms are carried by few distinct
    * texts, and a term replicated across a mirror set has df ≫ maxDf. */
  private[graft] def postingsOver(u: Collapse.Units, shingleN: Int,
                                  minDf: Long, maxDf: Long): DataFrame = {
    // native distinct_shingles (r16): the column-algebra spelling
    // array_distinct(shingles(words(text))) re-evaluates the inline
    // tokenize subtree inside the transform lambda PER ELEMENT —
    // O(words²) interpreted work per doc (the ShingleOps finding) —
    // where the codegen'd expression is one pass. Documented
    // bit-identical output. Measured (sf0.1, isolated): q80 wall
    // ~2.1 → 1.33 s (min-of-4), executor task time 30.3 → 6.4 s.
    val terms = u.rows
      .select(col("key"), col("weight"),
        explode(graft.functions.TextHashExpressions
          .distinctShingles(col("text"), shingleN)).as("term"))
    val keep = terms.groupBy("term").agg(sum(col("weight")).as("df"))
      .where(col("df") >= minDf && col("df") <= maxDf)
    u.expand(terms.select(col("key"), col("term")).join(keep, "term"), "doc")
      .groupBy("term", "df")
      .agg(sort_array(collect_set(col("doc"))).as("postings"))
      .select(col("term"), col("df"), col("postings"))
  }

  /** Collocation (phrase) mining by integer-exact PMI ordering:
    * assoc = ((c_xy · S) div c_x) · N div c_y — the pointwise-mutual-
    * information ratio p(xy)/(p(x)p(y)) in fixed-point `S` units,
    * computed with floor divisions in a FIXED order so any engine
    * reproduces the value bit-for-bit (true PMI takes a log of this
    * ratio, which is monotone — the ORDERING, which is what phrase
    * extraction consumes, is identical). `minCount` floors the bigram
    * count so hapax pairs don't dominate (standard collocation
    * practice).
    *
    * Scale: two token-stream aggregations (unigrams, bigrams) with
    * map-side partials; the unigram count table is vocabulary-sized —
    * broadcast on both joins — so nothing corpus-sized shuffles except
    * the bigram aggregation itself. Precondition: S·N must fit BIGINT
    * (require'd); at web scale pass a smaller S, same contract as
    * [[LinkGraph.pagerank]]'s scale. */
  def collocations(df: DataFrame, textCol: String, scale: Long = 1000000L,
                   minCount: Long = 5): DataFrame = {
    // ADAPTIVE on the duplication probe: unigram and bigram counts are
    // pure functions of the text, so on a replicated corpus both
    // aggregations run once per DISTINCT text with counts recovered as
    // member-weight sums — bit-identical (spec-pinned), and the two
    // corpus scans become two distinct-text scans. NOTHING corpus-sized
    // is cached (an earlier draft cached the token arrays and OOM'd at
    // 5 M docs — at 100 TB the corpus is never a cache resident): only
    // the VOCABULARY-sized unigram table caches, pinning one tiny
    // table across its three uses (nTotal + both broadcast joins).
    val toks =
      if (Collapse.unique(df, textCol, textCol, 0.95))
        df.select(lit(1L).as("weight"), Dedup.words(col(textCol)).as("ws"))
      else {
        val agg = df
          .select(md5(col(textCol)).as("digest"))
          .groupBy("digest").agg(count(lit(1)).as("weight"))
        df.select(md5(col(textCol)).as("digest"), col(textCol).as("rtext"))
          .dropDuplicates("digest")
          .join(agg, "digest")
          .select(col("weight"), Dedup.words(col("rtext")).as("ws"))
      }
    val uni = toks.select(col("weight"), explode(col("ws")).as("w"))
      .groupBy("w").agg(sum(col("weight")).as("c"))
    uni.cache()
    try {
      val nTotal = uni.agg(coalesce(sum("c"), lit(0L)).as("n")).first().getLong(0)
      require(scale > 0 && nTotal <= Long.MaxValue / scale,
        s"collocations fixed-point overflow: N=$nTotal * scale=$scale exceeds " +
          "Long range; lower `scale`")
      val bi = toks
        .select(col("weight"), explode(Dedup.shingles(col("ws"), 2)).as("bigram"))
        .groupBy("bigram").agg(sum(col("weight")).as("cxy"))
        .where(col("cxy") >= minCount)
        .withColumn("x", split(col("bigram"), " ").getItem(0))
        .withColumn("y", split(col("bigram"), " ").getItem(1))
      bi.join(broadcast(uni.select(col("w").as("x"), col("c").as("cx"))), "x")
        .join(broadcast(uni.select(col("w").as("y"), col("c").as("cy"))), "y")
        .select(col("bigram"), col("cxy"),
          expr(s"((cxy * $scale) div cx) * $nTotal div cy").as("assoc"))
    } finally uni.unpersist()
  }
}
