package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Recall@k of the approximate ANN faces against their exact
  * counterparts — the quality half of the ANN story (the bench rows
  * prove the SPEED of IVF/PQ/IVF-PQ; nothing yet measures how much
  * answer quality the approximation costs).
  *
  * Measured on the UNIQUE embedding mass (replica 0 of the scaled
  * corpora — the scale generator replicates vectors verbatim, so at
  * sf≥10 a query's true neighbor list is mostly its own copies and
  * recall degenerates to "do identical vectors share a bucket",
  * trivially yes). Quality of the approximation is a property of the
  * algorithm + geometry on distinct vectors; its COST at scale is
  * measured separately (bench_sf1000, AnnSplitBench).
  *
  * Ground truths: IVF is scored against brute-force COSINE top-k
  * (same metric — recall isolates the bucketing loss); PQ and IVF-PQ
  * against brute-force SQUARED-L2 top-k on the same quantized-long
  * vectors their scorer sees (recall isolates code-quantization +
  * bucketing loss, not the long-quantization of the input contract).
  * Ties in every face break by corpus id, mirroring the production
  * queries (q25/q38/q65/q66).
  *
  * Prints one JSON line:
  *   {"metric":"ann_recall","k":10,"queries":N,"corpus":M,
  *    "ivf_nprobe1":r,...,"pq":r,"ivfpq_nprobe3":r,...}
  *
  * Usage: runMain graft.tools.AnnRecallBench [sfDir] [k]
  */
object AnnRecallBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val k = args.lift(1).map(_.toInt).getOrElse(10)
    val spark = graft.Session.local()
    import graft.analytics.{Clustering, Similarity}
    import graft.functions.VecExpressions

    // replica 0 only: the unique base vectors (key shifts are 100M/replica)
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .where(col("vec_id") < 100000000L)
    val corpusN = e.count()
    val queries = e.where(col("vec_id") % 10 === 7)
    val queryN = queries.count()

    // truth sets as driver maps: q_id -> top-k corpus ids. Bounded by
    // contract (queryN × k rows — hundreds), same shape the production
    // faces return.
    def truthMap(df: DataFrame): Map[Long, Set[Long]] =
      df.select(col("q_id"), col("c_id")).collect()
        .groupBy(_.getLong(0)).map { case (q, rs) =>
          q -> rs.map(_.getLong(1)).toSet
        }

    def recall(approx: DataFrame, truth: Map[Long, Set[Long]]): Double = {
      val a = truthMap(approx)
      // a query missing from the approx result (empty probe set) scores 0
      val per = truth.map { case (q, t) =>
        a.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size }
      per.sum / per.size
    }

    // ---- IVF vs exact cosine ----
    val cosTruth = truthMap(Similarity.cosineTopK(e, queries, "vec_id", "embedding", k))
    val ivf = Seq(1, 2, 4, 8).map { np =>
      np -> recall(
        Similarity.ivfTopK(e, queries, "vec_id", "embedding",
          dim = 64, numPlanes = 6, k = k, nprobe = np), cosTruth)
    }

    // ---- PQ / IVF-PQ vs exact squared-L2 on the quantized-long input ----
    // (the PQ contract quantizes doubles to longs at Clustering.Scale
    // before coding; the fair exactness reference sees the same input)
    val qv = e.select(col("vec_id"),
      VecExpressions.quantizeLongs(col("embedding"), Clustering.Scale).as("qv"))
    val c = graft.plans.InputWidth.widen(
      qv.select(col("vec_id").as("c_id"), col("qv").as("c_v")))
    val qq = qv.where(col("vec_id") % 10 === 7)
      .select(col("vec_id").as("q_id"), col("qv").as("q_v"))
    val l2 = c.join(broadcast(qq), col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        aggregate(zip_with(col("q_v"), col("c_v"), (x, y) => (x - y) * (x - y)),
          lit(0L), (s, v) => s + v).as("d2"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("d2").asc, col("c_id"))
    val l2Truth = truthMap(
      l2.withColumn("rnk", row_number().over(w)).where(col("rnk") <= k))

    val books = Similarity.pqCodebooks(e, "vec_id", "embedding",
      m = 8, subDim = 8, kCodes = 16, iters = 2)
    val pqR = recall(
      Similarity.pqTopKWith(books, e, queries, "vec_id", "embedding", k = k), l2Truth)
    val ivfpq = Seq(3, 8).map { np =>
      np -> recall(
        Similarity.ivfPqTopKWith(books, e, queries, "vec_id", "embedding",
          nprobe = np, k = k), l2Truth)
    }

    val ivfKeys = ivf.map { case (np, r) => s""""ivf_nprobe$np":$r""" }.mkString(",")
    val ivfpqKeys = ivfpq.map { case (np, r) => s""""ivfpq_nprobe$np":$r""" }.mkString(",")
    println(s"""{"metric":"ann_recall","k":$k,"queries":$queryN,"corpus":$corpusN,$ivfKeys,"pq":$pqR,$ivfpqKeys,"sf":"$sfDir"}""")

    // ---- planted near-duplicate retrieval (the production use) ----
    // The raw-corpus recall above is the ANN-hostile worst case: the
    // synthetic embeddings carry no cluster structure, so a query's
    // true top-k are near-ties and bucket pruning can only beat the
    // probed-fraction baseline. The operators' actual job (SemDeDup,
    // near-dup retrieval) is "given a vector, find its close copy" —
    // measured here by planting one: each query is a corpus vector
    // with deterministic ±8% per-coordinate jitter (cosine ≈ 0.997 to
    // its source vs ≈ 0.1 background), and hit@k asks whether the
    // source vector is retrieved.
    val planted = queries.select(
      (col("vec_id") + lit(1000000000L)).as("vec_id"),
      zip_with(col("embedding"),
        transform(sequence(lit(1), lit(64)), i =>
          lit(1.0) + lit(0.08) * sin(col("vec_id") * i.cast("double"))),
        (x, f) => x * f).cast("array<float>").as("embedding"))
    def hitRate(approx: DataFrame, atK: Int): Double = {
      val hits = approx.where(col("rnk") <= atK &&
        col("c_id") === col("q_id") - 1000000000L).count()
      hits.toDouble / queryN
    }
    val pIvf = Seq(1, 2, 4, 8).map { np =>
      np -> hitRate(Similarity.ivfTopK(e, planted, "vec_id", "embedding",
        dim = 64, numPlanes = 6, k = k, nprobe = np), 1)
    }
    val pPq = hitRate(
      Similarity.pqTopKWith(books, e, planted, "vec_id", "embedding", k = k), 1)
    val pPq10 = hitRate(
      Similarity.pqTopKWith(books, e, planted, "vec_id", "embedding", k = k), k)
    val pIvfPq = Seq(3, 8).map { np =>
      np -> hitRate(Similarity.ivfPqTopKWith(books, e, planted, "vec_id",
        "embedding", nprobe = np, k = k), k)
    }
    val pIvfKeys = pIvf.map { case (np, r) => s""""ivf_nprobe$np":$r""" }.mkString(",")
    val pIvfPqKeys = pIvfPq.map { case (np, r) => s""""ivfpq_nprobe${np}_at$k":$r""" }.mkString(",")
    println(s"""{"metric":"ann_planted_hit","at1_except_noted":true,"queries":$queryN,"corpus":$corpusN,$pIvfKeys,"pq_at1":$pPq,"pq_at$k":$pPq10,$pIvfPqKeys,"sf":"$sfDir"}""")
    spark.stop()
  }
}
