package graft.tools

import org.apache.spark.sql.functions.col

/** Train-once / encode-only split timing for the PQ ANN faces
  * (q65 `pqTopK`, q66 `ivfPqTopK`): a deployed ANN service trains
  * codebooks once (typically on a sample) and amortizes them across
  * every subsequent encode+search batch, so the benchmark claim
  * "codebook training dominates and is amortized in production" needs
  * the two legs measured separately — which the bundled bench rows
  * cannot show.
  *
  * Prints one JSON line per query face:
  *   {"metric":"ann_split","query":"q65","train_sec":…,
  *    "encode_score_sec":…,"reps":2,"sf":…}
  * Each leg is min-of-N in one JVM (same protocol as graft.Bench);
  * the encode+score leg reuses the SAME trained codebooks, so its
  * plan is exactly the production shape: map-only encode with the
  * codebooks as codegen constants, broadcast LUT probe, LUT-scored
  * scan.
  *
  * Usage: runMain graft.tools.AnnSplitBench [sfDir] [reps]
  */
object AnnSplitBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val reps = args.lift(1).map(_.toInt).getOrElse(2).max(1)
    val spark = graft.Session.local()

    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    e.count() // warm footers/page cache

    def minOf(f: => Unit): Double =
      (1 to reps).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }.min

    import graft.analytics.Similarity
    // q65 batch contract (AnalyticsQueries q65_pq_topk)
    val q65Queries = e.where(col("vec_id") % 1000 === 0 && col("vec_id") < 200000)
    // q66 batch contract
    val q66Queries = e.where(col("vec_id") % 100 === 0 && col("vec_id") < 200000)

    // untimed warmup: one full train + one encode+score per face, so the
    // timed legs measure the warm-JVM production shape, not codegen/JIT
    // ramp (a fresh JVM's first kmeans pass is ~5-10× its steady state)
    locally {
      val wb = Similarity.pqCodebooks(e, "vec_id", "embedding",
        m = 8, subDim = 8, kCodes = 16, iters = 2)
      Similarity.pqTopKWith(wb, e, q65Queries, "vec_id", "embedding").count()
      Similarity.ivfPqTopKWith(wb, e, q66Queries, "vec_id", "embedding").count()
    }

    // ---- q65: PQ flat ----
    var books: Array[Array[Array[Long]]] = null
    val t65train = minOf {
      books = Similarity.pqCodebooks(e, "vec_id", "embedding",
        m = 8, subDim = 8, kCodes = 16, iters = 2)
    }
    val t65enc = minOf {
      Similarity.pqTopKWith(books, e, q65Queries, "vec_id", "embedding").count()
    }
    println(s"""{"metric":"ann_split","query":"q65_pq_topk","train_sec":$t65train,"encode_score_sec":$t65enc,"reps":$reps,"sf":"$sfDir"}""")

    // ---- q66: IVF-PQ ---- (same codebook geometry; train timed once more
    // so each face's line is self-contained)
    val t66train = minOf {
      books = Similarity.pqCodebooks(e, "vec_id", "embedding",
        m = 8, subDim = 8, kCodes = 16, iters = 2)
    }
    val t66enc = minOf {
      Similarity.ivfPqTopKWith(books, e, q66Queries, "vec_id", "embedding").count()
    }
    println(s"""{"metric":"ann_split","query":"q66_ivfpq_topk","train_sec":$t66train,"encode_score_sec":$t66enc,"reps":$reps,"sf":"$sfDir"}""")

    spark.stop()
  }
}
