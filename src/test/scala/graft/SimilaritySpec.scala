package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.analytics.Similarity

/** IVF multi-probe ANN search properties: exactness when every cell is
  * probed, candidate-superset monotonicity in nprobe, and measured
  * recall against the brute-force baseline on real test vectors. */
class SimilaritySpec extends AnyFunSuite with LocalSpark {

  private def embeddings = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet")

  test("probing every cell reproduces brute force exactly") {
    // 1 plane → 2 buckets; nprobe=2 probes both → identical to q25's
    // brute-force scan, including tie-broken ranks
    val e = embeddings
    val q = e.where(col("vec_id") % 7 === 0)
    val ivf = Similarity.ivfTopK(e, q, "vec_id", "embedding", 64, 1, 3, 2)
      .orderBy("q_id", "rnk").collect().map(_.toSeq)
    val bf = Similarity.cosineTopK(e, q, "vec_id", "embedding", 3)
      .orderBy("q_id", "rnk").collect().map(_.toSeq)
    assert(ivf.nonEmpty)
    assert(ivf.toSeq == bf.toSeq)
  }

  test("recall is monotone in nprobe (probe sets nest) and high on test vectors") {
    val e = embeddings
    val q = e.where(col("vec_id") % 5 === 0)
    val bf = Similarity.cosineTopK(e, q, "vec_id", "embedding", 5)
      .select("q_id", "c_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def hits(nprobe: Int): Int =
      Similarity.ivfTopK(e, q, "vec_id", "embedding", 64, 4, 5, nprobe)
        .select("q_id", "c_id").collect()
        .count(r => bf.contains((r.getLong(0), r.getLong(1))))
    val h1 = hits(1); val h3 = hits(3); val h5 = hits(5)
    assert(h1 <= h3 && h3 <= h5) // nested probe sets can only add recall
    // synthetic vectors are near-uniform (no cluster structure), the
    // hardest case for LSH — probing 5 of 16 cells still recovers >40%
    assert(h5 >= (bf.size * 0.4).toInt,
      s"recall@5 with nprobe=5 of 16 cells: $h5/${bf.size}")
  }

  test("zero-norm vectors never occupy top-k/top-N slots (NaN cosines dropped)") {
    import spark.implicits._
    // 3 real unit-ish vectors + one all-zero vector: the zero row
    // normalizes to NaN components, and NaN sorts FIRST under desc —
    // without the drop it would squat rank 1 for every query
    val dim = 4
    val rows = Seq(
      (1L, Array(1f, 0f, 0f, 0f)),
      (2L, Array(0.9f, 0.1f, 0f, 0f)),
      (3L, Array(0f, 1f, 0f, 0f)),
      (99L, Array(0f, 0f, 0f, 0f))) // degenerate
      .toDF("vec_id", "embedding")
    val topk = Similarity.cosineTopK(rows, rows.where(col("vec_id") === 1), "vec_id", "embedding", 3)
      .collect()
    assert(topk.nonEmpty)
    assert(!topk.exists(_.getLong(1) == 99L), "zero vector must not appear as a neighbor")
    assert(topk.forall(r => !r.getDouble(2).isNaN))
    // same contract for the queries side and the pair generator
    val asQuery = Similarity.cosineTopK(rows, rows.where(col("vec_id") === 99), "vec_id", "embedding", 3)
    assert(asQuery.count() == 0, "a zero-vector query has no defined neighbors")
    val pairs = Similarity.nearDupPairs(rows, "vec_id", "embedding", dim, 1, 100)
      .collect()
    assert(pairs.nonEmpty)
    assert(pairs.forall(r => r.getLong(1) != 99L && r.getLong(2) != 99L))
    assert(pairs.forall(r => !r.getDouble(3).isNaN))
    val ivf = Similarity.ivfTopK(rows, rows.where(col("vec_id") === 1), "vec_id", "embedding", dim, 1, 3, 2)
      .collect()
    assert(ivf.forall(r => r.getLong(1) != 99L && !r.getDouble(2).isNaN))
  }

  test("the probe set broadcasts; the corpus is never shuffled before the join") {
    val e = embeddings
    val q = e.where(col("vec_id") === 0)
    val plan = Similarity.ivfTopK(e, q, "vec_id", "embedding", 64, 4, 5, 2)
      .queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"), plan)
  }

  test("PQ codebooks are partitioning-invariant; codes stay in range") {
    val e = embeddings
    val b1 = Similarity.pqCodebooks(e.repartition(1), "vec_id", "embedding", 8, 8, 16, 2)
    val b7 = Similarity.pqCodebooks(e.repartition(7), "vec_id", "embedding", 8, 8, 16, 2)
    assert(b1.map(_.map(_.toSeq).toSeq).toSeq == b7.map(_.map(_.toSeq).toSeq).toSeq,
      "integer Lloyd must be reduction-order independent")
    assert(b1.length == 8 && b1.forall(_.length == 16) && b1.forall(_.forall(_.length == 8)))
  }

  test("pqTopK: deterministic, self-excluded, and exact on well-separated clusters") {
    import spark.implicits._
    // 3 tight clusters far apart: PQ distances must rank same-cluster
    // members first despite quantization
    val rnd = new scala.util.Random(7)
    val rows = (0 until 60).map { i =>
      val center = i % 3
      val v = Array.tabulate(64)(d =>
        (if (d / 8 == center) 5f else 0f) + rnd.nextFloat() * 0.05f)
      (i.toLong, v)
    }
    val df = rows.toDF("vec_id", "embedding")
    val out = Similarity.pqTopK(df, df.where(col("vec_id") < 3), "vec_id", "embedding",
        m = 8, subDim = 8, kCodes = 4, iters = 2, k = 5)
      .collect()
    assert(out.length == 15)
    assert(out.forall(r => r.getLong(0) != r.getLong(1)), "self-matches excluded")
    out.foreach { r =>
      assert(r.getLong(0) % 3 == r.getLong(1) % 3,
        s"neighbor ${r.getLong(1)} of query ${r.getLong(0)} is from the wrong cluster")
    }
    // determinism across shuffle widths
    val again = Similarity.pqTopK(df.repartition(5), df.where(col("vec_id") < 3),
        "vec_id", "embedding", m = 8, subDim = 8, kCodes = 4, iters = 2, k = 5)
      .collect().map(_.toSeq).toSet
    assert(again == out.map(_.toSeq).toSet)
  }

  test("ivfPqTopK: probing every cell reproduces the exhaustive PQ scan; zero-norm rows excluded") {
    val e = embeddings
    val q = e.where(col("vec_id") % 100 === 0)
    // 1 plane → 2 cells; nprobe 2 probes both, so the bucketing must
    // be pure pruning over the same PQ distances (multi-probe flips
    // one plane at a time — nprobe can cover ALL cells only with 1
    // plane, same construction as the ivfTopK full-probe test above)
    val full = Similarity.ivfPqTopK(e, q, "vec_id", "embedding",
        numPlanes = 1, nprobe = 2)
      .orderBy("q_id", "rnk").collect().map(_.toSeq).toSeq
    val exhaustive = Similarity.pqTopK(e, q, "vec_id", "embedding")
      .orderBy("q_id", "rnk").collect().map(_.toSeq).toSeq
    assert(full == exhaustive)
    // fewer probes → candidates shrink but results stay deterministic
    val narrow = Similarity.ivfPqTopK(e, q, "vec_id", "embedding")
      .orderBy("q_id", "rnk").collect()
    val again = Similarity.ivfPqTopK(e.repartition(7), q, "vec_id", "embedding")
      .orderBy("q_id", "rnk").collect()
    assert(narrow.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("PQ scan plan: corpus is map-only to the scorer; queries broadcast") {
    val e = embeddings
    val q = e.where(col("vec_id") % 100 === 0)
    val plan = Similarity.pqTopK(e, q, "vec_id", "embedding")
      .queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"), plan)
    assert(plan.contains("pq_dist"), plan)
    // the only exchange over the scored stream feeds the per-query
    // window — the corpus side itself is never hash-partitioned
    assert(!plan.contains("hashpartitioning(c_id"), plan)
  }
}
