package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType,
  LongType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native vector expressions for the similarity-search operators.
  *
  * The `zip_with`/`aggregate` higher-order-function formulation is
  * semantically right but physically wrong at scale: HOFs are
  * CodegenFallback, so every pair-stage dot product runs an interpreted
  * lambda with per-element boxing — on the candidate-pair join (the hot
  * loop of ANN search, |pairs| × dim evaluations) that is a 10×+ tax.
  * These expressions keep the exact same IEEE semantics (left-to-right
  * double-precision folds, so DuckDB `list_reduce` oracles match
  * bit-for-bit) in a tight primitive loop inside whole-stage codegen.
  *
  * All three are pure map-side scalar functions: normalize and bucket
  * are one pass per row, dot is one pass per candidate pair — none of
  * them shuffle, which is what lets the ANN operators scale linearly
  * with executors.
  */
object VecOps {
  /** Left-fold dot product of two double arrays over the SHARED
    * prefix — a mismatched (corrupt) vector must not read past the
    * shorter array (UnsafeArrayData would return silent garbage). */
  def dotD(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += a.getDouble(i) * b.getDouble(i); i += 1 }
    acc
  }

  /** One-pass L2 normalize: norm accumulated left-to-right in double,
    * then each component divided — identical op order to the
    * transform/aggregate formulation. Returns NULL when the norm is
    * zero or non-finite: cosine is undefined for such vectors, and
    * folding the rejection into the same pass (instead of a second
    * O(dim) self-dot downstream) keeps the degenerate-row filter a
    * plain `IS NOT NULL` predicate. (Returning the vector or NaNs
    * instead would let a degenerate row reach ranking: Spark sorts NaN
    * above every real, so one NaN cosine would win every top-k slot.) */
  def l2normalize(a: ArrayData): ArrayData = {
    val n = a.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) { val v = a.getDouble(i); acc += v * v; i += 1 }
    val nrm = math.sqrt(acc)
    if (!(nrm > 0) || nrm == Double.PositiveInfinity) return null
    val out = new Array[Double](n)
    i = 0; while (i < n) { out(i) = a.getDouble(i) / nrm; i += 1 }
    new GenericArrayData(out)
  }

  /** ±1 sign for (plane j, dimension i, both as in the portable spec):
    * +1 when the first hex char of md5("j:i") is even. The sign matrix
    * is deterministic, so it is computed once per (planes, dim) per JVM
    * and reused across every row — the md5s never run in the row loop. */
  private val signCache = TrieMap.empty[(Int, Int), Array[Array[Double]]]
  private[functions] def signsFor(numPlanes: Int, dim: Int): Array[Array[Double]] =
    signs(numPlanes, dim)
  private def signs(numPlanes: Int, dim: Int): Array[Array[Double]] =
    signCache.getOrElseUpdate((numPlanes, dim), {
      val md = MessageDigest.getInstance("MD5")
      Array.tabulate(numPlanes, dim) { (j, i0) =>
        md.reset()
        val d = md.digest(s"$j:${i0 + 1}".getBytes(StandardCharsets.UTF_8))
        if (((d(0) >> 4) & 0xf) % 2 == 0) 1.0 else -1.0
      }
    })

  /** Random-hyperplane LSH bucket id: bit j set when the signed
    * projection onto plane j is positive. Left-to-right fold per plane,
    * matching the oracle's list_reduce. */
  def lshBucket(a: ArrayData, dim: Int, numPlanes: Int): Int = {
    val sg = signs(numPlanes, dim)
    var bucket = 0
    var j = 0
    while (j < numPlanes) {
      val row = sg(j)
      var acc = 0.0
      var i = 0
      val n = math.min(a.numElements(), dim)
      while (i < n) { acc += a.getDouble(i) * row(i); i += 1 }
      if (acc > 0) bucket |= 1 << j
      j += 1
    }
    bucket
  }
}

object VecOps2 {
  /** Multi-probe bucket list for IVF-style ANN search: the query's own
    * hyperplane bucket first, then the buckets reached by flipping one
    * plane bit at a time in order of increasing |projection| — the
    * planes the vector sits closest to, i.e. the neighboring cells most
    * likely to hold near neighbors (multi-probe LSH). Returns
    * `min(nprobe, numPlanes + 1)` distinct bucket ids. */
  def multiProbeBuckets(a: ArrayData, dim: Int, numPlanes: Int, nprobe: Int): ArrayData = {
    val proj = new Array[Double](numPlanes)
    val sg = VecOps.signsFor(numPlanes, dim)
    var j = 0
    while (j < numPlanes) {
      val row = sg(j)
      var acc = 0.0
      var i = 0
      val n = math.min(a.numElements(), dim)
      while (i < n) { acc += a.getDouble(i) * row(i); i += 1 }
      proj(j) = acc
      j += 1
    }
    var base = 0
    j = 0
    while (j < numPlanes) { if (proj(j) > 0) base |= 1 << j; j += 1 }
    val order = (0 until numPlanes).sortBy(j => (math.abs(proj(j)), j))
    val nOut = math.min(nprobe, numPlanes + 1)
    val out = new Array[Int](nOut)
    out(0) = base
    var p = 1
    while (p < nOut) { out(p) = base ^ (1 << order(p - 1)); p += 1 }
    new GenericArrayData(out)
  }
}

/** Exact-integer geometry for the k-means operator
  * ([[graft.analytics.Clustering]]). Distributed float summation is
  * order-dependent, so a centroid averaged in IEEE doubles would differ
  * between runs (and engines) at the last bit — and one flipped bit can
  * flip an argmin, cascading into different clusters. The fix is the
  * same one the relational side uses for q15's tie-break: move the
  * whole fixed point into exact integer arithmetic. Components are
  * quantized once to `floor(x * 2^20)` (a power-of-two scale is exact
  * in double for |x| ≲ 2^32, and float→double is always exact), after
  * which distances, centroid sums, and floor-divided means are plain
  * long math — bit-identical on any engine, any partitioning, any
  * reduction order. Magnitudes: |q| ≤ 2^21 for |x| ≤ 2, squared diffs
  * ≤ 2^44, 64-dim distances ≤ 2^50 — no overflow headroom concerns. */
object KmeansOps {
  def quantize(a: ArrayData, scale: Double): ArrayData = {
    val n = a.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      out(i) = math.floor(a.getFloat(i).toDouble * scale).toLong
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Nearest centroid by squared L2 distance over quantized vectors;
    * ties take the lowest centroid index (strict `<` keeps the first
    * minimum). Returns (cluster, dist) — dist feeds the inertia sum. */
  def assign(a: ArrayData, cents: Array[Array[Long]]): InternalRow = {
    val q = a.toLongArray()
    var best = 0
    var bestD = Long.MaxValue
    var j = 0
    while (j < cents.length) {
      val c = cents(j)
      val n = math.min(q.length, c.length)
      var d = 0L
      var i = 0
      while (i < n) { val t = q(i) - c(i); d += t * t; i += 1 }
      if (d < bestD) { bestD = d; best = j }
      j += 1
    }
    new GenericInternalRow(Array[Any](best, bestD))
  }
}

/** `quantize_longs(v)` — ARRAY<FLOAT> → ARRAY<BIGINT> by
  * `floor(x * scale)`, the one lossy step of the exact-integer k-means
  * (everything after it is exact long math). */
case class QuantizeLongsExpr(child: Expression, scale: Double)
    extends UnaryExpression {
  private val ops = "graft.functions.KmeansOps$.MODULE$"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(a: Any): Any =
    KmeansOps.quantize(a.asInstanceOf[ArrayData], scale)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ops.quantize($a, $scale);")

  override protected def withNewChildInternal(newChild: Expression): QuantizeLongsExpr =
    copy(child = newChild)
  override def prettyName: String = "quantize_longs"
}

/** `kmeans_assign(qv)` → struct(cluster, dist) against a plan-time
  * centroid matrix (driver-computed between rounds, k×dim longs —
  * shipped as a codegen reference object, the per-row loop is
  * primitive long math inside whole-stage codegen). */
case class KmeansAssignExpr(child: Expression, cents: Array[Array[Long]])
    extends UnaryExpression {
  private val ops = "graft.functions.KmeansOps$.MODULE$"
  override def dataType: DataType = StructType(Seq(
    StructField("cluster", IntegerType, nullable = false),
    StructField("dist", LongType, nullable = false)))

  override def nullSafeEval(a: Any): Any =
    KmeansOps.assign(a.asInstanceOf[ArrayData], cents)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("kmeansCents", cents, "long[][]")
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ops.assign($a, $ref);")
  }

  override protected def withNewChildInternal(newChild: Expression): KmeansAssignExpr =
    copy(child = newChild)
  override def prettyName: String = "kmeans_assign"
}

/** `dot_d(a, b)` over ARRAY<DOUBLE> — the pair-stage hot loop. */
case class DotDExpr(left: Expression, right: Expression) extends BinaryExpression {
  private val ops = "graft.functions.VecOps$.MODULE$"
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = left.nullable || right.nullable

  override def nullSafeEval(a: Any, b: Any): Any =
    VecOps.dotD(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ops.dotD($a, $b);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
  override def prettyName: String = "dot_d"
}

/** `l2_normalize(v)` over ARRAY<DOUBLE>; NULL on zero/non-finite norm
  * (see [[VecOps.l2normalize]]) — so the expression is nullable even
  * over a non-null child. */
case class L2NormalizeExpr(child: Expression) extends UnaryExpression with graft.plans.CpuDense {
  private val ops = "graft.functions.VecOps$.MODULE$"
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any): Any =
    VecOps.l2normalize(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"""${ev.value} = $ops.l2normalize($a);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): L2NormalizeExpr =
    copy(child = newChild)
  override def prettyName: String = "l2_normalize"
}

/** `lsh_bucket(v)` with the plane count and dim fixed at plan time. */
case class LshBucketExpr(child: Expression, dim: Int, numPlanes: Int)
    extends UnaryExpression {
  private val ops = "graft.functions.VecOps$.MODULE$"
  override def dataType: DataType = IntegerType

  override def nullSafeEval(a: Any): Any =
    VecOps.lshBucket(a.asInstanceOf[ArrayData], dim, numPlanes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ops.lshBucket($a, $dim, $numPlanes);")

  override protected def withNewChildInternal(newChild: Expression): LshBucketExpr =
    copy(child = newChild)
  override def prettyName: String = "lsh_bucket"
}

/** `multi_probe_buckets(v)` → the nprobe bucket ids to search. */
case class MultiProbeBucketsExpr(child: Expression, dim: Int, numPlanes: Int,
                                 nprobe: Int) extends UnaryExpression {
  private val ops = "graft.functions.VecOps2$.MODULE$"
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def nullSafeEval(a: Any): Any =
    VecOps2.multiProbeBuckets(a.asInstanceOf[ArrayData], dim, numPlanes, nprobe)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev,
      a => s"${ev.value} = $ops.multiProbeBuckets($a, $dim, $numPlanes, $nprobe);")

  override protected def withNewChildInternal(newChild: Expression): MultiProbeBucketsExpr =
    copy(child = newChild)
  override def prettyName: String = "multi_probe_buckets"
}

object VecExpressions {
  def dotD(a: Column, b: Column): Column =
    ColumnBridge.column(DotDExpr(ColumnBridge.expression(a), ColumnBridge.expression(b)))
  def l2Normalize(v: Column): Column =
    ColumnBridge.column(L2NormalizeExpr(ColumnBridge.expression(v)))
  def lshBucket(v: Column, dim: Int, numPlanes: Int): Column =
    ColumnBridge.column(LshBucketExpr(ColumnBridge.expression(v), dim, numPlanes))
  def multiProbeBuckets(v: Column, dim: Int, numPlanes: Int, nprobe: Int): Column =
    ColumnBridge.column(MultiProbeBucketsExpr(ColumnBridge.expression(v), dim, numPlanes, nprobe))
  def quantizeLongs(v: Column, scale: Double): Column =
    ColumnBridge.column(QuantizeLongsExpr(ColumnBridge.expression(v), scale))
  def kmeansAssign(qv: Column, cents: Array[Array[Long]]): Column =
    ColumnBridge.column(KmeansAssignExpr(ColumnBridge.expression(qv), cents))
}
