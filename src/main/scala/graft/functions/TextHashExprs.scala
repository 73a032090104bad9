package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.plans.CpuDense

/** Single-pass MinHash signature computation as a native Catalyst
  * expression.
  *
  * The column-algebra formulation (explode shingles → md5 → groupBy min,
  * mirroring the reference's signature idea `MD5SignatureParseFilter
  * .java:48` generalized to shingles) is correct but pays for itself
  * twice at scale: the explode materializes one row per shingle (a 50×
  * row blowup before the aggregation), and the nested higher-order
  * functions building the shingle array are CodegenFallback — Catalyst's
  * CollapseProject happily re-inlines that interpreted subtree into every
  * consumer, multiplying the work again. This expression does the whole
  * signature in ONE pass per document inside whole-stage codegen:
  * split → k-shingle → one md5 per shingle → running min of each 32-bit
  * md5 chunk. No shuffle, no explode, no interpreted lambdas — the
  * per-document cost is exactly `numShingles` digests, and the operator
  * is embarrassingly parallel (the property that matters at 100 TB:
  * signatures cost one map pass over the corpus, full stop).
  *
  * Semantics are engine-portable and match the DuckDB oracles:
  * words = single-space split with empty tokens dropped; shingle i =
  * words[i..i+k-1] joined by ' '; hash j of a shingle = the j-th
  * 8-hex-char chunk of md5(shingle) read as an unsigned 32-bit int
  * (`CAST('0x'||substr(md5(s),1+8j,8) AS BIGINT)`); the signature is the
  * element-wise min. Returns NULL when the document yields no tokens
  * (shorter than k words), matching the explode formulation where such
  * documents vanish before the aggregation.
  */
object TextHashOps {
  private val hexDigits = "0123456789abcdef".toCharArray

  /** MinHash signature: array of `numHashes` (≤4) unsigned-32-bit mins,
    * or null when the text has fewer than k words. `distinct` hashes
    * each distinct unigram once (the unigram-MinHash used for LSH
    * banding) — only meaningful with k == 1. */
  def minhashChunks(text: UTF8String, k: Int, numHashes: Int, distinct: Boolean): ArrayData = {
    if (text == null) return null
    val raw = text.toString.split(' ')
    var nw = 0
    var i = 0
    while (i < raw.length) { if (raw(i).nonEmpty) { raw(nw) = raw(i); nw += 1 }; i += 1 }
    if (nw < k) return null
    val md = MessageDigest.getInstance("MD5")
    val mins = Array.fill(numHashes)(Long.MaxValue)
    val seen = if (distinct && k == 1) new java.util.HashSet[String]() else null
    val sb = new java.lang.StringBuilder()
    var s = 0
    while (s <= nw - k) {
      sb.setLength(0)
      var o = 0
      while (o < k) { if (o > 0) sb.append(' '); sb.append(raw(s + o)); o += 1 }
      val tok = sb.toString
      if (seen == null || seen.add(tok)) {
        val d = md.digest(tok.getBytes(StandardCharsets.UTF_8))
        var j = 0
        while (j < numHashes) {
          val v = ((d(4 * j) & 0xffL) << 24) | ((d(4 * j + 1) & 0xffL) << 16) |
            ((d(4 * j + 2) & 0xffL) << 8) | (d(4 * j + 3) & 0xffL)
          if (v < mins(j)) mins(j) = v
          j += 1
        }
        md.reset()
      }
      s += 1
    }
    new GenericArrayData(mins)
  }
}

object TextHashOps2 {
  /** 16-bit SimHash over distinct words: bit k of the hash of word w is
    * bit (3 - k%4) of hex digit k/4 of md5(w)'s first 4 hex chars; per
    * bit, ±1 contributions summed over the word set; simhash bit k set
    * when the sum is positive. Matches the relational formulation
    * (divisor lookup `[8,4,2,1][k%4]`) the DuckDB oracle uses.
    * Null when the doc has no words. */
  def simhash16(text: UTF8String): Any = {
    if (text == null) return null
    val raw = text.toString.split(' ')
    val seen = new java.util.HashSet[String]()
    val sums = new Array[Int](16)
    val md = MessageDigest.getInstance("MD5")
    var any = false
    var i = 0
    while (i < raw.length) {
      val w = raw(i)
      if (w.nonEmpty && seen.add(w)) {
        any = true
        val d = md.digest(w.getBytes(StandardCharsets.UTF_8))
        md.reset()
        // first 4 hex chars = first 2 bytes, high nibble first
        val nibbles = Array((d(0) >> 4) & 0xf, d(0) & 0xf, (d(1) >> 4) & 0xf, d(1) & 0xf)
        var k = 0
        while (k < 16) {
          val bit = (nibbles(k / 4) >> (3 - (k % 4))) & 1
          sums(k) += 2 * bit - 1
          k += 1
        }
      }
      i += 1
    }
    if (!any) return null
    var h = 0L
    var k = 0
    while (k < 16) { if (sums(k) > 0) h |= 1L << k; k += 1 }
    h
  }

  /** Winnowing fingerprints (the rolling-hash document fingerprint of
    * Schleimer/Wilkerson/Aiken's winnowing scheme, relationally: min of
    * each `window`-wide frame of shingle hashes, full frames only):
    * returns (n distinct window-minima, smallest minimum) or null when
    * the doc has fewer than `shingleK + window - 1` words. Hash of a
    * shingle = first 32-bit chunk of its md5 — identical to the
    * windowed column formulation and its DuckDB oracle. */
  def winnowing(text: UTF8String, shingleK: Int, window: Int): ArrayData = {
    if (text == null) return null
    val raw = text.toString.split(' ')
    var nw = 0
    var i = 0
    while (i < raw.length) { if (raw(i).nonEmpty) { raw(nw) = raw(i); nw += 1 }; i += 1 }
    val np = nw - (shingleK - 1)
    if (np < window) return null
    val md = MessageDigest.getInstance("MD5")
    val sb = new java.lang.StringBuilder()
    val h = new Array[Long](np)
    var s = 0
    while (s < np) {
      sb.setLength(0)
      var o = 0
      while (o < shingleK) { if (o > 0) sb.append(' '); sb.append(raw(s + o)); o += 1 }
      val d = md.digest(sb.toString.getBytes(StandardCharsets.UTF_8))
      md.reset()
      h(s) = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) | ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      s += 1
    }
    val mins = new java.util.HashSet[Long]()
    var minFp = Long.MaxValue
    var pos = 0
    while (pos <= np - window) {
      var m = h(pos)
      var j = pos + 1
      while (j < pos + window) { if (h(j) < m) m = h(j); j += 1 }
      mins.add(m)
      if (m < minFp) minFp = m
      pos += 1
    }
    new GenericArrayData(Array(mins.size.toLong, minFp))
  }
}

/** `simhash16(text)` — single codegen'd pass per document. */
case class SimHash16Expr(child: Expression) extends UnaryExpression with CpuDense {
  private val ops = "graft.functions.TextHashOps2$.MODULE$"
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullable: Boolean = true // wordless docs have no hash

  override def nullSafeEval(input: Any): Any =
    TextHashOps2.simhash16(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val r = ctx.freshName("simhashResult") // fixed name would collide when
                                           // two simhash16 calls share a method
    ev.copy(code =
      code"""
        ${c.code}
        boolean ${ev.isNull} = true;
        long ${ev.value} = 0L;
        if (!${c.isNull}) {
          Object $r = $ops.simhash16(${c.value});
          if ($r != null) { ${ev.value} = ((java.lang.Long) $r).longValue(); ${ev.isNull} = false; }
        }
      """)
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash16Expr =
    copy(child = newChild)
  override def prettyName: String = "simhash16"
}

/** `winnow_fp(text)` → [n_fingerprints, min_fp], one pass per doc. */
case class WinnowFpExpr(child: Expression, shingleK: Int, window: Int)
    extends UnaryExpression with CpuDense {
  private val ops = "graft.functions.TextHashOps2$.MODULE$"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true // short docs have no full frame

  override def nullSafeEval(input: Any): Any =
    TextHashOps2.winnowing(input.asInstanceOf[UTF8String], shingleK, window)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code =
      code"""
        ${c.code}
        boolean ${ev.isNull} = true;
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = null;
        if (!${c.isNull}) {
          ${ev.value} = $ops.winnowing(${c.value}, $shingleK, $window);
          ${ev.isNull} = ${ev.value} == null;
        }
      """)
  }

  override protected def withNewChildInternal(newChild: Expression): WinnowFpExpr =
    copy(child = newChild)
  override def prettyName: String = "winnow_fp"
}

/** `minhash_sig(text)` with foldable k/numHashes/distinct baked in at
  * construction — they come from the operator call site, not the data. */
object ShingleOps {

  /** Distinct k-word shingles in first-occurrence order — one pass,
    * same output as `array_distinct(Dedup.shingles(Dedup.words(t), k))`
    * (and DuckDB's `list_distinct(list_transform(...))`). The column-
    * algebra form re-evaluates the tokenize subtree inside the
    * transform lambda PER ELEMENT (O(words²) interpreted work per doc
    * — measured 21 s for the sf0.1 decontamination pass vs sub-second
    * native); this is the codegen'd replacement for shingling hot
    * paths. Empty array when the doc has fewer than k words. */
  def distinctShingles(text: UTF8String, k: Int): ArrayData = {
    if (text == null) return null
    val raw = text.toString.split(' ')
    var nw = 0
    var i = 0
    while (i < raw.length) { if (raw(i).nonEmpty) { raw(nw) = raw(i); nw += 1 }; i += 1 }
    if (nw < k) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[String]()
    val sb = new java.lang.StringBuilder()
    var s = 0
    while (s <= nw - k) {
      sb.setLength(0)
      var o = 0
      while (o < k) { if (o > 0) sb.append(' '); sb.append(raw(s + o)); o += 1 }
      seen.add(sb.toString)
      s += 1
    }
    val out = new Array[Any](seen.size)
    var idx = 0
    val it = seen.iterator()
    while (it.hasNext) { out(idx) = UTF8String.fromString(it.next()); idx += 1 }
    new GenericArrayData(out)
  }
}

/** `distinct_shingles(text, k)` → array<string> of distinct k-word
  * shingles (single-space tokenization, oracle-portable). */
case class DistinctShinglesExpr(child: Expression, k: Int)
    extends UnaryExpression with CpuDense {
  private val ops = "graft.functions.ShingleOps$.MODULE$"

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    ShingleOps.distinctShingles(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ops.distinctShingles($c, $k);")

  override protected def withNewChildInternal(newChild: Expression): DistinctShinglesExpr =
    copy(child = newChild)
  override def prettyName: String = "distinct_shingles"
}

case class MinhashChunksExpr(child: Expression, k: Int, numHashes: Int,
                             distinct: Boolean) extends UnaryExpression with CpuDense {
  require(numHashes >= 1 && numHashes <= 4, "one md5 yields 4 chunks")
  private val ops = "graft.functions.TextHashOps$.MODULE$"

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true // short docs have no signature

  override def nullSafeEval(input: Any): Any =
    TextHashOps.minhashChunks(input.asInstanceOf[UTF8String], k, numHashes, distinct)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code =
      code"""
        ${c.code}
        boolean ${ev.isNull} = true;
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = null;
        if (!${c.isNull}) {
          ${ev.value} = $ops.minhashChunks(${c.value}, $k, $numHashes, $distinct);
          ${ev.isNull} = ${ev.value} == null;
        }
      """)
  }

  override protected def withNewChildInternal(newChild: Expression): MinhashChunksExpr =
    copy(child = newChild)
  override def prettyName: String = "minhash_sig"
}

object TextHashExpressions {
  def minhashSig(text: Column, k: Int, numHashes: Int, distinct: Boolean = false): Column =
    ColumnBridge.column(MinhashChunksExpr(ColumnBridge.expression(text), k, numHashes, distinct))
  def simhash16(text: Column): Column =
    ColumnBridge.column(SimHash16Expr(ColumnBridge.expression(text)))
  def distinctShingles(text: Column, k: Int): Column =
    ColumnBridge.column(DistinctShinglesExpr(ColumnBridge.expression(text), k))
  def winnowFp(text: Column, shingleK: Int, window: Int): Column =
    ColumnBridge.column(WinnowFpExpr(ColumnBridge.expression(text), shingleK, window))
}
