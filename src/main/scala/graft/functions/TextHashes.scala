package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Document-fingerprint hash expressions (SURVEY.md §7 driver-mandated
  * extensions: minhash / simhash dedup).
  *
  * Design constraints:
  *  - One pass over the token array per row — NO explode-based data
  *    amplification (k× or 60×), which is what makes these viable at 100 TB.
  *    The reference's analog is a per-record operator, not a shuffle.
  *  - Hashes are derived from MD5 hex strings so the DuckDB oracle can
  *    reproduce them bit-for-bit (`('0x'||substr(md5(s),1,15))::UBIGINT`).
  *    15 hex chars = 60 bits keeps everything positive in a signed long.
  *    At production scale the md5 could be swapped for xxhash64 — the
  *    operator contract (tokens → signature) is unchanged.
  */
object TextHashes {

  @inline private def md5hex60(s: String): Long = {
    val d = MessageDigest.getInstance("MD5")
      .digest(s.getBytes(StandardCharsets.UTF_8))
    // first 15 hex chars == top 60 bits of the digest
    var acc = 0L
    var i = 0
    while (i < 8) {
      val b = d(i) & 0xff
      if (i < 7) acc = (acc << 8) | b
      else acc = (acc << 4) | (b >>> 4) // 7 bytes + high nibble = 60 bits
      i += 1
    }
    acc
  }

  /** Universal-hash family for minhash: ONE md5 per token, then per seed a
    * 2-universal linear transform h_k = (A_k*hi + C_k*lo + D_k) mod 2^61-1
    * over the token hash's 30-bit halves. 32x less hashing than seeded-md5
    * per token — this is what makes 32-seed minhash viable at 100 TB — and
    * every constant is itself md5-derived, so the DuckDB oracle reproduces
    * the exact signature with UBIGINT arithmetic (all products < 2^60). */
  private val M61 = (1L << 61) - 1
  private[graft] val MhA = Array.tabulate(64)(k => md5hex60(s"mh:a:$k") % ((1L << 30) - 1) + 1)
  private[graft] val MhC = Array.tabulate(64)(k => md5hex60(s"mh:b:$k") % ((1L << 30) - 1) + 1)
  private[graft] val MhD = Array.tabulate(64)(k => md5hex60(s"mh:c:$k") % M61)

  @inline private def seeded(k: Int, hi: Long, lo: Long): Long =
    (MhA(k) * hi + MhC(k) * lo + MhD(k)) % M61

  def simhash60(tokens: Iterator[UTF8String]): Long = {
    val counts = new Array[Int](60)
    var n = 0
    tokens.foreach { t =>
      if (t != null) {
        val h = md5hex60(t.toString)
        var b = 0
        while (b < 60) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
        n += 1
      }
    }
    var out = 0L
    var b = 0
    while (b < 60) { if (counts(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  def minhash(tokens: ArrayData, k: Int): Array[Long] = {
    val mins = Array.fill(k)(Long.MaxValue)
    var i = 0
    val n = tokens.numElements()
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val base = md5hex60(tokens.getUTF8String(i).toString)
        val hi = base >>> 30
        val lo = base & ((1L << 30) - 1)
        var s = 0
        while (s < k) {
          val h = seeded(s, hi, lo)
          if (h < mins(s)) mins(s) = h
          s += 1
        }
      }
      i += 1
    }
    mins
  }
}

/** 60-bit SimHash over a token array (weighted by multiplicity).
  * Ref analog: document fingerprinting for streaming dedup
  * (flink operators/deduplicate/ keeps exact keys; simhash extends to
  * near-dup keys). CodegenFallback: one virtual call per row, the md5
  * work dominates — acceptable outside the TPC-H hot path. */
case class SimHash60Expr(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def checkInputDataTypes() =
    if (child.dataType.isInstanceOf[ArrayType]) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure("simhash60 expects array<string>")
  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val toks = (0 until arr.numElements()).iterator
      .filterNot(arr.isNullAt).map(arr.getUTF8String)
    TextHashes.simhash60(toks)
  }
  override def prettyName: String = "simhash60"
  override protected def withNewChildInternal(newChild: Expression): SimHash60Expr =
    copy(child = newChild)
}

/** 32-seed MinHash signature (array<long>) over a token array. */
case class MinHash32Expr(child: Expression)
    extends UnaryExpression with CodegenFallback {
  val k = 32
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes() =
    if (child.dataType.isInstanceOf[ArrayType]) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure("minhash32 expects array<string>")
  override def nullSafeEval(input: Any): Any =
    new GenericArrayData(TextHashes.minhash(input.asInstanceOf[ArrayData], k))
  override def prettyName: String = "minhash32"
  override protected def withNewChildInternal(newChild: Expression): MinHash32Expr =
    copy(child = newChild)
}

/** 3-gram shingles over a token array: distinct, first-occurrence order —
  * exactly `array_distinct(transform(sequence(1, n-2), i ->
  * concat_ws(' ', t[i], t[i+1], t[i+2])))` with the `n < 3 → empty` guard,
  * as one JVM call per row (r16 optimization, guide §4.1: the HOF chain is
  * CodegenFallback with an interpreted lambda + concat per element; this
  * is the corpus-dedup family's hottest expression). concat_ws semantics
  * kept: null tokens are skipped inside a gram (split() never produces
  * them, but exactness is the contract). */
case class Shingles3Expr(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes() =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"shingles3 expects array<string>, got $other")
    }
  private val space = UTF8String.fromString(" ")
  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n < 3) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[UTF8String]((n - 2) * 2)
    var j = 0
    while (j <= n - 3) {
      def at(i: Int): UTF8String = if (arr.isNullAt(i)) null else arr.getUTF8String(i)
      seen.add(UTF8String.concatWs(space, at(j), at(j + 1), at(j + 2)))
      j += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    new GenericArrayData(out)
  }
  override def prettyName: String = "shingles3"
  override protected def withNewChildInternal(newChild: Expression): Shingles3Expr =
    copy(child = newChild)
}

/** ALL word n-grams over a token array (duplicates KEPT, positional order) —
  * exactly `CASE WHEN size(ws) < n THEN array() ELSE
  * transform(sequence(1, size(ws) - n + 1), i -> concat_ws(' ', slice(ws, i, n)))
  * END`, as one JVM call per row (r17 optimization, guide §4.1 — the same
  * interpreted-HOF class Shingles3Expr killed for the distinct-set case: the
  * HOF spelling pays a lambda dispatch plus a slice allocation plus an
  * interpreted concat per POSITION of every document). concat_ws semantics
  * kept: null tokens are skipped inside a gram. Gram i (1-based position)
  * lands at array index i-1, so `posexplode` reproduces the
  * `struct(i, gram)` spelling with i = pos + 1. */
case class GramsNExpr(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {
  require(n >= 1, s"gramsN needs n >= 1, got $n")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes() =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"grams$n expects array<string>, got $other")
    }
  private val space = UTF8String.fromString(" ")
  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val m = arr.numElements()
    if (m < n) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](m - n + 1)
    val buf = new Array[UTF8String](n)
    var i = 0
    while (i <= m - n) {
      var j = 0
      while (j < n) {
        buf(j) = if (arr.isNullAt(i + j)) null else arr.getUTF8String(i + j)
        j += 1
      }
      out(i) = UTF8String.concatWs(space, buf: _*)
      i += 1
    }
    new GenericArrayData(out)
  }
  override def prettyName: String = s"grams$n"
  override protected def withNewChildInternal(newChild: Expression): GramsNExpr =
    copy(child = newChild)
}

/** Fused winnowing fingerprints (Schleimer/Wilkerson/Aiken MOSS, the
  * TextAnalysis.winnowSets machinery) as ONE call per row — r16
  * optimization, guide §4.1: the SQL spelling pays an interpreted lambda
  * PER CHARACTER of every k-gram (rolling hash) plus two more HOF layers
  * (window mins, distinct) on top. Semantics replicated exactly:
  *   g   = concat_ws(' ', slice(toks, i, k))            for i in 1..n-k+1
  *   h_i = fold over g_i's CHARACTERS (code points, the probe-verified
  *         ascii(substring(g, i, 1)) semantics): acc*31 + cp mod 1e9+7
  *   sel = array_min(slice(h, j, w))  for j in 1..max(size(h)-w+1, 1)
  *   fps = array_sort(array_distinct(sel)); n_grams = size(g)
  * Returns struct(n_grams int, fps array<bigint>). Round16Spec pins
  * equivalence against the legacy spelling on the real fixture plus
  * unicode/short/empty/null synthetics. */
case class WinnowFpsExpr(child: Expression, k: Int, w: Int)
    extends UnaryExpression with CodegenFallback {
  private val Mod = 1000000007L
  override def dataType: DataType = StructType(Seq(
    StructField("n_grams", IntegerType, nullable = false),
    StructField("fps", ArrayType(LongType, containsNull = false), nullable = false)))
  override def checkInputDataTypes() =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"winnow_fps expects array<string>, got $other")
    }
  private val space = UTF8String.fromString(" ")
  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val nG = if (n < k) 0 else n - k + 1
    val hs = new Array[Long](nG)
    var i = 0
    val part = new Array[UTF8String](k)
    while (i < nG) {
      var t = 0
      while (t < k) {
        part(t) = if (arr.isNullAt(i + t)) null else arr.getUTF8String(i + t)
        t += 1
      }
      val gram = UTF8String.concatWs(space, part: _*)
      var acc = 0L
      val it = gram.toString.codePoints().iterator()
      while (it.hasNext) acc = (acc * 31L + it.nextInt()) % Mod
      hs(i) = acc
      i += 1
    }
    val fps: Array[Long] =
      if (nG == 0) Array.empty[Long]
      else {
        val m = math.max(nG - w + 1, 1)
        val sel = new Array[Long](m)
        var j = 0
        while (j < m) {
          var mn = Long.MaxValue
          var x = j
          val end = math.min(j + w, nG)
          while (x < end) { if (hs(x) < mn) mn = hs(x); x += 1 }
          sel(j) = mn
          j += 1
        }
        sel.distinct.sorted
      }
    org.apache.spark.sql.catalyst.InternalRow(nG, new GenericArrayData(fps))
  }
  override def prettyName: String = "winnow_fps"
  override protected def withNewChildInternal(newChild: Expression): WinnowFpsExpr =
    copy(child = newChild)
}
