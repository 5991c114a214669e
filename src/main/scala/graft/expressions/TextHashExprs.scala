package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Imperative kernels for the text-sketch expressions below. Kept as a
  * plain object so codegen can call the static forwarders — the generated
  * Java is one method call, never a giant expression tree for Janino to
  * chew on (the declarative HOF formulations of these spent 3-7 s of
  * interpreted evaluation per 5k docs; these run the same math in one
  * fused pass).
  *
  * Hash compatibility: every hash matches the Spark built-in `xxhash64`
  * bit-for-bit (XXH64 with seed 42; shingles hash the exact bytes of the
  * space-joined tokens), so results are interchangeable with the
  * declarative formulations in [[graft.functions.TextAnalysis]].
  */
object TextHashKernels {

  private val Seed = 42L

  /** Modulus of the PORTABLE hash family: the classic prime just below
    * 2^30. Every portable hash value sits in [0, 2^30), so products with
    * multipliers < ~2^34 stay inside a signed 64-bit long — which is the
    * whole point: the family is expressible in ANSI-ish SQL (DuckDB) with
    * plain BIGINT arithmetic, no overflow, no unsigned tricks. The
    * xxhash64 family stays the default (better mixing, one pass over raw
    * bytes); the portable family exists so the sketch queries can carry a
    * cross-engine oracle. Precondition shared with the SQL mirror: tokens
    * are ASCII (TextAnalysis.tokens emits [a-z0-9]+ only), so iterating
    * bytes here equals iterating `ord(char)` there. */
  val PortableMod = 1000000007L

  /** Polynomial rolling hash of `len` bytes of `buf` in base 31 mod
    * [[PortableMod]] — SQL mirror:
    * list_reduce(list_prepend(0, codes), (acc, x) -> (acc*31 + x) % 1000000007).
    *
    * The mod is applied LAZILY every 3rd byte (and once at the end):
    * residues are unchanged by when the reduction happens, and the 64-bit
    * intermediate stays bounded — h < P·base³ + byte terms < 2^52 for
    * base ≤ 131 — while the division (the expensive op here, ~20 cycles
    * vs ~3 for the multiply-add) runs 3x less often. */
  private def polyHash(buf: Array[Byte], len: Int, base: Long): Long = {
    var h = 0L
    var i = 0
    while (i < len) {
      h = h * base + (buf(i) & 0xffL)
      if (i % 3 == 2) h %= PortableMod
      i += 1
    }
    h % PortableMod
  }

  private def polyHashUTF8(s: UTF8String, base: Long): Long = {
    val b = s.getBytes
    polyHash(b, b.length, base)
  }

  /** Public base-31 polynomial string hash for non-kernel consumers of
    * the portable family (KmvSketch's portable mode). */
  def portableStringHash(s: UTF8String): Long = polyHashUTF8(s, 31L)

  /** Sort + in-place unique (set semantics for fingerprint arrays). */
  private def sortedDistinct(hashes: Array[Long]): ArrayData = {
    java.util.Arrays.sort(hashes)
    var out = 0
    var i = 1
    while (i < hashes.length) {
      if (hashes(i) != hashes(out)) { out += 1; hashes(out) = hashes(i) }
      i += 1
    }
    ArrayData.toArrayData(java.util.Arrays.copyOf(hashes, out + 1))
  }

  /** Distinct xxhash64 fingerprints of the k-shingles of `tokens`
    * (space-joined, matching xxhash64(concat_ws(" ", slice(tokens,i,k)))).
    * n < k degrades to ONE shingle = all tokens joined (matching
    * TextAnalysis.shingles). Output sorted ascending (set semantics — no
    * consumer is order-sensitive). */
  def shingleHashes(tokens: ArrayData, k: Int): ArrayData =
    sortedDistinct(positionalShingleHashes(tokens, k))

  /** [[shingleHashes]] in the portable family (base-31 polynomial over
    * the shingle bytes mod [[PortableMod]]). */
  def portableShingleHashes(tokens: ArrayData, k: Int): ArrayData =
    sortedDistinct(portablePositionalShingleHashes(tokens, k))

  /** MinHash signature over shingle hashes: slot j = min over shingles of
    * hashInt(j, hashLong(h, 42)) — bit-identical to the declarative
    * array_min(transform(sh, h => xxhash64(h, lit(j)))). */
  def minhashSignature(shingleHashes: ArrayData, numHashes: Int): ArrayData = {
    val n = shingleHashes.numElements()
    val sig = new Array[Long](numHashes)
    java.util.Arrays.fill(sig, Long.MaxValue)
    var i = 0
    while (i < n) {
      val base = XXH64.hashLong(shingleHashes.getLong(i), Seed)
      var j = 0
      while (j < numHashes) {
        val g = XXH64.hashInt(j, base)
        if (g < sig(j)) sig(j) = g
        j += 1
      }
      i += 1
    }
    ArrayData.toArrayData(sig)
  }

  /** MinHash signature in the portable family: slot j = min over shingle
    * hashes h of ((48271 + 2j)·h + j) mod [[PortableMod]] — an
    * odd-multiplier affine universal hash whose products stay < 2^47
    * (SQL mirror: ((48271 + 2*j) * h + j) % 1000000007). */
  def portableMinhashSignature(shingleHashes: ArrayData, numHashes: Int): ArrayData = {
    val n = shingleHashes.numElements()
    val sig = new Array[Long](numHashes)
    java.util.Arrays.fill(sig, Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = shingleHashes.getLong(i)
      var j = 0
      while (j < numHashes) {
        val g = ((48271L + 2L * j) * h + j) % PortableMod
        if (g < sig(j)) sig(j) = g
        j += 1
      }
      i += 1
    }
    ArrayData.toArrayData(sig)
  }

  /** 64-bit SimHash as four 16-bit chunks (same layout as the declarative
    * Dedup.simhashChunksDeclarative: vote bit i = bit i of hashString(token); chunk c
    * folds votes[16c..16c+15] MSB-first). */
  def simhashChunks(tokens: ArrayData): ArrayData =
    simhashChunksImpl(tokens, portable = false)

  /** [[simhashChunks]] in the portable family. The 64-bit token hash is
    * two independent 30-bit polynomial hashes packed as h31 | (h131 << 32)
    * — bits 30-31 and 62-63 are structurally zero (every doc votes the
    * same way there), costing 4 of 64 sketch bits of discrimination in
    * exchange for SQL expressibility. */
  def portableSimhashChunks(tokens: ArrayData): ArrayData =
    simhashChunksImpl(tokens, portable = true)

  private def portableTokenHash64(s: UTF8String): Long =
    polyHashUTF8(s, 31L) | (polyHashUTF8(s, 131L) << 32)

  private def simhashChunksImpl(tokens: ArrayData, portable: Boolean): ArrayData = {
    val n = tokens.numElements()
    val votes = new Array[Int](64)
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val t = tokens.getUTF8String(i)
        val h = if (portable) portableTokenHash64(t) else hashString(t)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    val chunks = new Array[Long](4)
    var c = 0
    while (c < 4) {
      var acc = 0L
      var b = 0
      while (b < 16) {
        acc = acc * 2 + (if (votes(c * 16 + b) > 0) 1L else 0L)
        b += 1
      }
      chunks(c) = acc
      c += 1
    }
    ArrayData.toArrayData(chunks)
  }

  /** xxhash64 of a UTF8String, identical to the Spark built-in. */
  def hashString(s: UTF8String): Long = XXH64.hashUTF8String(s, Seed)

  /** Winnowing document fingerprints (Schleimer et al., SIGMOD'03): over
    * the POSITIONAL k-shingle hash sequence, slide a window of `w` hashes
    * and record each window's minimum (ties → rightmost), then distinct.
    * Guarantees any match of length ≥ w+k-1 tokens shares a fingerprint,
    * with ~2/(w+1) of the shingles kept — the scalable subset for
    * fingerprint-join dedup. Unsigned comparison so fingerprints follow
    * the same order DuckDB/Spark would sort the raw hashes. */
  def winnowFingerprints(tokens: ArrayData, k: Int, w: Int): ArrayData =
    winnowFromPositional(positionalShingleHashes(tokens, k), w)

  /** [[winnowFingerprints]] in the portable family. The window-minimum
    * SET is tie-rule-independent (every window's min VALUE is recorded
    * regardless of which position is picked), so the SQL mirror is just
    * distinct-of-window-minima. Portable values are non-negative, so the
    * unsigned comparison below coincides with signed/SQL order. */
  def portableWinnowFingerprints(tokens: ArrayData, k: Int, w: Int): ArrayData =
    winnowFromPositional(portablePositionalShingleHashes(tokens, k), w)

  private def winnowFromPositional(hs: Array[Long], w: Int): ArrayData = {
    if (hs.length <= w) {
      var m = hs(0)
      var i = 1
      while (i < hs.length) {
        if (hs(i) + Long.MinValue <= m + Long.MinValue) m = hs(i)
        i += 1
      }
      return ArrayData.toArrayData(Array(m))
    }
    val picked = new Array[Long](hs.length - w + 1)
    var n = 0
    var prevPos = -1
    var s = 0
    while (s + w <= hs.length) {
      // rightmost minimum in hs[s, s+w)
      var pos = s
      var i = s + 1
      while (i < s + w) {
        if (hs(i) + Long.MinValue <= hs(pos) + Long.MinValue) pos = i
        i += 1
      }
      if (pos != prevPos) { picked(n) = hs(pos); n = n + 1; prevPos = pos }
      s += 1
    }
    val out = java.util.Arrays.copyOf(picked, n)
    java.util.Arrays.sort(out)
    var u = 0
    var i = 1
    while (i < out.length) {
      if (out(i) != out(u)) { u += 1; out(u) = out(i) }
      i += 1
    }
    ArrayData.toArrayData(java.util.Arrays.copyOf(out, u + 1))
  }

  /** Positional (unsorted, duplicate-preserving) k-shingle hashes — the
    * winnowing input. Same bytes/seed as [[shingleHashes]]. */
  def positionalShingleHashes(tokens: ArrayData, k: Int): Array[Long] =
    positionalShingleHashesImpl(tokens, k, portable = false)

  def portablePositionalShingleHashes(tokens: ArrayData, k: Int): Array[Long] =
    positionalShingleHashesImpl(tokens, k, portable = true)

  /** [[positionalShingleHashes]] boxed for expression consumers: slot i
    * hashes the window starting at token i — order and duplicates
    * preserved (the repeated-span detector's input). */
  def positionalShingleHashesData(tokens: ArrayData, k: Int): ArrayData =
    ArrayData.toArrayData(positionalShingleHashes(tokens, k))

  def portablePositionalShingleHashesData(tokens: ArrayData, k: Int): ArrayData =
    ArrayData.toArrayData(portablePositionalShingleHashes(tokens, k))

  private def positionalShingleHashesImpl(
      tokens: ArrayData, k: Int, portable: Boolean): Array[Long] = {
    val n = tokens.numElements()
    if (n < k) {
      val parts = new Array[UTF8String](n)
      var i = 0
      while (i < n) {
        parts(i) = if (tokens.isNullAt(i)) UTF8String.EMPTY_UTF8
          else tokens.getUTF8String(i)
        i += 1
      }
      val joined = UTF8String.concatWs(UTF8String.fromString(" "), parts: _*)
      return Array(if (portable) polyHashUTF8(joined, 31L) else hashString(joined))
    }
    val hashes = new Array[Long](n - k + 1)
    var buf = new Array[Byte](256)
    var s = 0
    while (s <= n - k) {
      var len = 0
      var j = 0
      while (j < k) {
        val t = if (tokens.isNullAt(s + j)) UTF8String.EMPTY_UTF8
          else tokens.getUTF8String(s + j)
        val tb = t.numBytes()
        if (len + tb + 1 > buf.length) {
          val next = new Array[Byte](math.max(buf.length * 2, len + tb + 1))
          System.arraycopy(buf, 0, next, 0, len)
          buf = next
        }
        if (j > 0) { buf(len) = ' '; len += 1 }
        t.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + len)
        len += tb
        j += 1
      }
      hashes(s) = if (portable) polyHash(buf, len, 31L)
        else XXH64.hashUnsafeBytes(buf, Platform.BYTE_ARRAY_OFFSET, len, Seed)
      s += 1
    }
    hashes
  }
}

/** Base for the one-ArrayData-in / ArrayData-out kernel expressions. */
abstract class TextHashExpr extends UnaryExpression {
  protected def elemType: DataType
  /** Java call expression for codegen, e.g. s"...kernel($c)". */
  protected def kernelCall(c: String): String

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(t, _) if t == elemType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<${elemType.simpleString}>, got ${other.simpleString}")
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = ${kernelCall(c)};")
}

/** Native shingle fingerprints: array<string> tokens → sorted distinct
  * array<long> of xxhash64(k-shingle). */
case class ShingleHashes64(child: Expression, k: Int, portable: Boolean = false)
    extends TextHashExpr {
  require(k > 0, s"k=$k must be positive")
  override protected def elemType: DataType = StringType
  override def prettyName: String = "graft_shingle_hashes"
  override def nullSafeEval(in: Any): Any =
    if (portable) TextHashKernels.portableShingleHashes(in.asInstanceOf[ArrayData], k)
    else TextHashKernels.shingleHashes(in.asInstanceOf[ArrayData], k)
  override protected def kernelCall(c: String): String =
    if (portable) s"graft.expressions.TextHashKernels.portableShingleHashes($c, $k)"
    else s"graft.expressions.TextHashKernels.shingleHashes($c, $k)"
  override protected def withNewChildInternal(newChild: Expression): ShingleHashes64 =
    copy(child = newChild)
}

/** Native MinHash signature: array<long> shingle hashes → array<long>
  * of numHashes minima. */
/** Positional k-shingle window hashes: array<string> tokens →
  * array<long> where slot i hashes the k-token window starting at token
  * i — duplicates and order preserved, unlike [[ShingleHashes64]]'s set
  * semantics. */
case class PositionalShingleHashes64(child: Expression, k: Int, portable: Boolean = false)
    extends TextHashExpr {
  require(k > 0, s"k=$k must be positive")
  override protected def elemType: DataType = StringType
  override def prettyName: String = "graft_positional_shingle_hashes"
  override def nullSafeEval(in: Any): Any =
    if (portable) TextHashKernels.portablePositionalShingleHashesData(in.asInstanceOf[ArrayData], k)
    else TextHashKernels.positionalShingleHashesData(in.asInstanceOf[ArrayData], k)
  override protected def kernelCall(c: String): String =
    if (portable) s"graft.expressions.TextHashKernels.portablePositionalShingleHashesData($c, $k)"
    else s"graft.expressions.TextHashKernels.positionalShingleHashesData($c, $k)"
  override protected def withNewChildInternal(newChild: Expression): PositionalShingleHashes64 =
    copy(child = newChild)
}

case class MinHashSignature(child: Expression, numHashes: Int, portable: Boolean = false)
    extends TextHashExpr {
  require(numHashes > 0, s"numHashes=$numHashes must be positive")
  override protected def elemType: DataType = LongType
  override def prettyName: String = "graft_minhash_sig"
  override def nullSafeEval(in: Any): Any =
    if (portable) TextHashKernels.portableMinhashSignature(in.asInstanceOf[ArrayData], numHashes)
    else TextHashKernels.minhashSignature(in.asInstanceOf[ArrayData], numHashes)
  override protected def kernelCall(c: String): String =
    if (portable) s"graft.expressions.TextHashKernels.portableMinhashSignature($c, $numHashes)"
    else s"graft.expressions.TextHashKernels.minhashSignature($c, $numHashes)"
  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}

/** Winnowing fingerprints: array<string> tokens → sorted distinct
  * array<long> of window-minimum shingle hashes. */
case class WinnowFingerprints(child: Expression, k: Int, w: Int, portable: Boolean = false)
    extends TextHashExpr {
  require(k > 0 && w > 0, s"k=$k w=$w must be positive")
  override protected def elemType: DataType = StringType
  override def prettyName: String = "graft_winnow"
  override def nullSafeEval(in: Any): Any =
    if (portable) TextHashKernels.portableWinnowFingerprints(in.asInstanceOf[ArrayData], k, w)
    else TextHashKernels.winnowFingerprints(in.asInstanceOf[ArrayData], k, w)
  override protected def kernelCall(c: String): String =
    if (portable) s"graft.expressions.TextHashKernels.portableWinnowFingerprints($c, $k, $w)"
    else s"graft.expressions.TextHashKernels.winnowFingerprints($c, $k, $w)"
  override protected def withNewChildInternal(newChild: Expression): WinnowFingerprints =
    copy(child = newChild)
}

/** Native SimHash: array<string> tokens → array<long> of 4 16-bit chunks. */
case class SimHashChunks(child: Expression, portable: Boolean = false) extends TextHashExpr {
  override protected def elemType: DataType = StringType
  override def prettyName: String = "graft_simhash"
  override def nullSafeEval(in: Any): Any =
    if (portable) TextHashKernels.portableSimhashChunks(in.asInstanceOf[ArrayData])
    else TextHashKernels.simhashChunks(in.asInstanceOf[ArrayData])
  override protected def kernelCall(c: String): String =
    if (portable) s"graft.expressions.TextHashKernels.portableSimhashChunks($c)"
    else s"graft.expressions.TextHashKernels.simhashChunks($c)"
  override protected def withNewChildInternal(newChild: Expression): SimHashChunks =
    copy(child = newChild)
}

object TextHashExprs {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.graftshim.ColumnShim.{column, expression}

  def shingleHashes64(tokens: Column, k: Int, portable: Boolean = false): Column =
    column(ShingleHashes64(expression(tokens), k, portable))
  def positionalShingleHashes64(tokens: Column, k: Int, portable: Boolean = false): Column =
    column(PositionalShingleHashes64(expression(tokens), k, portable))
  def minhashSignature(shingleHashes: Column, numHashes: Int,
      portable: Boolean = false): Column =
    column(MinHashSignature(expression(shingleHashes), numHashes, portable))
  def winnowFingerprints(tokens: Column, k: Int, w: Int,
      portable: Boolean = false): Column =
    column(WinnowFingerprints(expression(tokens), k, w, portable))
  def simhashChunks(tokens: Column, portable: Boolean = false): Column =
    column(SimHashChunks(expression(tokens), portable))
}
