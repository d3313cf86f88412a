package graft.operators

import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The text normalizer of the dedup family (shingles, MinHash, SimHash,
  * shingle Jaccard, BPE): one scan over the UTF-8 bytes.
  *
  * The result is the text lowercased, with every run of characters outside
  * `[a-z0-9]` collapsed to one space and the ends trimmed — exactly what
  * `Character.toLowerCase` per UTF-16 char of the decoded `String` gives:
  *  - ASCII `A-Z` is lowercased, `[a-z0-9]` bytes are kept;
  *  - the sequences `C4 B0` (U+0130) and `E2 84 AA` (U+212A, Kelvin)
  *    emit `i` and `k`, the only non-ASCII chars whose lowercase lands in
  *    `[a-z0-9]`. No other byte of a valid or malformed sequence can start
  *    either sequence, and a malformed sequence never swallows a lead
  *    byte, so matching them byte-wise is exact;
  *  - every other byte separates tokens.
  *
  * The normalized text is ASCII with single spaces between tokens, so a
  * word n-gram shingle is one contiguous slice of one buffer and FNV-1a
  * over its bytes equals [[SimHash64.fnv1a64]] over the same `String`.
  * `ShingleScanSpec` pins this to the `String` reference. */
object TextNorm {

  /** Normalized text: `bytes(0 until len)`, token `t` starting at
    * `starts(t)` for `t < tokens`. */
  final class Norm(
      val bytes: Array[Byte], val len: Int,
      starts: Array[Int], val tokens: Int) {

    def tokenStart(t: Int): Int = starts(t)
    def tokenEnd(t: Int): Int = if (t + 1 < tokens) starts(t + 1) - 1 else len

    /** Word n-gram shingles; a text of fewer than `n` tokens has one
      * whole-text shingle (the empty slice when it has none). */
    def shingleCount(n: Int): Int = if (tokens < n) 1 else tokens - n + 1
    def shingleStart(n: Int, i: Int): Int = if (tokens < n) 0 else starts(i)
    def shingleEnd(n: Int, i: Int): Int =
      if (tokens < n) len else tokenEnd(i + n - 1)
  }

  /** Normalizes `s`; null reads as the empty text. */
  def normalize(s: UTF8String): Norm = {
    val n = if (s == null) 0 else s.numBytes
    // every output byte consumes at least one input byte, and every token
    // but the first needs a separator byte before it
    val out = new Array[Byte](n)
    val starts = new Array[Int]((n + 1) / 2)
    val base = if (s == null) null else s.getBaseObject
    val off = if (s == null) 0L else s.getBaseOffset
    @inline def at(i: Int): Byte = Platform.getByte(base, off + i)
    var len = 0
    var tokens = 0
    var inToken = false
    var i = 0
    while (i < n) {
      val b = at(i)
      var c = -1
      var step = 1
      if ((b >= 'a' && b <= 'z') || (b >= '0' && b <= '9')) c = b
      else if (b >= 'A' && b <= 'Z') c = b + ('a' - 'A')
      else if (b == 0xC4.toByte && i + 1 < n && at(i + 1) == 0xB0.toByte) {
        c = 'i'; step = 2
      } else if (b == 0xE2.toByte && i + 2 < n && at(i + 1) == 0x84.toByte &&
          at(i + 2) == 0xAA.toByte) {
        c = 'k'; step = 3
      }
      if (c >= 0) {
        if (!inToken) {
          if (tokens > 0) { out(len) = ' '; len += 1 }
          starts(tokens) = len
          tokens += 1
          inToken = true
        }
        out(len) = c.toByte
        len += 1
      } else inToken = false
      i += step
    }
    new Norm(out, len, starts, tokens)
  }

  /** FNV-1a 64 over `bytes(from until until)`; equals
    * [[SimHash64.fnv1a64]] of the same ASCII text. */
  def fnv1a64(bytes: Array[Byte], from: Int, until: Int): Long = {
    var h = 0xcbf29ce484222325L
    var i = from
    while (i < until) {
      h ^= (bytes(i) & 0xFF).toLong
      h *= 0x100000001b3L
      i += 1
    }
    h
  }
}

/** text → array of word n-gram shingles in ONE pass: the text is
  * normalized once ([[TextNorm]]) and every shingle is a slice of the
  * normalized buffer, with no per-shingle copy. Null reads as "". */
case class Shingles(child: Expression, n: Int) extends UnaryExpression
    with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    Shingles.shingles(child.eval(input).asInstanceOf[UTF8String], n)

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val kernel = Shingles.getClass.getName.stripSuffix("$")
    ev.copy(code = code"""
      ${c.code}
      ${classOf[GenericArrayData].getName} ${ev.value} =
        $kernel.shingles(${c.isNull} ? null : ${c.value}, $n);""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Shingles =
    copy(child = newChild)

  override def prettyName: String = "shingles"
}

object Shingles {
  def shingles(s: UTF8String, n: Int): GenericArrayData = {
    val norm = TextNorm.normalize(s)
    val out = new Array[Any](norm.shingleCount(n))
    var i = 0
    while (i < out.length) {
      val from = norm.shingleStart(n, i)
      out(i) = UTF8String.fromBytes(norm.bytes, from, norm.shingleEnd(n, i) - from)
      i += 1
    }
    new GenericArrayData(out)
  }
}
