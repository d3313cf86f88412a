package graft.operators

import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** PII-style redaction behind [[TextAnalysis.redact]]: the output of
  * the chain
  * {{{
  * regexp_replace(regexp_replace(regexp_replace(text,
  *   UrlRe, "<URL>"), EmailRe, "<EMAIL>"), LongDigitsRe, "<NUM>")
  * }}}
  * (patterns in [[TextAnalysis]]) computed by three linear passes over
  * the UTF-8 bytes instead of three `java.util.regex` scans, the email
  * one of which backtracks over every word.
  *
  * Why bytes suffice: every class in the three patterns is ASCII or the
  * negation of ASCII whitespace, so a byte >= 0x80 is never inside a
  * positive class and always inside `[^ \t\n]`. Each pass reproduces
  * the regex's leftmost-first match:
  *  - URL: `http`, optional `s`, `://`, then the greedy non-whitespace
  *    run (at least one byte);
  *  - email: the local-part class excludes `@`, so a match starts at the
  *    start of a local-part run and that run must end exactly at `@`;
  *    the domain is the rightmost `.` inside the `[A-Za-z0-9.-]` run
  *    with at least one domain byte before it and two letters after it
  *    (Java's backtracking order), the TLD the greedy letter run after
  *    that `.`. A run without a match has no matching start inside it,
  *    so the scan resumes at its end;
  *  - digits: a maximal run of 7 or more.
  *
  * A pass allocates only when it replaces something; text without PII
  * comes back as the input value. Null in → null out. `RedactPiiSpec`
  * pins the kernel to the regex chain on both eval paths. */
case class RedactPii(child: Expression)
    extends UnaryExpression
    with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = StringType

  override def nullSafeEval(v: Any): Any =
    RedactPii.redact(v.asInstanceOf[UTF8String])

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val scanner = RedactPii.getClass.getName.stripSuffix("$")
    defineCodeGen(ctx, ev, c => s"$scanner.redact($c)")
  }

  override def prettyName: String = "redact_pii"

  override protected def withNewChildInternal(
      newChild: Expression): RedactPii = copy(child = newChild)
}

object RedactPii {

  def redact(s: UTF8String): UTF8String =
    Digits(Emails(Urls(s)))

  // byte classes; bytes >= 0x80 (negative) belong to none of them
  private final val Local = 1 // [A-Za-z0-9._%+-]
  private final val Domain = 2 // [A-Za-z0-9.-]
  private final val Alpha = 4 // [A-Za-z]
  private final val Digit = 8 // [0-9]
  private final val Space = 16 // [ \t\n]

  private val Classes: Array[Byte] = {
    val t = new Array[Byte](128)
    def mark(cs: Iterable[Char], bit: Int): Unit =
      cs.foreach(c => t(c) = (t(c) | bit).toByte)
    val alnum = ('A' to 'Z') ++ ('a' to 'z') ++ ('0' to '9')
    mark(alnum ++ "._%+-", Local)
    mark(alnum ++ ".-", Domain)
    mark(('A' to 'Z') ++ ('a' to 'z'), Alpha)
    mark('0' to '9', Digit)
    mark(" \t\n", Space)
    t
  }

  @inline private def is(b: Byte, cls: Int): Boolean =
    b >= 0 && (Classes(b) & cls) != 0

  /** One replace-all pass: `find` returns the leftmost match at or
    * after `from` packed as `start << 32 | end`, or -1. */
  private abstract class Pass(token: String) {
    private val tokenBytes = UTF8String.fromString(token)

    def find(s: UTF8String, from: Int, n: Int): Long

    final def apply(s: UTF8String): UTF8String = {
      val n = s.numBytes
      var m = find(s, 0, n)
      if (m < 0) return s
      val out = new Out(n)
      var copied = 0
      while (m >= 0) {
        val end = m.toInt
        out.append(s, copied, (m >>> 32).toInt)
        out.append(tokenBytes, 0, tokenBytes.numBytes)
        copied = end
        m = find(s, end, n)
      }
      out.append(s, copied, n)
      out.result
    }
  }

  private def pack(start: Int, end: Int): Long =
    (start.toLong << 32) | end

  /** `https?://[^ \t\n]+` */
  private object Urls extends Pass("<URL>") {
    def find(s: UTF8String, from: Int, n: Int): Long = {
      var i = from
      while (i + 8 <= n) { // "http://" plus one byte
        if (s.getByte(i) == 'h' && s.getByte(i + 1) == 't' &&
            s.getByte(i + 2) == 't' && s.getByte(i + 3) == 'p') {
          // a failed "https://" cannot fall back to "http://": the byte
          // after "http" is then 's', not ':'
          val j = if (s.getByte(i + 4) == 's') i + 5 else i + 4
          if (j + 3 < n && s.getByte(j) == ':' &&
              s.getByte(j + 1) == '/' && s.getByte(j + 2) == '/' &&
              !is(s.getByte(j + 3), Space)) {
            var e = j + 4
            while (e < n && !is(s.getByte(e), Space)) e += 1
            return pack(i, e)
          }
        }
        i += 1
      }
      -1L
    }
  }

  /** `[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}` */
  private object Emails extends Pass("<EMAIL>") {
    def find(s: UTF8String, from: Int, n: Int): Long = {
      var i = from
      while (i < n) {
        if (!is(s.getByte(i), Local)) i += 1
        else {
          var r = i + 1
          while (r < n && is(s.getByte(r), Local)) r += 1
          if (r < n && s.getByte(r) == '@') {
            val e = domainEnd(s, r + 1, n)
            if (e >= 0) return pack(i, e)
          }
          i = r
        }
      }
      -1L
    }

    /** End of `[A-Za-z0-9.-]+\.[A-Za-z]{2,}` starting at `a`, or -1. */
    private def domainEnd(s: UTF8String, a: Int, n: Int): Int = {
      var q = a
      while (q < n && is(s.getByte(q), Domain)) q += 1
      // letters are domain bytes, so the dot's two letters lie in the run
      var d = q - 3
      while (d > a) {
        if (s.getByte(d) == '.' && is(s.getByte(d + 1), Alpha) &&
            is(s.getByte(d + 2), Alpha)) {
          var e = d + 3
          while (e < q && is(s.getByte(e), Alpha)) e += 1
          return e
        }
        d -= 1
      }
      -1
    }
  }

  /** `[0-9]{7,}` */
  private object Digits extends Pass("<NUM>") {
    def find(s: UTF8String, from: Int, n: Int): Long = {
      var i = from
      while (i < n) {
        if (!is(s.getByte(i), Digit)) i += 1
        else {
          var r = i + 1
          while (r < n && is(s.getByte(r), Digit)) r += 1
          if (r - i >= 7) return pack(i, r)
          i = r
        }
      }
      -1L
    }
  }

  /** Output bytes of a pass that replaced something. */
  private final class Out(sizeHint: Int) {
    private var buf = new Array[Byte](sizeHint + 16)
    private var len = 0

    def append(s: UTF8String, from: Int, to: Int): Unit = {
      val k = to - from
      if (len + k > buf.length)
        buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, len + k))
      Platform.copyMemory(s.getBaseObject, s.getBaseOffset + from,
        buf, Platform.BYTE_ARRAY_OFFSET + len, k)
      len += k
    }

    def result: UTF8String = UTF8String.fromBytes(buf, 0, len)
  }
}
