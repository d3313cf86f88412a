package graft

import graft.operators.{RedactPii, TextAnalysis}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, InterpretedUnsafeProjection, Literal, RegExpReplace, UnsafeProjection}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** Differential spec for the [[RedactPii]] kernel: its output must be
  * the `regexp_replace` chain over `TextAnalysis.UrlRe`, `EmailRe` and
  * `LongDigitsRe` — the documented semantics of `TextAnalysis.redact` —
  * on named edge cases and on seeded random strings drawn from the
  * patterns' class boundaries, under both the codegen and the
  * interpreted evaluation path. */
class RedactPiiSpec extends SparkSpec {

  private val input = BoundReference(0, StringType, nullable = true)

  private val reference: Expression =
    new RegExpReplace(
      new RegExpReplace(
        new RegExpReplace(input, Literal(TextAnalysis.UrlRe),
          Literal("<URL>")),
        Literal(TextAnalysis.EmailRe), Literal("<EMAIL>")),
      Literal(TextAnalysis.LongDigitsRe), Literal("<NUM>"))

  private val Modes = Seq("CODEGEN_ONLY", "NO_CODEGEN")

  /** (kernel, reference) outputs per input under one factory mode. */
  private def evalBoth(mode: String, texts: Seq[String])
      : Seq[(String, String)] = {
    val conf = new SQLConf
    conf.setConfString(SQLConf.CODEGEN_FACTORY_MODE.key, mode)
    val proj = SQLConf.withExistingConf(conf) {
      UnsafeProjection.create(Seq(RedactPii(input), reference))
    }
    assert(proj.isInstanceOf[InterpretedUnsafeProjection] ==
      (mode == "NO_CODEGEN"), s"$mode built ${proj.getClass}")
    texts.map { t =>
      val out = proj(InternalRow(UTF8String.fromString(t)))
      def str(i: Int) = if (out.isNullAt(i)) null else out.getUTF8String(i).toString
      (str(0), str(1))
    }
  }

  private def mismatches(mode: String, texts: Seq[String])
      : Seq[(String, String, String)] =
    texts.zip(evalBoth(mode, texts)).collect {
      case (t, (got, want)) if got != want => (t, got, want)
    }

  private val edgeCases: Seq[(String, String)] = Seq(
    "a@b@c.de" -> "a@<EMAIL>",
    "x@y.z" -> "x@y.z", // one-letter TLD
    "see http://u:p@host.com/x now" -> "see <URL> now",
    "http://x@a.com" -> "<URL>",
    "http://x @a.com" -> "<URL> @a.com",
    "http://x a@b.com" -> "<URL> <EMAIL>",
    "bob123456789@x.com" -> "<EMAIL>", // emails before digit runs
    "123456" -> "123456",
    "1234567" -> "<NUM>",
    "call 123456 or 1234567." -> "call 123456 or <NUM>.",
    "" -> "",
    "https://" -> "https://",
    "httpss://x" -> "httpss://x",
    "xhttps://a\tb" -> "x<URL>\tb",
    "a.b+c@foo.co.uk today" -> "<EMAIL> today",
    "a@b.cd1" -> "<EMAIL>1",
    "a@.cc" -> "a@.cc",
    "a@b..cc" -> "<EMAIL>",
    "a@b.c1.de" -> "<EMAIL>",
    "é@x.com aé@x.com" -> "é@x.com aé@x.com",
    "😀http://x😀 y" -> "😀<URL> y",
    "€1234567€ a@b.€cc" -> "€<NUM>€ a@b.€cc")

  test("named edge cases match the regex chain on both eval paths") {
    val texts = edgeCases.map(_._1)
    for (mode <- Modes) {
      val got = evalBoth(mode, texts)
      edgeCases.zip(got).foreach { case ((t, want), (kernel, regex)) =>
        assert(regex == want, s"[$mode] reference on '$t'")
        assert(kernel == want, s"[$mode] kernel on '$t'")
      }
      assert(evalBoth(mode, Seq(null)) == Seq((null, null)), mode)
    }
  }

  test("text without PII comes back as the input value") {
    val s = UTF8String.fromString("plain words, 123456 and a@b.c only")
    assert(RedactPii.redact(s) eq s)
  }

  test("200k random class-boundary strings match the regex chain") {
    val alphabet = Seq("@", ".", "-", "_", "%", "+", "<", ">",
      " ", "\t", "\n", "http://", "https://", "http", "https", "http:",
      "http:/", "https:/", "ht", "://", "s", "com", "é", "€",
      "😀") ++ ('0' to '9').map(_.toString) ++
      "abcdexyzAZ".map(_.toString)
    val rnd = new scala.util.Random(20261017L)
    val texts = Seq.fill(200000) {
      val k = rnd.nextInt(24)
      val b = new StringBuilder
      for (_ <- 0 until k) {
        // digit runs get a boost so the 6/7 boundary is hit often
        if (rnd.nextInt(8) == 0) b.append("1234567".take(4 + rnd.nextInt(4)))
        else b.append(alphabet(rnd.nextInt(alphabet.size)))
      }
      b.toString
    }
    for (mode <- Modes) {
      val bad = mismatches(mode, texts)
      assert(bad.isEmpty, s"[$mode] ${bad.size} mismatches, first: " +
        bad.take(5).map { case (t, g, w) => s"'$t' -> '$g' want '$w'" }
          .mkString("; "))
    }
  }
}
