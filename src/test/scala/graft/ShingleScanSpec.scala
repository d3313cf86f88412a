package graft

import graft.operators.{MinHashSig, Shingles, ShingleJaccard, SimHash64}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, InterpretedUnsafeProjection, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** Differential spec for the byte-level text normalizer and the kernels
  * built on it (`shingles`, `minhash_sig`, `shingle_jaccard`,
  * `simhash64`): their output must equal the `String` implementation
  * they replaced — kept below as the reference — on seeded random byte
  * strings that mix ASCII classes, every whitespace char, the non-ASCII
  * chars whose lowercase is (U+0130, U+212A) or is not (ı, ß, é, 中, 😀)
  * alphanumeric ASCII, and malformed UTF-8, under both the codegen and
  * the interpreted evaluation path. */
class ShingleScanSpec extends SparkSpec {

  // ---- reference: the String kernels -------------------------------------

  private def tokenize(s: String): Array[String] = {
    if (s == null) return Array.empty
    val sb = new java.lang.StringBuilder(s.length)
    var prevSpace = true
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      val lc = Character.toLowerCase(c)
      if ((lc >= 'a' && lc <= 'z') || (lc >= '0' && lc <= '9')) {
        sb.append(lc); prevSpace = false
      } else if (!prevSpace) {
        sb.append(' '); prevSpace = true
      }
      i += 1
    }
    val out = sb.toString.trim
    if (out.isEmpty) Array.empty else out.split(' ')
  }

  private def shingles(s: String, n: Int): Array[String] = {
    val toks = tokenize(if (s == null) "" else s)
    if (toks.length < n) Array(toks.mkString(" "))
    else toks.sliding(n).map(_.mkString(" ")).toArray
  }

  private def minhash(s: String, ngram: Int, numHashes: Int): Seq[Long] = {
    val mins = Array.fill(numHashes)(Long.MaxValue)
    for (sh <- shingles(s, ngram)) {
      val base = SimHash64.fnv1a64(sh)
      for (h <- 0 until numHashes) {
        val m = MinHashSig.mix64(base + 0x9E3779B97F4A7C15L * (h + 1))
        if (m < mins(h)) mins(h) = m
      }
    }
    mins.toSeq
  }

  private def simhash(s: String): Any =
    if (s == null) null
    else {
      val acc = new Array[Int](64)
      for (t <- tokenize(s)) {
        val h = SimHash64.fnv1a64(t)
        for (j <- 0 until 64) acc(j) += (if (((h >>> j) & 1L) == 1L) 1 else -1)
      }
      (0 until 64).foldLeft(0L)((o, j) => if (acc(j) > 0) o | (1L << j) else o)
    }

  /** `size(array_intersect) / size(array_union)` as doubles. */
  private def jaccard(a: String, b: String, n: Int): Double = {
    val sa = shingles(a, n).toSet
    val sb = shingles(b, n).toSet
    val union = (sa ++ sb).size
    if (union == 0) 0.0 else (sa & sb).size.toDouble / union.toDouble
  }

  // ---- kernels under one factory mode ------------------------------------

  private val textA = BoundReference(0, StringType, nullable = true)
  private val textB = BoundReference(1, StringType, nullable = true)
  private val kernels = Seq(
    Shingles(textA, 1), Shingles(textA, 3), Shingles(textA, 5),
    MinHashSig(textA, 3, 32), ShingleJaccard(textA, textB, 3),
    SimHash64(textA))

  private type Out = (Seq[String], Seq[String], Seq[String], Seq[Long], Double, Any)

  private def reference(a: UTF8String, b: UTF8String): Out = {
    val (sa, sb) = (if (a == null) null else a.toString,
      if (b == null) null else b.toString)
    (shingles(sa, 1).toSeq, shingles(sa, 3).toSeq, shingles(sa, 5).toSeq,
      minhash(sa, 3, 32), jaccard(sa, sb, 3), simhash(sa))
  }

  private def evalKernels(mode: String, pairs: Seq[(UTF8String, UTF8String)])
      : Seq[Out] = {
    val conf = new SQLConf
    conf.setConfString(SQLConf.CODEGEN_FACTORY_MODE.key, mode)
    val proj = SQLConf.withExistingConf(conf)(UnsafeProjection.create(kernels))
    assert(proj.isInstanceOf[InterpretedUnsafeProjection] ==
      (mode == "NO_CODEGEN"), s"$mode built ${proj.getClass}")
    pairs.map { case (a, b) =>
      val r = proj(InternalRow(a, b))
      def strs(i: Int) = r.getArray(i).toSeq[UTF8String](StringType).map(_.toString)
      (strs(0), strs(1), strs(2), r.getArray(3).toLongArray.toSeq,
        r.getDouble(4), if (r.isNullAt(5)) null else r.getLong(5))
    }
  }

  // ---- inputs -------------------------------------------------------------

  private def b(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
  private val pieces: IndexedSeq[Array[Byte]] =
    (('a' to 'z') ++ ('A' to 'Z') ++ ('0' to '9') ++
      ".,;:!?-_'\"()/@#" ++ " \t\n\u000B\f\r").map(c => Array(c.toByte)) ++
    Seq("\u0130", "\u212A", "ı", "ß", "é", "中", "😀").map(_.getBytes("UTF-8")) ++
    Seq(b(0xC4), b(0xB0), b(0xE2, 0x84), b(0xFF), b(0xED, 0xA0, 0x80),
      b(0xC0, 0x80), b(0xF0, 0x9F))

  private def utf8(ps: Seq[Array[Byte]]): UTF8String =
    UTF8String.fromBytes(ps.flatten.toArray)

  /** A random text and a near-copy of it (about a tenth of its pieces
    * redrawn), so Jaccard values span (0, 1), not just {0, 1}. */
  private def pairs(count: Int, seed: Long): Seq[(UTF8String, UTF8String)] = {
    val rnd = new scala.util.Random(seed)
    // letters get extra weight so texts hold several multi-byte tokens
    def piece() =
      if (rnd.nextInt(2) == 0) pieces(rnd.nextInt(pieces.size))
      else pieces(rnd.nextInt(26))
    Seq.fill(count) {
      val a = Seq.fill(rnd.nextInt(48))(piece())
      val b = a.map(p => if (rnd.nextInt(10) == 0) piece() else p)
      (utf8(a), utf8(b))
    }
  }

  private val fixed: Seq[(UTF8String, UTF8String)] = {
    val named = Seq("", "\u0130stanbul \u212Aelvin", "a b c d e f", "A  b\u000Bc",
      "ıß é中😀", "x", "  ").map(UTF8String.fromString)
    val malformed = Seq(b(0xE2, 0xC4, 0xB0, 0x61), b(0xF0, 0xE2, 0x84, 0xAA),
      b(0xC4), b(0xE2, 0x84), b(0x41, 0xC4, 0x42, 0xB0)).map(UTF8String.fromBytes)
    val all = named ++ malformed
    (all.map(s => (s, s)) ++ all.zip(all.reverse) ++
      Seq((null, null), (null, named(2)), (named(2), null), (named(0), null)))
  }

  private val Modes = Seq("CODEGEN_ONLY", "NO_CODEGEN")

  private def mismatches(mode: String, in: Seq[(UTF8String, UTF8String)]) =
    in.zip(evalKernels(mode, in)).collect {
      case ((a, b), got) if got != reference(a, b) =>
        s"[$mode] ($a, $b): $got want ${reference(a, b)}"
    }

  test("the dedup kernels have generated code") {
    kernels.take(5).foreach(k => assert(!k.isInstanceOf[CodegenFallback], k))
  }

  test("named and malformed inputs and nulls match the String kernels") {
    val want = fixed.map { case (a, b) => reference(a, b) }
    // the two exceptional non-ASCII chars and the separators
    assert(want(1)._1 == Seq("istanbul", "kelvin"))
    assert(want(3)._1 == Seq("a", "b", "c"))
    assert(want.last._1 == Seq("") && want.last._5 == 1.0)
    for (mode <- Modes) {
      val bad = mismatches(mode, fixed)
      assert(bad.isEmpty, bad.take(5).mkString("; "))
    }
  }

  test("200k random strings match the String kernels on both eval paths") {
    val in = pairs(200000, 20261018L)
    val partial = in.count { case (a, b) =>
      val j = reference(a, b)._5
      j > 0 && j < 1
    }
    assert(partial > in.size / 20, partial)
    for (mode <- Modes) {
      val bad = mismatches(mode, in)
      assert(bad.isEmpty, s"${bad.size} mismatches, first: " +
        bad.take(5).mkString("; "))
    }
  }
}
