package graft

import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

import graft.helpers.A1N1
import graft.operators.{Shingles, SimHash64, TextNorm}
import org.apache.spark.unsafe.types.UTF8String
import graft.sources.CsvLine

/** Property-based checks for the pure-Scala kernels (the ones custom
  * Catalyst expressions call per row).
  */
class PropertySpec extends AnyFunSuite {

  /** Runs `f` over `n` samples of `gen` (no scalatest-scalacheck bridge in
    * the offline cache, so sampling is manual). */
  private def forAll[A](gen: Gen[A], n: Int = 300)(f: A => Unit): Unit = {
    var i = 0
    while (i < n) {
      gen.sample.foreach(f)
      i += 1
    }
  }

  private def forAll2[A, B](ga: Gen[A], gb: Gen[B], n: Int)(
      f: (A, B) => Unit): Unit =
    forAll(for { a <- ga; b <- gb } yield (a, b), n)(t => f(t._1, t._2))

  test("num2col / col2num are inverses for all positive column numbers") {
    forAll(Gen.choose(1, 100000)) { n =>
      assert(A1N1.col2num(A1N1.num2col(n)) == n - 1)
    }
  }

  private val fieldGen: Gen[String] =
    Gen.listOf(Gen.oneOf(Gen.alphaNumChar, Gen.oneOf(',', '"', ' ', ';')))
      .map(_.mkString)

  test("CsvLine.split inverts RFC-4180 quoting for any field content") {
    forAll(Gen.listOfN(4, fieldGen)) { fields =>
      val line = fields
        .map(f => "\"" + f.replace("\"", "\"\"") + "\"")
        .mkString(",")
      assert(CsvLine.split(line) == fields)
    }
  }

  private val multilineFieldGen: Gen[String] =
    Gen.listOf(Gen.oneOf(Gen.alphaNumChar,
      Gen.oneOf(',', '"', ' ', ';', '\n')))
      .map(_.mkString)

  test("CsvRecords + CsvLine invert RFC-4180 for fields with newlines") {
    // any table of records (fields may embed \n, quotes, commas) encoded
    // with full quoting and joined by \n round-trips exactly
    forAll(Gen.listOfN(3, Gen.listOfN(3, multilineFieldGen))) { table =>
      val content = table.map(_.map(f =>
        "\"" + f.replace("\"", "\"\"") + "\"").mkString(","))
        .mkString("", "\n", "\n")
      val records = graft.sources.CsvRecords.records(content)
      assert(records.length == table.length)
      assert(records.map(CsvLine.split) == table)
    }
  }

  test("tokenize output is lowercase alphanumeric words only") {
    forAll(Gen.asciiPrintableStr) { s =>
      val norm = TextNorm.normalize(UTF8String.fromString(s))
      val toks = (0 until norm.tokens).map { t =>
        new String(norm.bytes, norm.tokenStart(t),
          norm.tokenEnd(t) - norm.tokenStart(t), "US-ASCII")
      }
      assert(toks.forall(t =>
        t.nonEmpty && t.forall(c => c.isDigit || (c >= 'a' && c <= 'z'))))
    }
  }

  test("shingles cover the token stream contiguously") {
    forAll2(Gen.listOfN(12, Gen.identifier.map(_.take(5))),
      Gen.choose(1, 5), 300) { (words, n) =>
        val toks = words.map(_.toLowerCase.filter(_.isLetterOrDigit))
          .filter(_.nonEmpty).toArray
        val sh = Shingles.shingles(UTF8String.fromString(toks.mkString(" ")), n)
          .array.map(_.toString)
        if (toks.length >= n) {
          assert(sh.length == toks.length - n + 1)
          assert(sh.head == toks.take(n).mkString(" "))
          assert(sh.last == toks.takeRight(n).mkString(" "))
        } else {
          assert(sh.toSeq == Seq(toks.mkString(" ")))
        }
    }
  }

  test("fnv1a64 distributes: distinct short strings rarely collide") {
    val seen = scala.collection.mutable.HashMap.empty[Long, String]
    var collisions = 0
    (0 until 20000).foreach { i =>
      val s = s"token-$i"
      val h = SimHash64.fnv1a64(s)
      if (seen.contains(h) && seen(h) != s) collisions += 1
      seen(h) = s
    }
    assert(collisions == 0)
  }
}
