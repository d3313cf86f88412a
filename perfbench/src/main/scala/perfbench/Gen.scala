package perfbench

import java.time.LocalDate

/** Seeded, stateless value draws: every value is a pure function of the
  * workload seed and the coordinates of the value (key, occurrence,
  * field), so any generated row can be re-derived on its own, on the
  * driver or inside a task, and a seed always yields the same inputs. */
object Rng {
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def hash(seed: Long, parts: Long*): Long =
    parts.foldLeft(mix(seed))((acc, p) => mix(acc ^ p))
  /** Uniform in [0, 1). */
  def unit(seed: Long, parts: Long*): Double =
    (hash(seed, parts: _*) >>> 11) * (1.0 / (1L << 53))
  /** Uniform in [0, n). */
  def below(n: Int, seed: Long, parts: Long*): Int =
    java.lang.Math.floorMod(hash(seed, parts: _*), n.toLong).toInt

  /** Fisher-Yates permutation of 0 until n. */
  def permutation(n: Int, seed: Long): Array[Int] = {
    val a = Array.tabulate(n)(identity)
    val r = new java.util.SplittableRandom(seed)
    var i = n - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }

  /** Pronounceable consonant-vowel pseudo-word for index `i`: never one of
    * the stopwords the language gate counts, which are all shorter or not
    * consonant-vowel shaped. */
  def word(i: Int): String = {
    val cs = "bdfgklmnprstvz"
    val vs = "aeiou"
    val sb = new StringBuilder
    var x = i
    val syllables = 2 + (i % 3)
    var s = 0
    while (s < syllables) {
      sb += cs.charAt(x % cs.length); x /= cs.length
      sb += vs.charAt(x % vs.length); x /= vs.length
      s += 1
    }
    sb.toString
  }
}

/** One row of the import model with its clean (expected) values. */
final case class ImportRow(
    id: String,
    name: Option[String],
    amountFr: Double,
    amountUs: Double,
    qty: Option[Long],
    day: Option[LocalDate],
    active: Option[Boolean],
    tags: Seq[String],
    note: Option[String])

/** `bulk_import` inputs: a messy CSV export of `sourceKeys` distinct keys
  * in `parts` files (about 2% of the keys written twice, the second row
  * later in the same file) and a target table holding every even source
  * key plus `sourceKeys / 4` keys the files never mention. */
final case class ImportGen(seed: Long, sourceKeys: Int, parts: Int = 4) {
  private val Name = 1L; private val Fr = 2L; private val Us = 3L
  private val Qty = 4L; private val Day = 5L; private val Act = 6L
  private val Tags = 7L; private val Note = 8L; private val Dup = 9L
  private val Part = 10L; private val Tgt = 100L; private val Fmt = 200L

  def key(k: Int): String = f"k$k%08d"
  def targetOnly: Int = sourceKeys / 4
  def inSource(k: Int): Boolean = k >= 0 && k < sourceKeys
  def inTarget(k: Int): Boolean =
    (inSource(k) && k % 2 == 0) ||
      (k >= sourceKeys && k < sourceKeys + targetOnly)
  def isDup(k: Int): Boolean = inSource(k) && Rng.unit(seed, Dup, k) < 0.02
  def unionKeys: Long = sourceKeys.toLong + targetOnly
  def targetKeys: Seq[Int] =
    (0 until sourceKeys by 2) ++ (sourceKeys until sourceKeys + targetOnly)

  /** The file holding every row of key `k`: a key's rows share a file,
    * because the import orders duplicates by line within a file. */
  def part(k: Int): Int = Rng.below(parts, seed, Part, k)

  /** Order of file `p` as (key, occurrence): a permutation of its distinct
    * keys, then every duplicate's second row in a second permutation. */
  def fileOrder(p: Int): Iterator[(Int, Int)] = {
    val keys = (0 until sourceKeys).filter(part(_) == p).toArray
    val dups = keys.filter(isDup)
    Rng.permutation(keys.length, seed ^ p).iterator.map(i => (keys(i), 0)) ++
      Rng.permutation(dups.length, seed ^ Dup ^ p).iterator.map(i => (dups(i), 1))
  }

  def rows: Long = sourceKeys.toLong + (0 until sourceKeys).count(isDup)

  private val Words = Seq("Dupont", "Martin", "Durand", "Leroy", "Moreau",
    "Smith", "Jones", "Müller", "Garcia", "O'Brien", "Nguyen", "Rossi")
  private val TagWords = Seq("rouge", "bleu", "vert", "hot", "cold",
    "x, y", "dark (a, b)", "north")
  private val TrueTokens = Seq("oui", "vrai", "t", "yes", "1", "true", "Oui",
    "TRUE")
  private val FalseTokens = Seq("non", "faux", "f", "no", "0", "false", "Non")

  private def values(k: Int, salt: Long): ImportRow = {
    def u(f: Long) = Rng.unit(seed, salt, f, k)
    def b(n: Int, f: Long) = Rng.below(n, seed, salt, f, k)
    val name =
      if (u(Name) < 0.05) None
      else Some(s"${Words(b(Words.size, Name))}, ${Words(b(Words.size, Name + 50))} $k")
    val qty = if (u(Qty) < 0.05) None else Some(b(20001, Qty) - 10000L)
    val day = if (u(Day) < 0.05) None
      else Some(LocalDate.of(1990, 1, 1).plusDays(b(14600, Day).toLong))
    val active = if (u(Act) < 0.05) None else Some(u(Act + 50) < 0.5)
    val nTags = b(4, Tags)
    val tags = (0 until nTags).map(i => TagWords(b(TagWords.size, Tags + 10 + i)))
    val note = if (u(Note) < 0.4) None else Some(s"note-$salt-$k")
    ImportRow(key(k), name, (b(10000001, Fr) - 5000000) / 100.0,
      (b(10000001, Us) - 5000000) / 100.0, qty, day, active, tags, note)
  }

  /** Clean values of source row `occ` of key `k`. */
  def source(k: Int, occ: Int): ImportRow = values(k, occ.toLong)

  /** Clean values of the target table's row for `k`. */
  def target(k: Int): ImportRow = values(k, Tgt)

  /** The merged table's row for `k`: the last source row wins, except
    * `note` (update-only-if-null), which keeps a non-null stored value
    * and otherwise takes the first non-null source value. */
  def expected(k: Int): Option[ImportRow] = {
    val occs = if (!inSource(k)) Nil
      else if (isDup(k)) Seq(source(k, 0), source(k, 1)) else Seq(source(k, 0))
    val tgt = if (inTarget(k)) Some(target(k)) else None
    if (occs.isEmpty) tgt
    else {
      val srcNote = occs.flatMap(_.note).headOption
      Some(occs.last.copy(note = tgt.flatMap(_.note).orElse(srcNote)))
    }
  }

  // ---- messy rendering ---------------------------------------------------

  private def group(intPart: Long, sep: String): String = {
    val s = intPart.toString
    s.reverse.grouped(3).mkString(sep.reverse).reverse
  }

  private def amount(v: Double, fr: Boolean, f: Long): String = {
    val cents = math.round(math.abs(v) * 100)
    val neg = v < 0
    val seps = if (fr) Seq(" ", "\u00A0", "\u202F", "") else Seq(",", "")
    val sep = seps(Rng.below(seps.size, seed, Fmt, f))
    val body = group(cents / 100, sep) + (if (fr) "," else ".") +
      f"${cents % 100}%02d"
    if (!neg) body
    else if (Rng.unit(seed, Fmt, f + 1) < 0.5) s"($body)" else s"-$body"
  }

  private def date(d: LocalDate, f: Long): String = {
    val (y, m, dd) = (d.getYear, d.getMonthValue, d.getDayOfMonth)
    Rng.below(5, seed, Fmt, f) match {
      case 0 => s"$dd/$m/$y"
      case 1 if dd > 12 => s"$m/$dd/$y" // US order only where unambiguous
      case 2 => s"$dd.$m.$y"
      case 3 => f"$y%04d-$m%02d-$dd%02d"
      case _ => s"$y-$m-$dd"
    }
  }

  private def pad(s: String, f: Long): String = {
    val pads = Seq("", " ", "  ", "\t", "\u00A0")
    pads(Rng.below(pads.size, seed, Fmt, f)) + s +
      pads(Rng.below(pads.size, seed, Fmt, f + 1))
  }

  private def tagList(tags: Seq[String], f: Long): String =
    tags.zipWithIndex.map { case (t, i) =>
      val q = if (t.contains(",") && !t.contains("(")) {
        if (Rng.unit(seed, Fmt, f + i) < 0.5) s"'$t'" else "\"" + t + "\""
      } else t
      if (i == 0) q
      else Seq(", ", ";", " et ", " and ")(Rng.below(4, seed, Fmt, f + 10 + i)) + q
    }.mkString

  private def csvField(s: String): String =
    if (s.exists(c => c == ',' || c == '"')) "\"" + s.replace("\"", "\"\"") + "\""
    else s

  val header: String = "id,name,montant,amount,qty,day,active,tags,note"

  /** The CSV line of source row `occ` of key `k`. */
  def line(k: Int, occ: Int): String = {
    val r = source(k, occ)
    val f = (k.toLong << 4) | occ
    Seq(
      if (Rng.unit(seed, Fmt, f, 1) < 0.1) s" ${r.id} " else r.id,
      r.name.map(pad(_, f * 16 + 2)).getOrElse(""),
      amount(r.amountFr, fr = true, f * 16 + 4),
      amount(r.amountUs, fr = false, f * 16 + 6),
      r.qty.map(q => pad(if (q > 0 && Rng.unit(seed, Fmt, f, 8) < 0.3) s"+$q"
        else q.toString, f * 16 + 8)).getOrElse(""),
      r.day.map(date(_, f * 16 + 10)).getOrElse(""),
      r.active.map(a => if (a) TrueTokens(Rng.below(TrueTokens.size, seed, Fmt, f, 12))
        else FalseTokens(Rng.below(FalseTokens.size, seed, Fmt, f, 12))).getOrElse(""),
      tagList(r.tags, f * 16 + 13),
      r.note.map(pad(_, f * 16 + 14)).getOrElse("")
    ).map(csvField).mkString(",")
  }
}

/** `incremental_merge` inputs: a range-laid table of `baseRows` keys and a
  * fixed sequence of batches. Batch `j` updates `updates` distinct keys
  * drawn from the `window` most recent keys and creates `creates` new
  * keys past the current end, so it touches only the last bucket or two. */
final case class MergeGen(
    seed: Long,
    baseRows: Int,
    updates: Int,
    creates: Int,
    window: Int) {
  require(updates <= window && window <= baseRows)

  def key(k: Long): String = f"$k%010d"
  def rangeBounds(buckets: Int): Seq[String] =
    (1 until buckets).map(i => key(i.toLong * baseRows / buckets))

  /** (v, amount, label) of the base row for `k`. */
  def base(k: Long): (Long, Double, String) =
    (0L, Rng.below(1000000, seed, 1, k) / 100.0, s"b$k")

  /** Number of keys in the table before batch `j` is merged. */
  def sizeBefore(j: Int): Long = baseRows.toLong + j.toLong * creates

  def batchKeys(j: Int): Seq[Long] = {
    val end = sizeBefore(j)
    val picked = scala.collection.mutable.LinkedHashSet.empty[Long]
    var probe = 0L
    while (picked.size < updates) {
      picked += end - 1 - Rng.below(window, seed, 2, j, probe)
      probe += 1
    }
    picked.toSeq ++ (end until end + creates)
  }

  /** (v, amount, label) written for `k` by batch `j`. */
  def batchValue(j: Int, k: Long): (Long, Double, String) =
    (j + 1L, Rng.below(1000000, seed, 3, j, k) / 100.0, s"m$j-$k")

  /** Keys read after batch `j`: `n` it just wrote, then `n` older keys
    * from anywhere in the table. */
  def lookupKeys(j: Int, n: Int): (Seq[Long], Seq[Long]) = {
    val ks = batchKeys(j)
    val fresh = (0 until n).map(i => ks(Rng.below(ks.size, seed, 4, j, i))).distinct
    val size = sizeBefore(j + 1)
    val old = (0 until n).map(i => Rng.hash(seed, 5, j, i))
      .map(h => java.lang.Math.floorMod(h, size)).distinct
    (fresh, old)
  }
}

/** `curate_dedup` inputs: `docs` documents of 30-150 tokens. About 3% are
  * exact copies of an earlier document, 2% are an earlier document minus
  * its last word (the planted near-duplicates), 3% are French and 3% are
  * symbol noise (both fail the curation gate); the rest are English. */
final case class CorpusGen(seed: Long, docs: Int) {
  private val Kind = 1L; private val Base = 2L; private val Len = 3L
  private val Tok = 4L
  private val En = Seq("the", "and", "of", "to", "in", "is", "that", "it",
    "for", "a")
  private val FrWords = Seq("le", "la", "les", "des", "et", "une", "est",
    "dans")
  private val Noise = Seq("###", "@@", "!!", "%%", "12345", "9876", "&*", "$$")
  val Vocab = 5000

  private def rawKind(id: Long): Int = {
    val r = Rng.unit(seed, Kind, id)
    if (id < 100) 0
    else if (r < 0.02) 1 // near
    else if (r < 0.05) 2 // exact copy
    else if (r < 0.08) 3 // french
    else if (r < 0.11) 4 // junk
    else 0
  }

  import CorpusGen._

  def kind(id: Long): DocKind = rawKind(id) match {
    case 3 => French
    case 4 => Junk
    case k @ (1 | 2) =>
      val b = Rng.below(id.toInt, seed, Base, id).toLong
      if (rawKind(b) != 0) Normal
      else if (k == 1) Near(b) else Copy(b)
    case _ => Normal
  }

  private def tokens(id: Long): Seq[String] = {
    val n = 30 + Rng.below(121, seed, Len, id)
    (0 until n).map { i =>
      val r = Rng.unit(seed, Tok, id, i)
      val x = Rng.below(Vocab, seed, Tok + 1, id, i)
      if (r < 0.3) En(x % En.size)
      else if (r < 0.31) x % 3 match {
        case 0 => s"${Rng.word(x)}$x@example.org"
        case 1 => s"https://example.com/p/$x"
        case _ => f"${x.toLong * 7919 + 10000000L}%d"
      }
      else Rng.word(x)
    }
  }

  def text(id: Long): String = kind(id) match {
    case Normal => tokens(id).mkString(" ")
    case Copy(b) => text(b)
    case Near(b) => val t = text(b); t.substring(0, t.lastIndexOf(' '))
    case French => tokens(id).zipWithIndex.map { case (t, i) =>
      if (i % 2 == 0) FrWords(Rng.below(FrWords.size, seed, Tok + 2, id, i))
      else if (En.contains(t)) Rng.word(i) else t
    }.mkString(" ")
    case Junk => tokens(id).indices
      .map(i => Noise(Rng.below(Noise.size, seed, Tok + 3, id, i))).mkString(" ")
  }

  /** The planted near-duplicate pairs as (base id, copy id). */
  def plants: Seq[(Long, Long)] = (0L until docs).flatMap(id => kind(id) match {
    case Near(b) => Some((b, id))
    case _ => None
  })
}

object CorpusGen {
  sealed trait DocKind
  case object Normal extends DocKind
  case object French extends DocKind
  case object Junk extends DocKind
  final case class Copy(of: Long) extends DocKind
  final case class Near(of: Long) extends DocKind
}

/** The shingle Jaccard the near-duplicate verifier is meant to compute,
  * re-derived here from its definition (lower-cased alphanumeric word
  * runs, word 3-grams, a text shorter than three words being one
  * shingle) to check the operator's output against. */
object ExactJaccard {
  def tokens(s: String): Seq[String] =
    s.toLowerCase(java.util.Locale.ROOT).split("[^a-z0-9]+").toSeq.filter(_.nonEmpty)

  def shingles(s: String, n: Int = 3): Set[String] = {
    val t = tokens(s)
    if (t.size < n) Set(t.mkString(" "))
    else t.sliding(n).map(_.mkString(" ")).toSet
  }

  def apply(a: String, b: String): Double = {
    val (x, y) = (shingles(a), shingles(b))
    val union = (x | y).size
    if (union == 0) 0.0 else (x & y).size.toDouble / union
  }
}
