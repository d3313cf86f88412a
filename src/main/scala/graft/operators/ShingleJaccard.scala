package graft.operators

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Exact word n-gram Jaccard of two texts: `|A ∩ B| / |A ∪ B|` over the
  * DISTINCT shingles of each side, straight from the text. Bit-identical
  * to `Dedup.jaccard(Dedup.shingles(a, n), Dedup.shingles(b, n))` (the
  * same int counts and the same double division) without materializing
  * either shingle array: each side is normalized once ([[TextNorm]]) and
  * its shingles are slices hashed into an open-addressing set, O(len)
  * expected per pair. Every text has at least one shingle, so the union
  * is never empty. Null reads as "". The generated code calls
  * [[ShingleJaccard.jaccard]]. */
case class ShingleJaccard(left: Expression, right: Expression, n: Int)
    extends BinaryExpression
    with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] = Seq(StringType, StringType)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any =
    ShingleJaccard.jaccard(
      left.eval(input).asInstanceOf[UTF8String],
      right.eval(input).asInstanceOf[UTF8String], n)

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val a = left.genCode(ctx)
    val b = right.genCode(ctx)
    val kernel = ShingleJaccard.getClass.getName.stripSuffix("$")
    ev.copy(code = code"""
      ${a.code}
      ${b.code}
      double ${ev.value} = $kernel.jaccard(${a.isNull} ? null : ${a.value},
        ${b.isNull} ? null : ${b.value}, $n);""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ShingleJaccard =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "shingle_jaccard"
}

object ShingleJaccard {

  def jaccard(a: UTF8String, b: UTF8String, n: Int): Double = {
    val setA = new SliceSet(TextNorm.normalize(a), n)
    val setB = new SliceSet(TextNorm.normalize(b), n)
    var inter = 0
    var i = 0
    while (i < setB.size) {
      if (setA.contains(setB, i)) inter += 1
      i += 1
    }
    inter.toDouble / (setA.size + setB.size - inter).toDouble
  }

  /** The distinct shingles of one normalized text, as slices. */
  private final class SliceSet(norm: TextNorm.Norm, n: Int) {
    private val bytes = norm.bytes
    private val k = norm.shingleCount(n)
    private val mask = Integer.highestOneBit(2 * k - 1) * 2 - 1
    // slot -> 1 + index into the distinct arrays, 0 = empty
    private val slots = new Array[Int](mask + 1)
    private val hashes = new Array[Long](k)
    private val froms = new Array[Int](k)
    private val untils = new Array[Int](k)
    var size = 0

    locally {
      var i = 0
      while (i < k) {
        val from = norm.shingleStart(n, i)
        val until = norm.shingleEnd(n, i)
        val h = TextNorm.fnv1a64(bytes, from, until)
        val s = probe(h, bytes, from, until)
        if (slots(s) == 0) {
          hashes(size) = h; froms(size) = from; untils(size) = until
          size += 1
          slots(s) = size
        }
        i += 1
      }
    }

    /** The slot holding this slice, or the empty slot ending its chain. */
    private def probe(h: Long, b: Array[Byte], from: Int, until: Int): Int = {
      var s = MinHashSig.mix64(h).toInt & mask
      while (slots(s) != 0 && !same(slots(s) - 1, h, b, from, until))
        s = (s + 1) & mask
      s
    }

    private def same(
        d: Int, h: Long, b: Array[Byte], from: Int, until: Int): Boolean =
      hashes(d) == h && untils(d) - froms(d) == until - from &&
        java.util.Arrays.equals(bytes, froms(d), untils(d), b, from, until)

    /** Whether `other`'s `i`-th distinct shingle is in this set. */
    def contains(other: SliceSet, i: Int): Boolean =
      slots(probe(other.hashes(i), other.bytes, other.froms(i), other.untils(i))) != 0
  }
}
