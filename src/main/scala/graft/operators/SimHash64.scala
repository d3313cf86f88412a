package graft.operators

import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** 64-bit SimHash over a document's normalized word tokens, computed from
  * the raw text in one pass ([[TextNorm.normalize]] — no interpreted regex
  * child).
  *
  * Classic Charikar construction: each token contributes its 64-bit hash's
  * bits as ±1 votes per position; the fingerprint takes the sign of each
  * accumulated position. Near-identical token multisets yield fingerprints
  * within a small Hamming distance.
  *
  * Token hash is FNV-1a 64 (self-contained, deterministic across JVMs),
  * taken over each token's slice of the normalized bytes.
  * Eval-based expression: the 64-lane accumulator has no built-in
  * equivalent; still one narrow pass over the data.
  */
case class SimHash64(child: Expression) extends UnaryExpression
    with ImplicitCastInputTypes
    with CodegenFallback {

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = LongType

  override def nullSafeEval(v: Any): Any = {
    val norm = TextNorm.normalize(v.asInstanceOf[UTF8String])
    val acc = new Array[Int](64)
    var i = 0
    while (i < norm.tokens) {
      val h = TextNorm.fnv1a64(norm.bytes, norm.tokenStart(i), norm.tokenEnd(i))
      var j = 0
      while (j < 64) {
        if (((h >>> j) & 1L) == 1L) acc(j) += 1 else acc(j) -= 1
        j += 1
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 64) {
      if (acc(j) > 0) out |= (1L << j)
      j += 1
    }
    java.lang.Long.valueOf(out)
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)

  override def prettyName: String = "simhash64"
}

object SimHash64 {
  /** FNV-1a 64-bit string hash. */
  def fnv1a64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) {
      h ^= s.charAt(i).toLong
      h *= 0x100000001b3L
      i += 1
    }
    h
  }
}
