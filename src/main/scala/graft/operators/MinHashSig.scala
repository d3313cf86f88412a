package graft.operators

import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Full MinHash signature (numHashes mins) over a document's word n-gram
  * shingles, computed from the raw text in ONE pass.
  *
  * Composing this from built-in higher-order functions costs numHashes
  * interpreted `transform` lambdas per row (Spark does not codegen
  * HigherOrderFunction) and re-evaluates the tokenization per element.
  * Here the text is normalized once ([[TextNorm]]), each shingle — a
  * slice of the normalized bytes — is FNV-1a hashed once and re-mixed per
  * hash slot with a splitmix64 finalizer: O(shingles × numHashes) tight
  * long ops, returned as a primitive `UnsafeArrayData` (no boxing). The
  * generated code calls [[MinHashSig.signature]]. Null reads as "".
  */
case class MinHashSig(child: Expression, ngram: Int, numHashes: Int)
    extends UnaryExpression
    with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    MinHashSig.signature(
      child.eval(input).asInstanceOf[UTF8String], ngram, numHashes)

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val kernel = MinHashSig.getClass.getName.stripSuffix("$")
    ev.copy(code = code"""
      ${c.code}
      ${classOf[UnsafeArrayData].getName} ${ev.value} = $kernel.signature(
        ${c.isNull} ? null : ${c.value}, $ngram, $numHashes);""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)

  override def prettyName: String = "minhash_sig"
}

object MinHashSig {
  def signature(s: UTF8String, ngram: Int, numHashes: Int): UnsafeArrayData = {
    val norm = TextNorm.normalize(s)
    val mins = Array.fill(numHashes)(Long.MaxValue)
    val k = norm.shingleCount(ngram)
    var i = 0
    while (i < k) {
      val base = TextNorm.fnv1a64(norm.bytes,
        norm.shingleStart(ngram, i), norm.shingleEnd(ngram, i))
      var h = 0
      while (h < numHashes) {
        val m = mix64(base + 0x9E3779B97F4A7C15L * (h + 1))
        if (m < mins(h)) mins(h) = m
        h += 1
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(mins)
  }

  /** splitmix64 finalizer — full-avalanche 64-bit mix. */
  def mix64(x0: Long): Long = {
    var x = x0
    x ^= (x >>> 30); x *= 0xBF58476D1CE4E5B9L
    x ^= (x >>> 27); x *= 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }
}
