package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Byte-pair-encoding tokenizer training and encoding (Sennrich et al.,
  * "Neural Machine Translation of Rare Words with Subword Units", 2016)
  * — the vocabulary-construction step of a training-data pipeline,
  * re-expressed for Spark's execution model:
  *
  *  - TRAINING aggregates the corpus ONCE into a bounded word-frequency
  *    dictionary (top `maxWords` words by count — the classic recipe
  *    trains on exactly such a dict, not on raw text) and then runs the
  *    merge loop DRIVER-SIDE over that bounded dict: no per-iteration
  *    cluster pass, because pair counts derive from the dict alone.
  *    This is the same bounded-driver-iteration shape as the PQ/k-means
  *    trainers (documented there): the distributed part is one hash
  *    aggregate; the iteration is O(merges × dictWords × wordLen) local
  *    work.
  *  - ENCODING is a single-pass custom expression ([[BpeEncode]], the
  *    interpreted-HOF lesson): merge ranks ride the closure as a hash
  *    map; each word resolves bottom-up by repeatedly merging the
  *    best-ranked adjacent pair. Pure projection — zero shuffle,
  *    streaming-safe.
  *
  * Merge semantics (identical in the DuckDB oracle, which replays them
  * with a recursive CTE): a word starts as its characters plus a final
  * `</w>` end marker; each step finds the LOWEST-RANK adjacent pair
  * present and merges its FIRST occurrence; steps repeat until no
  * adjacent pair has a rank. One-occurrence-at-a-time with re-selection
  * is deterministic and SQL-replayable (merge-all-per-step implementations
  * differ only when a merge CREATES a better-ranked pair mid-word). */
object Bpe {

  /** The word-end marker symbol ('<', '/', '>' never appear in
    * normalized tokens, so it cannot collide). */
  val EndMark = "</w>"

  final case class BpeModel(merges: Seq[(String, String)]) {
    /** rank by "left right" — ' ' never appears in symbols. */
    @transient lazy val ranks: java.util.HashMap[String, Integer] = {
      val m = new java.util.HashMap[String, Integer](merges.size * 2)
      merges.zipWithIndex.foreach { case ((a, b), i) =>
        m.putIfAbsent(a + " " + b, Integer.valueOf(i))
      }
      m
    }
  }

  /** Bounded word-frequency dictionary: ONE corpus aggregate, top
    * `maxWords` by (count desc, word asc — deterministic ties). The
    * dict bounds all training cost; 50k words is the classic recipe. */
  def wordCounts(
      corpus: DataFrame,
      text: Column = col("text"),
      maxWords: Int = 50000): Seq[(String, Long)] =
    corpus
      .select(explode(split(trim(regexp_replace(lower(text),
        "[^a-z0-9]+", " ")), " ")).as("_w"))
      .filter(col("_w") =!= "")
      .groupBy(col("_w")).agg(count(lit(1)).as("_c"))
      .orderBy(col("_c").desc, col("_w"))
      .limit(maxWords)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq

  /** Trains `numMerges` merges on the corpus's bounded word-frequency
    * dict. Ties break to the lexicographically smallest pair; training
    * stops early when the best pair's frequency falls below `minCount`
    * (merging hapax pairs memorizes noise). */
  def train(
      corpus: DataFrame,
      text: Column = col("text"),
      numMerges: Int = 200,
      maxWords: Int = 50000,
      minCount: Long = 2L): BpeModel = {
    var dict: Array[(Array[String], Long)] =
      wordCounts(corpus, text, maxWords).map { case (w, c) =>
        (w.map(_.toString).toArray :+ EndMark, c)
      }.toArray
    val merges = mutable.ArrayBuffer.empty[(String, String)]
    var continue = dict.nonEmpty
    while (continue && merges.size < numMerges) {
      val pairCounts = mutable.HashMap.empty[(String, String), Long]
      dict.foreach { case (syms, c) =>
        var i = 0
        while (i < syms.length - 1) {
          val p = (syms(i), syms(i + 1))
          pairCounts.update(p, pairCounts.getOrElse(p, 0L) + c)
          i += 1
        }
      }
      if (pairCounts.isEmpty) continue = false
      else {
        val best = pairCounts.toSeq.minBy { case ((a, b), c) =>
          (-c, a, b)
        }
        if (best._2 < minCount) continue = false
        else {
          val pair = best._1
          merges += pair
          dict = dict.map { case (syms, c) => (mergeAll(syms, pair), c) }
        }
      }
    }
    BpeModel(merges.toSeq)
  }

  /** Merges every occurrence of `pair` left-to-right (training-side:
    * equivalent to repeated first-occurrence merging of the same pair). */
  private def mergeAll(
      syms: Array[String], pair: (String, String)): Array[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i < syms.length - 1 && syms(i) == pair._1 &&
          syms(i + 1) == pair._2) {
        out += syms(i) + syms(i + 1); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toArray
  }

  /** Subword tokens of `text` under the model: array<string>, words
    * resolved independently, `</w>` marking word ends. Pure projection. */
  def encode(text: Column, model: BpeModel): Column =
    org.apache.spark.sql.graft.Bridge.column(
      BpeEncode(org.apache.spark.sql.graft.Bridge.expression(text),
        model.merges))

  /** Subword token count — the number a token-budget packer or context
    * chunker would act on. */
  def tokenCount(text: Column, model: BpeModel): Column =
    size(encode(text, model))
}

/** text → BPE subword tokens in one pass. Merge ranks ride the closure
  * as a hash map; per word the loop repeatedly merges the FIRST
  * occurrence of the lowest-ranked adjacent pair (see [[Bpe]] for why
  * this exact semantics — it is what the DuckDB oracle replays). */
case class BpeEncode(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression with ImplicitCastInputTypes
    with CodegenFallback {

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false

  @transient private lazy val ranks = Bpe.BpeModel(merges).ranks

  private def encodeWord(w: String, out: mutable.ArrayBuffer[String]): Unit = {
    var syms = new Array[String](w.length + 1)
    var i = 0
    while (i < w.length) { syms(i) = String.valueOf(w.charAt(i)); i += 1 }
    syms(w.length) = Bpe.EndMark
    var done = false
    while (!done && syms.length > 1) {
      var bestRank = Int.MaxValue
      var bestIdx = -1
      var j = 0
      while (j < syms.length - 1) {
        val r = ranks.get(syms(j) + " " + syms(j + 1))
        if (r != null && r.intValue < bestRank) {
          bestRank = r.intValue; bestIdx = j
        }
        j += 1
      }
      if (bestIdx < 0) done = true
      else {
        val merged = new Array[String](syms.length - 1)
        System.arraycopy(syms, 0, merged, 0, bestIdx)
        merged(bestIdx) = syms(bestIdx) + syms(bestIdx + 1)
        System.arraycopy(syms, bestIdx + 2, merged, bestIdx + 1,
          syms.length - bestIdx - 2)
        syms = merged
      }
    }
    out ++= syms
  }

  override def eval(input: InternalRow): Any = {
    val norm = TextNorm.normalize(child.eval(input).asInstanceOf[UTF8String])
    val out = mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < norm.tokens) {
      val from = norm.tokenStart(i)
      encodeWord(new String(norm.bytes, from, norm.tokenEnd(i) - from,
        java.nio.charset.StandardCharsets.US_ASCII), out)
      i += 1
    }
    new GenericArrayData(
      out.map(s => UTF8String.fromString(s)).toArray[Any])
  }

  override protected def withNewChildInternal(newChild: Expression): BpeEncode =
    copy(child = newChild)

  override def prettyName: String = "bpe_encode"
}
