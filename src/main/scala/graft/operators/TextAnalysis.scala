package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis operators for training-data pipelines over a `documents`
  * table (doc_id, text, ...). Everything here is built-in Catalyst
  * expressions — codegen'd, no UDFs — so it vectorizes across a 100 TB scan.
  */
object TextAnalysis {

  /** Whitespace tokens of the trimmed text (empty text → empty array). */
  def tokens(text: Column): Column =
    when(trim(text) === "" || text.isNull, array().cast(ArrayType(StringType)))
      .otherwise(split(trim(text), "\\s+"))

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text)).cast(LongType)

  /** BPE-ish subword proxy count: runs of letters, runs of digits, and
    * single punctuation marks each count as one token — the same regex any
    * byte-pair pre-tokenizer front-end uses. */
  val BpeTokenRe = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"
  def bpeTokenCount(text: Column): Column =
    coalesce(regexp_count(text, lit(BpeTokenRe)), lit(0)).cast(LongType)

  /** Tiny per-language stopword inventories for the n-gram-free language-ID
    * heuristic. Deterministic and SQL-portable (used verbatim by the DuckDB
    * oracle). */
  val StopwordsEn: Seq[String] =
    Seq("the", "and", "of", "to", "in", "is", "that", "it", "for", "a")
  val StopwordsFr: Seq[String] =
    Seq("le", "la", "les", "de", "des", "et", "un", "une", "est", "dans")
  val StopwordsDe: Seq[String] =
    Seq("der", "die", "das", "und", "ist", "ein", "eine", "zu", "mit", "von")
  val StopwordsEs: Seq[String] =
    Seq("el", "los", "de", "y", "es", "un", "una", "en", "que", "por")

  /** All per-document stats in one string walk (see [[TextStats]]):
    * struct(n_chars, n_tokens, n_punct, n_digits, stop_en..stop_es). */
  def stats(text: Column): Column = {
    val B = org.apache.spark.sql.graft.Bridge
    B.column(TextStats(B.expression(text)))
  }

  /** Stopword-voting language ID over a precomputed [[stats]] struct. */
  def langIdFrom(st: Column): Column = {
    val en = st.getField("stop_en")
    val fr = st.getField("stop_fr")
    val de = st.getField("stop_de")
    val es = st.getField("stop_es")
    val m = greatest(en, fr, de, es)
    when(m === 0, lit("und"))
      .when(en === m, lit("en"))
      .when(fr === m, lit("fr"))
      .when(de === m, lit("de"))
      .otherwise(lit("es"))
  }

  /** Stopword-voting language ID: the language whose stopword inventory
    * hits most tokens wins; ties/zero → "und". */
  def langId(text: Column): Column = langIdFrom(stats(text))

  /** The five Gopher-style structural checks over a [[stats]] struct. */
  private def qualityChecks(st: Column): Seq[Column] = {
    val nChars = st.getField("n_chars")
    val nToks = st.getField("n_tokens")
    val meanTokLen = when(nToks > 0,
      (nChars - (nToks - 1)).cast(DoubleType) / nToks.cast(DoubleType))
      .otherwise(lit(0.0))
    val punctRatio = when(nChars > 0,
      st.getField("n_punct").cast(DoubleType) / nChars.cast(DoubleType))
      .otherwise(lit(0.0))
    val digitRatio = when(nChars > 0,
      st.getField("n_digits").cast(DoubleType) / nChars.cast(DoubleType))
      .otherwise(lit(0.0))
    val stopRatio = when(nToks > 0,
      st.getField("stop_en").cast(DoubleType) / nToks.cast(DoubleType))
      .otherwise(lit(0.0))
    Seq(
      (nToks >= 5) && (nToks <= 100000),
      (meanTokLen >= 2.0) && (meanTokLen <= 12.0),
      punctRatio <= 0.2,
      digitRatio <= 0.3,
      stopRatio >= 0.01)
  }

  /** Gopher-style rule score in [0,1] over a precomputed [[stats]]
    * struct — the fraction of five structural checks the text passes. */
  def qualityScoreFrom(st: Column): Column = {
    val checks = qualityChecks(st)
    checks.map(c => when(c, 1).otherwise(0))
      .reduce(_ + _).cast(DoubleType) / checks.size
  }

  /** Gopher-style rule score in [0,1] as a single Column. */
  def qualityScore(text: Column): Column = qualityScoreFrom(stats(text))

  /** Gopher-style REPETITION signals — boilerplate/spam detectors the
    * rule score doesn't see: the fraction of duplicate lines, the
    * fraction of duplicate paragraphs (blank-line-separated), and the
    * fraction of characters sitting in duplicated lines. Blank lines
    * separate, they don't repeat. One-pass custom kernel
    * ([[RepetitionStats]]) per the §2 interpreted-HOF lesson — the
    * composed split/distinct/HOF form re-walks the text quadratically. */
  def repetition(docs: org.apache.spark.sql.DataFrame,
      text: Column = col("text")): org.apache.spark.sql.DataFrame = {
    val B = org.apache.spark.sql.graft.Bridge
    val st = B.column(RepetitionStats(B.expression(text)))
    docs.select(col("doc_id"), st.as("_r"))
      .select(col("doc_id"),
        col("_r.dup_line_frac").as("dup_line_frac"),
        col("_r.dup_para_frac").as("dup_para_frac"),
        col("_r.dup_line_char_frac").as("dup_line_char_frac"))
  }

  /** Context-window chunking — the standard pre-training/embedding prep
    * step: each document splits into sliding whitespace-token windows of
    * `chunkTokens` with `overlapTokens` of lookback (stride =
    * chunkTokens − overlapTokens); the final window keeps the remainder.
    * Starts stop at the FIRST window that reaches the end of the token
    * array — a document ending inside the overlap region must not emit a
    * trailing chunk fully contained in the previous one (zero new tokens,
    * duplicated training content). Output: (id, chunk_id, chunk_text,
    * n_tokens), chunk_id dense from 0 in document order.
    *
    * Scale shape: pure per-row projection + generate — no shuffle, no
    * state; the windows are built from ONE split of the text inside a
    * single `transform(sequence(...))` expression, so the tokenization
    * runs once per document, not once per chunk. */
  def chunk(
      docs: DataFrame,
      chunkTokens: Int,
      overlapTokens: Int = 0,
      idCol: String = "doc_id",
      text: Column = col("text")): DataFrame = {
    require(chunkTokens > 0 && overlapTokens >= 0 &&
      overlapTokens < chunkTokens,
      s"need 0 <= overlap < chunk, got $overlapTokens/$chunkTokens")
    val stride = chunkTokens - overlapTokens
    val toks = split(text, "\\s+")
    // Last start = the smallest stride multiple whose window reaches the
    // array's end: ceil(max(size - chunk, 0) / stride) * stride.
    val needed = greatest(size(toks) - chunkTokens, lit(0))
    val lastStart =
      floor((needed + lit(stride - 1)).cast("double") / lit(stride))
        .cast("int") * lit(stride)
    docs
      .select(col(idCol), posexplode(
        transform(
          sequence(lit(0), lastStart, lit(stride)),
          st => struct(
            array_join(slice(toks, st + 1, lit(chunkTokens)), " ")
              .as("chunk_text"),
            least(lit(chunkTokens), size(toks) - st).as("n_tokens")))))
      .toDF(idCol, "chunk_id", "_c")
      .select(col(idCol), col("chunk_id"),
        col("_c.chunk_text").as("chunk_text"),
        col("_c.n_tokens").as("n_tokens"))
  }

  /** Quality signals + a Gopher-style rule score in [0,1]: the fraction of
    * five structural checks the document passes. The stats struct is
    * computed in a SEPARATE projection so the one-walk expression is
    * evaluated once per row, not once per derived column (CollapseProject
    * keeps multi-referenced non-cheap expressions apart). */
  def quality(df: DataFrame, text: Column): DataFrame = {
    val withSt = df.select(col("doc_id"), stats(text).as("_st"))
    val st = col("_st")
    val nChars = st.getField("n_chars")
    val nToks = st.getField("n_tokens")
    val meanTokLen = when(nToks > 0,
      (nChars - (nToks - 1)).cast(DoubleType) / nToks.cast(DoubleType))
      .otherwise(lit(0.0))
    val punctRatio = when(nChars > 0,
      st.getField("n_punct").cast(DoubleType) / nChars.cast(DoubleType))
      .otherwise(lit(0.0))
    val digitRatio = when(nChars > 0,
      st.getField("n_digits").cast(DoubleType) / nChars.cast(DoubleType))
      .otherwise(lit(0.0))
    val stopRatio = when(nToks > 0,
      st.getField("stop_en").cast(DoubleType) / nToks.cast(DoubleType))
      .otherwise(lit(0.0))
    withSt.select(
      col("doc_id"),
      nChars.as("n_chars"),
      nToks.as("n_tokens"),
      meanTokLen.as("mean_token_len"),
      punctRatio.as("punct_ratio"),
      digitRatio.as("digit_ratio"),
      stopRatio.as("stopword_ratio"),
      qualityScoreFrom(st).as("quality_score"))
  }

  /** PII-style redaction: replace URLs, then emails, then digit runs of
    * 7+ with placeholder tokens. The semantics are those of replacing all
    * matches of these three regexes, in this order; the patterns stay in
    * the RE2-compatible subset so external engines (and the DuckDB
    * oracle) agree byte-for-byte. The column is the [[RedactPii]] kernel
    * — one codegen'd linear scan of the UTF-8 bytes per pattern —
    * which `RedactPiiSpec` pins to the regex chain. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val UrlRe = "https?://[^ \\t\\n]+"
  val LongDigitsRe = "[0-9]{7,}"
  def redact(text: Column): Column = {
    val B = org.apache.spark.sql.graft.Bridge
    B.column(RedactPii(B.expression(text)))
  }

  /** Winnowing-style document fingerprint: hash every k-char shingle, take
    * the minimum hash in each window of w consecutive shingles, and hash the
    * distinct selected values. Robust to small local edits, computed with
    * array expressions only (one narrow pass, no shuffle).
    */
  def fingerprint(text: Column, k: Int = 8, w: Int = 4): Column =
    xxhash64(concat_ws(",",
      transform(fingerprintSet(text, k, w), _.cast(StringType))))

  /** The winnowing SELECTION SET behind [[fingerprint]]: the sorted
    * distinct window-minimum hashes. Exposed so near-duplicate robustness
    * is measurable (overlap of two documents' sets), which is what the
    * driver-oracle invariants check. */
  def fingerprintSet(text: Column, k: Int = 8, w: Int = 4): Column = {
    val n = length(text)
    val shingleHashes = when(n < k, array(xxhash64(text)))
      .otherwise(transform(
        sequence(lit(1), n - k + 1),
        i => xxhash64(text.substr(i, lit(k)))))
    val mins = when(size(shingleHashes) < w, array(array_min(shingleHashes)))
      .otherwise(transform(
        sequence(lit(0), size(shingleHashes) - w),
        i => array_min(slice(shingleHashes, i + 1, lit(w)))))
    array_sort(array_distinct(mins))
  }
}
