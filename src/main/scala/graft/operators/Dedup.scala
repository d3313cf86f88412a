package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication operators for document corpora.
  *
  * Scale design: every near-dup variant generates candidate pairs through a
  * BUCKETED equi-join (LSH bands / simhash bands) — the shuffle key is the
  * band hash, candidates are only compared within buckets, and there is no
  * all-pairs cross join anywhere. Exact verification (Jaccard / Hamming)
  * runs on candidate pairs only.
  */
object Dedup {

  /** Word n-gram shingles (default 3-grams); single-pass custom
    * expression — see [[Shingles]] for why the built-in composition is
    * quadratic when interpreted. */
  def shingles(text: Column, n: Int = 3): Column =
    org.apache.spark.sql.graft.Bridge.column(
      Shingles(org.apache.spark.sql.graft.Bridge.expression(text), n))

  /** Exact dedup via content hash: one hash-aggregate, no raw-text shuffle
    * of value payloads beyond the md5 key. Returns one row per distinct
    * content with the canonical (minimum) doc_id and the duplicate count. */
  def exact(docs: DataFrame, text: Column = col("text")): DataFrame =
    docs.groupBy(md5(text).as("content_hash"))
      .agg(
        min(col("doc_id")).as("keep_id"),
        count(lit(1)).as("n_dups"))

  /** Banded minhash index of a corpus: (doc_id, band, bh) — the shared
    * candidate-generation relation used by [[minhashLsh]] and the
    * stream-static near-dup check. */
  def bandIndex(
      docs: DataFrame,
      bands: Int = 8,
      rowsPerBand: Int = 4,
      ngram: Int = 3): DataFrame = {
    val numHashes = bands * rowsPerBand
    val withSig = docs
      .select(col("doc_id"), org.apache.spark.sql.graft.Bridge.column(
        MinHashSig(
          org.apache.spark.sql.graft.Bridge.expression(col("text")),
          ngram, numHashes)).as("sig"))
    withSig.select(
      col("doc_id"),
      explode(array((0 until bands).map { b =>
        struct(
          lit(b).as("band"),
          xxhash64((b * rowsPerBand until (b + 1) * rowsPerBand)
            .map(i => col("sig").getItem(i)): _*).as("bh"))
      }: _*)).as("bucket"))
      .select(col("doc_id"),
        col("bucket.band").as("band"), col("bucket.bh").as("bh"))
  }

  /** MinHash + banded LSH near-duplicate candidate pairs with exact Jaccard
    * verification (numHashes = bands * rowsPerBand).
    *
    * Pipeline: full minhash signature in one pass (see [[MinHashSig]]) →
    * band hashes → explode(bands) over a SLIM (doc_id, band, bh) relation
    * → co-partitioned self-join (sort-merge: both sides read the one
    * (band, bh) exchange, which the skew cap's window already made) →
    * distinct pairs → join each side's text → exact Jaccard from the two
    * texts ([[ShingleJaccard]]) → threshold. No per-document shingle
    * relation is built: only the candidate pairs' texts travel to the
    * verify step, and the band shuffle carries no text at all.
    */
  def minhashLsh(
      docs: DataFrame,
      bands: Int = 8,
      rowsPerBand: Int = 4,
      ngram: Int = 3,
      threshold: Double = 0.5,
      maxBucketSize: Int = 10000): DataFrame = {
    val banded = capBuckets(
      bandIndex(docs, bands, rowsPerBand, ngram),
      Seq("band", "bh"), maxBucketSize)

    val a = banded.alias("a").hint("shuffle_merge")
    val b = banded.alias("b")
    val pairs = a.join(b,
      col("a.band") === col("b.band") && col("a.bh") === col("b.bh")
        && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .dropDuplicates("id_a", "id_b")

    val texts = docs.select(col("doc_id"), col("text"))
    pairs
      .join(texts.select(col("doc_id").as("id_a"), col("text").as("text_a")), "id_a")
      .join(texts.select(col("doc_id").as("id_b"), col("text").as("text_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        shingleJaccard(col("text_a"), col("text_b"), ngram).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Skew guard for bucketed self-joins: drop buckets holding more than
    * `maxBucketSize` rows. A single degenerate bucket (e.g. a band hash
    * shared by millions of near-empty docs) otherwise produces O(m²)
    * candidate pairs — the one way a banded LSH join goes quadratic at
    * scale. The count runs as a window over the SAME keys the self-join
    * shuffles on, so pruning adds no extra exchange; AQE's skew handling
    * splits oversized partitions but cannot cap within-bucket pair
    * blow-up, which this does. Oversized buckets are overwhelmingly
    * boilerplate/empty content; the recall loss is the standard
    * production trade and is bounded to those buckets. */
  private[graft] def capBuckets(
      banded: DataFrame,
      keys: Seq[String],
      maxBucketSize: Int): DataFrame = {
    if (maxBucketSize <= 0) banded
    else {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(keys.map(col): _*)
      banded.withColumn("_bn", count(lit(1)).over(w))
        .filter(col("_bn") <= maxBucketSize)
        .drop("_bn")
    }
  }

  /** Exact n-gram Jaccard similarity between two shingle arrays. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast(DoubleType)
    val union = size(array_union(a, b)).cast(DoubleType)
    when(union === 0, lit(0.0)).otherwise(inter / union)
  }

  /** Exact n-gram Jaccard of two texts, equal to
    * `jaccard(shingles(a, n), shingles(b, n))` without building either
    * array (see [[ShingleJaccard]]). */
  def shingleJaccard(a: Column, b: Column, n: Int = 3): Column =
    org.apache.spark.sql.graft.Bridge.column(ShingleJaccard(
      org.apache.spark.sql.graft.Bridge.expression(a),
      org.apache.spark.sql.graft.Bridge.expression(b), n))

  /** 64-bit SimHash over normalized tokens (see [[SimHash64]]). */
  def simhash(text: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      SimHash64(org.apache.spark.sql.graft.Bridge.expression(text)))

  /** SimHash near-duplicate pairs: band the 64-bit fingerprint into
    * `maxHamming + 1` chunks (pigeonhole: hamming ≤ maxHamming ⇒ at least
    * one identical chunk, so recall within the declared radius is
    * GUARANTEED, not heuristic), bucket-join on any equal chunk, verify
    * with bit_count(xor). maxHamming=3 gives the classic 4×16-bit layout.
    *
    * LARGE RADII vs the skew cap: radii above ~7 shrink chunks below
    * 8 bits, so a band has at most 2^width (≤ 256) distinct buckets — on
    * a corpus much larger than maxBucketSize × 2^width, EVERY bucket
    * exceeds the cap and gets pruned, silently costing the guaranteed
    * recall. For aggressive radii at corpus scale prefer [[minhashLsh]]
    * (hash-spread buckets), raise maxBucketSize, or pass
    * maxBucketSize=0 to disable the cap and accept the quadratic
    * bucket cost. */
  def simhashDups(
      docs: DataFrame,
      maxHamming: Int = 3,
      maxBucketSize: Int = 10000): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 16,
      s"maxHamming must be in [0,16], got $maxHamming")
    val numChunks = maxHamming + 1
    // Distribute the 64 bits over numChunks DISJOINT chunks with widths
    // differing by at most one (a uniform ceil width would leave the last
    // chunk past bit 63 — Java shifts reduce mod 64, silently aliasing it
    // onto chunk 0 and voiding the pigeonhole guarantee).
    val base = 64 / numChunks
    val extra = 64 % numChunks
    val widths = (0 until numChunks).map(b => if (b < extra) base + 1 else base)
    val offsets = widths.scanLeft(0)(_ + _)
    val withSim = docs.select(col("doc_id"), simhash(col("text")).as("sim"))
    val banded = capBuckets(
      withSim.select(
        col("doc_id"), col("sim"),
        explode(array((0 until numChunks).map { b =>
          val mask = if (widths(b) >= 64) -1L else (1L << widths(b)) - 1
          struct(lit(b).as("band"),
            shiftrightunsigned(col("sim"), offsets(b))
              .bitwiseAND(lit(mask)).as("chunk"))
        }: _*)).as("bk"))
        .select(col("doc_id"), col("sim"),
          col("bk.band").as("band"), col("bk.chunk").as("chunk")),
      Seq("band", "chunk"), maxBucketSize)
    val a = banded.alias("a")
    val b = banded.alias("b")
    a.join(b,
      col("a.band") === col("b.band") && col("a.chunk") === col("b.chunk")
        && col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        bit_count(col("a.sim").bitwiseXOR(col("b.sim"))).as("hamming"))
      .dropDuplicates("id_a", "id_b")
      .filter(col("hamming") <= maxHamming)
  }

  /** Per-group corpus signature: MinHash signature of the UNION of all
    * shingle sets in the group (see [[MinHashUnion]]). */
  def groupSignature(
      docs: DataFrame,
      groupCol: String,
      ngram: Int = 3,
      numHashes: Int = 64): DataFrame = {
    val B = org.apache.spark.sql.graft.Bridge
    val sig = B.column(MinHashSig(
      B.expression(col("text")), ngram, numHashes))
    val unioned = B.column(
      MinHashUnion(B.expression(sig), numHashes).toAggregateExpression())
    docs.groupBy(col(groupCol)).agg(unioned.as("sig"))
  }

  /** Estimated Jaccard between two minhash signatures: fraction of equal
    * slots (small fixed arrays — built-in HOFs are fine here, one row per
    * group pair). */
  def sigJaccard(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, x) => acc + x).cast(DoubleType) / size(a)

  /** Pairwise estimated content overlap between groups (e.g. sources):
    * tiny (#groups²) comparison on aggregated signatures — the raw corpus
    * is touched exactly once by the aggregate. */
  def groupOverlap(
      docs: DataFrame,
      groupCol: String,
      ngram: Int = 3,
      numHashes: Int = 64): DataFrame = {
    val sigs = groupSignature(docs, groupCol, ngram, numHashes)
    val a = sigs.select(col(groupCol).as("group_a"), col("sig").as("sig_a"))
    val b = sigs.select(col(groupCol).as("group_b"), col("sig").as("sig_b"))
    a.join(b, col("group_a") < col("group_b"))
      .select(col("group_a"), col("group_b"),
        sigJaccard(col("sig_a"), col("sig_b")).as("est_jaccard"))
  }

  /** EXACT corpus-level overlap between groups: Jaccard of the DISTINCT
    * shingle sets per group. This shuffles every distinct (group, shingle)
    * pair — verification-scale only; the 100 TB path is [[groupOverlap]]'s
    * constant-size minhash signatures, which this serves as ground truth
    * for (the driver oracle compares the two). */
  def groupOverlapExact(
      docs: DataFrame,
      groupCol: String,
      ngram: Int = 3): DataFrame = {
    val ex = docs.select(
      col(groupCol).as("g"), explode(shingles(col("text"), ngram)).as("sh"))
      .distinct()
    val sizes = ex.groupBy("g").agg(count(lit(1)).as("n"))
    val allPairs = sizes.select(col("g").as("group_a"), col("n").as("na"))
      .join(sizes.select(col("g").as("group_b"), col("n").as("nb")),
        col("group_a") < col("group_b"))
    val inter = ex.select(col("g").as("group_a"), col("sh"))
      .join(ex.select(col("g").as("group_b"), col("sh")), Seq("sh"))
      .filter(col("group_a") < col("group_b"))
      .groupBy("group_a", "group_b").agg(count(lit(1)).as("i"))
    allPairs.join(inter, Seq("group_a", "group_b"), "left")
      .select(col("group_a"), col("group_b"),
        (coalesce(col("i"), lit(0L)).cast(DoubleType) /
          (col("na") + col("nb") - coalesce(col("i"), lit(0L)))
            .cast(DoubleType)).as("exact_jaccard"))
  }

  /** Transitive canonicalization: every doc maps to the minimum id of its
    * connected duplicate component (docs with no pairs map to themselves).
    * Delegates to [[ConnectedComponents.assign]] — TRUE graph components,
    * not the min-partner pointer chase this method shipped as originally.
    * The original initialized each node to min(self, min partner) and
    * pointer-jumped that chain, which is only transitive when every
    * node's smallest partner is already closer to the component minimum;
    * banding-generated V-shapes (1~3 in one band, 2~3 in another, no
    * (1,2) pair) left node 2 mapping to itself and silently split the
    * cluster. See ConnectedComponents' Scaladoc for the algorithm and
    * the 100 TB shape. maxIter bounds propagation rounds (pointer
    * jumping makes effective distance 2^maxIter). */
  def canonicalizeFixpoint(
      docs: DataFrame,
      pairs: DataFrame,
      maxIter: Int = 50): DataFrame =
    ConnectedComponents.assign(docs, pairs, maxIter = maxIter)

  /** Canonical assignment from verified duplicate pairs: every doc maps to
    * min(own id, smallest duplicate partner). One-step union-find
    * approximation — see [[canonicalizeFixpoint]] for full components. */
  def canonicalize(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val partners = pairs.select(col("id_a").as("doc_id"), col("id_b").as("p"))
      .union(pairs.select(col("id_b").as("doc_id"), col("id_a").as("p")))
      .groupBy("doc_id").agg(min("p").as("min_partner"))
    docs.join(partners, Seq("doc_id"), "left")
      .select(col("doc_id"),
        least(col("doc_id"), coalesce(col("min_partner"), col("doc_id")))
          .as("canonical_id"))
  }

  /** Quality-aware representative per duplicate cluster: production
    * pipelines keep the BEST-scoring member of each near-dup component,
    * not the smallest id. Composes on a (doc_id, canonical_id)
    * assignment (e.g. [[canonicalizeFixpoint]]'s output) joined to a
    * per-doc score: one hash aggregate per cluster, `max_by` over the
    * (score, −doc_id) pair so ties break deterministically toward the
    * smaller id. Returns (canonical_id, keep_id, best_score,
    * cluster_size). */
  def bestPerCluster(
      assignment: DataFrame,
      scores: DataFrame,
      scoreCol: String = "quality_score"): DataFrame =
    assignment.join(scores, "doc_id")
      .groupBy(col("canonical_id"))
      .agg(
        max_by(col("doc_id"),
          struct(col(scoreCol), -col("doc_id"))).as("keep_id"),
        max(col(scoreCol)).as("best_score"),
        count(lit(1)).as("cluster_size"))
}
