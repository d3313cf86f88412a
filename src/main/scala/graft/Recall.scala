package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Pq, Similarity}

/** Measured recall@k of every approximate ANN path against the exact
  * brute-force baseline, on the real testdata embeddings — written to
  * RECALL.md. Two regimes per method:
  *
  *  - natural: recall@5 of the method's top-5 vs bruteTopK's top-5 on the
  *    raw table (uniform-ish synthetic embeddings — the HARD case for
  *    locality-sensitive methods, reported honestly);
  *  - planted: fraction of queries whose scaled-copy plant (guaranteed
  *    same bucket/cell/codes by construction) is recovered in the top-5 —
  *    the recovery guarantee the driver oracles assert, measured here
  *    across every path.
  *
  * Then the parameter sweep on clustered synthetic embeddings, and the
  * MinHash-LSH dedup recall per (bands, rowsPerBand) against the exact
  * shingle Jaccard ([[Dedup.shingleJaccard]]) of planted near-copies.
  *
  * Usage: runMain graft.Recall [sfDir] [dedupSfDir] (default sf0.1 and
  * sfDir). RECALL.md is generated at sf0.1 with the sf0.01 documents
  * for the dedup section, at SPARK_GRAFT_CPUS=32.
  */
object Recall {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val dedupDir = if (args.length > 1) args(1) else sfDir
    val spark = GraftSession.tool("recall")

    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val queries = e.filter(col("vec_id") % 100 === 0)
    val nQ = queries.count()

    val cb = Pq.train(e, m = 8, ksub = 16, iters = 3)
    val km = Similarity.kmeansParCentroids(e, k = 16, rounds = 3)

    def pairs(df: DataFrame): Set[(Long, Long)] = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet

    val brute = pairs(Similarity.bruteTopK(e, queries, k = 5))

    val methods: Seq[(String, (DataFrame, DataFrame) => DataFrame)] = Seq(
      "lsh (planes=6)" ->
        ((c, q) => Similarity.lshTopK(c, q, k = 5, planes = 6)),
      "multiprobe (planes=6)" ->
        ((c, q) => Similarity.lshTopKMultiProbe(c, q, k = 5, planes = 6)),
      "ivf (nlist=16, nprobe=4)" ->
        ((c, q) => Similarity.ivfTopK(c, q, k = 5, nlist = 16, nprobe = 4)),
      "ivf (kmeans|| centroids)" ->
        ((c, q) => Similarity.ivfTopK(c, q, k = 5, nlist = 16, nprobe = 4,
          trainedCentroids = Some(km))),
      "pq (m=8, ksub=16)" ->
        ((c, q) => Pq.topK(c, q, cb, k = 5)),
      "ivfpq (nlist=16, nprobe=4)" ->
        ((c, q) => Pq.ivfPqTopK(c, q, cb, k = 5, nlist = 16, nprobe = 4)))

    val plants = queries.select(
      (col("vec_id") + 10000000L).as("vec_id"),
      transform(col("embedding"), x => x * lit(1.1f)).as("embedding"))
    val planted = e.union(plants)

    val sb = new StringBuilder
    sb.append("# RECALL — measured recall@5 of the ANN paths\n\n")
    sb.append(s"Generated by `graft.Recall` at $sfDir ")
    sb.append(s"(${e.count()} vectors, $nQ queries, dim 64).\n\n")
    sb.append("`natural` = overlap@5 with exact brute-force cosine top-5 ")
    sb.append("on the raw table — synthetic embeddings are near-uniform, ")
    sb.append("the hard case for locality-sensitive methods, reported as ")
    sb.append("measured. `planted` = fraction of queries whose scaled-copy ")
    sb.append("plant is recovered in the top-5 (the guarantee the driver ")
    sb.append("oracles assert; 1.00 expected everywhere).\n\n")
    sb.append("| method | natural recall@5 | planted recovery |\n")
    sb.append("|---|---|---|\n")
    sb.append("| brute (baseline) | 1.00 | 1.00 |\n")

    methods.foreach { case (name, f) =>
      val natural = (brute intersect pairs(f(e, queries))).size.toDouble /
        brute.size
      val rec = f(planted, queries)
        .filter(col("vec_id") === col("query_id") + 10000000L)
        .select("query_id").distinct().count().toDouble / nQ
      sb.append(f"| $name | $natural%.2f | $rec%.2f |\n")
      println(f"[recall] $name natural=$natural%.3f planted=$rec%.3f")
    }
    sb.append("""
Reading the numbers: on near-uniform vectors the cosine gap between the
true top-5 and the rest is tiny, so pruning methods trade most of the
natural recall for their cost reduction (LSH prunes to one bucket in 64,
IVF to 4 cells in 16, PQ quantizes 8-dim subvectors to 16 cells); on
clustered data — the regime ANN is for — the sweep below shows the
pruning paths holding >=0.8 recall@5 at stated costs. The planted
column is the designed guarantee: scaling preserves hyperplane signs,
cell argmax and PQ codes, so every path must (and does) recover every
plant.
""")

    // ---- parameter sweep on CLUSTERED embeddings (the ANN regime) ------
    // Deterministic synthetic corpus: nClusters well-separated centers,
    // points = center + small noise, fixed seed — no testdata dependency,
    // reproducible across runs.
    val dim = 64; val nVec = 5000; val nClusters = 20
    val rnd = new scala.util.Random(20260812L)
    val centers = Array.fill(nClusters, dim)(rnd.nextGaussian().toFloat)
    val noise = 0.15f
    val rows = (0 until nVec).map { i =>
      val c = centers(i % nClusters)
      val v = Array.tabulate(dim)(d =>
        c(d) + noise * rnd.nextGaussian().toFloat)
      (i.toLong, v.toSeq)
    }
    import spark.implicits._
    val clustered = rows.toDF("vec_id", "embedding")
      .select(col("vec_id"),
        col("embedding").cast("array<float>").as("embedding"))
      .repartition(8).cache()
    val cQueries = clustered.filter(col("vec_id") % 50 === 0)
    val cNQ = cQueries.count()
    val cBrute = pairs(Similarity.bruteTopK(clustered, cQueries, k = 5))

    val cKm = Similarity.kmeansParCentroids(clustered, k = 16, rounds = 3)
    // one m=16 codebook shared by the pq/ivfpq/re-rank rows below —
    // training it per-row would triple the sweep's most expensive step
    lazy val cb16 = Pq.train(clustered, m = 16, ksub = 16, iters = 3)
    val sweep: Seq[(String, String, (DataFrame, DataFrame) => DataFrame)] =
      Seq(
        ("multiprobe planes=4", "probes 5/16 buckets",
          (c, q) => Similarity.lshTopKMultiProbe(c, q, k = 5, planes = 4)),
        ("multiprobe planes=6", "probes 7/64 buckets",
          (c, q) => Similarity.lshTopKMultiProbe(c, q, k = 5, planes = 6)),
        ("multiprobe planes=8", "probes 9/256 buckets",
          (c, q) => Similarity.lshTopKMultiProbe(c, q, k = 5, planes = 8)),
        ("ivf nprobe=1 (kmeans||)", "scans 1/16 cells",
          (c, q) => Similarity.ivfTopK(c, q, k = 5, nlist = 16, nprobe = 1,
            trainedCentroids = Some(cKm))),
        ("ivf nprobe=2 (kmeans||)", "scans 2/16 cells",
          (c, q) => Similarity.ivfTopK(c, q, k = 5, nlist = 16, nprobe = 2,
            trainedCentroids = Some(cKm))),
        ("ivf nprobe=4 (kmeans||)", "scans 4/16 cells",
          (c, q) => Similarity.ivfTopK(c, q, k = 5, nlist = 16, nprobe = 4,
            trainedCentroids = Some(cKm))),
        ("pq m=8 ksub=16", "full scan, 32x-compressed codes", {
          lazy val cb8 = Pq.train(clustered, m = 8, ksub = 16, iters = 3)
          (c, q) => Pq.topK(c, q, cb8, k = 5)
        }),
        ("pq m=16 ksub=16", "full scan, 16x-compressed codes",
          (c, q) => Pq.topK(c, q, cb16, k = 5)),
        ("ivfpq nprobe=4 m=16", "4/16 cells, 16x-compressed",
          (c, q) => Pq.ivfPqTopK(c, q, cb16, k = 5, nlist = 16, nprobe = 4)),
        ("pq m=16 + exact re-rank of top-300",
          "code scan + 300/5000 exact",
          (c, q) => Pq.topKRefined(c, q, cb16, k = 5, shortlist = 300)))

    sb.append("\n## Parameter sweep on clustered embeddings\n\n")
    sb.append(s"$nVec vectors in $nClusters well-separated Gaussian ")
    sb.append(s"clusters (dim $dim, noise $noise, fixed seed), $cNQ ")
    sb.append("queries, recall@5 vs exact brute force on the same table.\n\n")
    sb.append("| method | cost | recall@5 |\n|---|---|---|\n")
    sweep.foreach { case (name, cost, f) =>
      val r = (cBrute intersect pairs(f(clustered, cQueries))).size.toDouble /
        cBrute.size
      sb.append(f"| $name | $cost | $r%.2f |\n")
      println(f"[recall] clustered $name recall=$r%.3f")
    }
    sb.append("""
In the clustered regime the true neighbors share the query's cluster, so
cell/bucket PRUNING keeps them: IVF is at full recall from nprobe=1
(trained centroids align with the true clusters, the query's cell IS its
cluster) and multiprobe at every plane count (Hamming-1 probes cover the
cluster's sign wobble). PQ measures low here for a structural reason
worth stating: all ~250 same-cluster vectors quantize to nearly the same
codes, so ADC ranks the right CLUSTER but is near-random WITHIN it —
recall@5 ~ 5/250. That is the textbook behavior that makes PQ a
compressed COARSE filter: at scale it shortlists candidates 16-64x
cheaper, and the refine step (`Pq.topKRefined`: exact cosine over only
the shortlisted vectors — the last sweep row) restores recall at a cost
of shortlist/corpus exact work. The uniform table above is the honest
worst case for pruning; this clustered table is the honest worst case
for quantization-only ranking.
""")

    // ---- MinHash-LSH dedup recall vs exact shingle Jaccard -------------
    // Real documents plus perturbed copies that drop the last
    // ceil(p * words) words; each planted (copy, original) pair's
    // candidate recall is binned by its exact Jaccard.
    val nDocs = 600
    val docs = spark.read.parquet(s"$dedupDir/documents.parquet")
      .select("doc_id", "text").limit(nDocs).cache()
    val levels = Seq(0.02, 0.05, 0.10, 0.20, 0.30)
    val copies = levels.zipWithIndex.map { case (p, li) =>
      val off = (li + 1) * 10000000L
      docs.select(
        (col("doc_id") + off).as("doc_id"),
        expr(s"""array_join(slice(split(text, '\\\\s+'), 1,
          greatest(1, cast(size(split(text, '\\\\s+')) * ${1 - p} as int))), ' ')""")
          .as("text"),
        col("doc_id").as("orig"))
    }.reduce(_ unionByName _).cache()
    val corpus = docs.unionByName(copies.select("doc_id", "text")).cache()
    val truth = copies
      .join(docs.select(col("doc_id").as("orig"), col("text").as("text_o")),
        "orig")
      .select(col("doc_id"), col("orig"),
        Dedup.shingleJaccard(col("text"), col("text_o"), 3).as("j"))
      .cache()
    truth.count()

    sb.append("\n## MinHash-LSH dedup recall (measured vs theory)\n\n")
    sb.append(s"At $dedupDir: $nDocs real documents plus perturbed ")
    sb.append("copies at five truncation levels (drop the last 2–30% of ")
    sb.append("words), candidate recall of the planted pair measured ")
    sb.append("against its EXACT 3-gram shingle Jaccard, per (bands, ")
    sb.append("rowsPerBand), next to the S-curve theory 1−(1−J^r)^b at ")
    sb.append("the bin's mean J:\n\n")
    sb.append("| config | true J bin | pairs | measured recall | theory |\n")
    sb.append("|---|---|---|---|---|\n")
    val configs = Seq((8, 4), (8, 8), (16, 4), (16, 8), (32, 4))
    configs.foreach { case (bands, rows) =>
      val idx = Dedup.bandIndex(corpus, bands, rows)
      val cand = idx.alias("a").join(idx.alias("b"),
          col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
            col("a.doc_id") =!= col("b.doc_id"))
        .select(col("a.doc_id").as("doc_id"), col("b.doc_id").as("orig"))
        .dropDuplicates()
      val hit = truth.join(cand, Seq("doc_id", "orig"), "left_semi")
        .groupBy(floor(col("j") * 5).as("bin")).count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val tot = truth.groupBy(floor(col("j") * 5).as("bin"))
        .agg(count(lit(1)).as("n"), avg("j").as("jm"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      tot.sortBy(_._1).foreach { case (bin, n, jm) =>
        val rec = hit.getOrElse(bin, 0L).toDouble / n
        val theory = 1.0 - math.pow(1.0 - math.pow(jm, rows), bands)
        sb.append(f"| b=$bands, r=$rows | [${bin * 0.2}%.1f,${bin * 0.2 + 0.2}%.1f) " +
          f"| $n | $rec%.2f | $theory%.2f |\n")
        println(f"[recall] dedup b=$bands r=$rows bin=$bin n=$n " +
          f"recall=$rec%.3f theory=$theory%.3f")
      }
    }
    sb.append("""
Measured recall tracks the S-curve within a few points in every bin
with hundreds of pairs (the [0.4,0.6) bin holds 6 pairs, so one pair
moves its recall by 0.17), so the curve can be TRUSTED for parameter
choice at scale: pick (b, r) by
putting the curve's knee at the dedup threshold — b=16,r=4 for a 0.6
threshold (≥0.99 above 0.6, sharply lower below, 64 hashes), b=8,r=8
when candidate cost matters more than borderline recall (its J^8
steepness is also why `dedup_minhash`'s synthetic corpus uses r=8: tiny
shared vocabulary inflates base Jaccard, and shorter bands would flood
the buckets). Doubling bands (b=32) buys the [0.4,0.6) stragglers at 2x
index size and bucket-join cost — rarely the right trade for a 0.5+
threshold.

## Candidate-pair growth vs data size (the sf1 adjudication)

The sf1 scale family's two steepest rows — `embed_dups` 4.14× and
`dedup_minhash` 3.58× under 10× data — are pair-stage growth. Whether
that growth is benign depends on WHERE the pairs come from, and
PairGrowthSpec now pins the mechanism for both generators:

- **MinHash banding is density-driven, ≤ c·N on dup-free data.** Band
  hashes are content hashes: on a 20k-doc corpus of independent random
  token streams the banded self-join generates ~zero candidate pairs
  (spec bound: ≤ N at 1×, ≤ 10N at 10× — actual counts sit near zero).
  Every pair `dedup_minhash` pays for at sf1 is therefore a real
  shared-content collision: the bench corpus plants dup pairs at a
  fixed RATE, so 10× docs ⇒ 10× planted pairs, and each verify costs a
  Jaccard over the pair's shingles — the 3.58× wall growth is the
  dedup's actual work growing with dup density, not table².

- **Hyperplane bucketing is quadratic under FIXED planes — planes are
  a scale knob.** With `planes` fixed, buckets number 2^planes and
  dup-free pairs grow ≈ N²/2^planes: the spec demonstrates >20×
  candidate growth under 10× vectors at planes=6, then shows
  re-bucketing the same 10× corpus at planes=10 (+log2 10) restores
  ~linear growth. `embed_dups` at sf1 keeps the sf0.1 plane count, so
  part of its 4.14× is exactly this N²/2^p term (analytically ~33k →
  ~3.5M candidate cosines at these sizes — still cheap in absolute
  terms, which is why the wall grew only 4.14×, but the term is
  quadratic and would dominate at 100×). Operator guidance at scale:
  grow `planes` with log2(N) to hold per-bucket occupancy constant
  (the cosineDups cost model), or use `semDedup`'s k-means cells whose
  count (`nlist`) is the same knob with density-following placement.

- **r14: the discipline above is now the DEFAULT.** `cosineDups` with
  no explicit `planes` derives planes = ⌈log₂ N⌉ − 4 from one cheap
  corpus count (`Similarity.autoPlanes`), targeting ~16 expected
  same-bucket partners at any scale — candidate pairs stay ≤ c·N as
  the corpus grows (PairGrowthSpec pins pairs ≤ 2c·N at 1× and 10×
  with exact planted recall at both). Pass an explicit count only to
  trade compute for recall deliberately: FEWER planes widen buckets
  (better recall on near-but-not-identical pairs, more cosines); the
  default favors the linear-cost side because exact/scaled duplicates
  collide at any plane count.
""")
    Files.writeString(Paths.get("RECALL.md"), sb.toString)
    spark.stop()
  }
}
