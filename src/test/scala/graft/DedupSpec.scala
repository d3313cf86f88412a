package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, SimHash64}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def docs: DataFrame = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bend"),
    (3L, "completely different text about spark query engines and shuffles"),
    (4L, "the quick brown fox jumps over the lazy dog near the river bank"),
    (5L, "")
  ).toDF("doc_id", "text")

  test("exact dedup groups identical content under min doc_id") {
    val r = Dedup.exact(docs).filter($"n_dups" > 1).collect()
    assert(r.length == 1)
    assert(r.head.getAs[Long]("keep_id") == 1L)
    assert(r.head.getAs[Long]("n_dups") == 2L)
  }

  test("shingles produce word n-grams") {
    val sh = docs.filter($"doc_id" === 3)
      .select(Dedup.shingles($"text", 3)).head.getSeq[String](0)
    assert(sh.head == "completely different text")
    assert(sh.contains("spark query engines"))
  }

  test("minhash LSH finds near-duplicates, not distinct docs") {
    val pairs = Dedup.minhashLsh(docs, bands = 8, rowsPerBand = 2,
      threshold = 0.4)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(pairs.contains((1L, 4L))) // identical
    assert(pairs.contains((1L, 2L)) || pairs.contains((2L, 4L))) // near-dup
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L)) // distinct doc
  }

  test("ProfileGaps' job table attributes every job of a minhashLsh " +
      "collect, the AQE-submitted ones through their SQL execution") {
    val table = new ProfileGaps.JobTable
    org.apache.spark.sql.graft.Bridge.waitListenerBus(spark)
    spark.sparkContext.addSparkListener(table)
    try {
      Dedup.minhashLsh(docs, bands = 8, rowsPerBand = 2).collect()
      org.apache.spark.sql.graft.Bridge.waitListenerBus(spark)
    } finally spark.sparkContext.removeSparkListener(table)
    val recs = table.jobs.values.toArray(Array.empty[ProfileGaps.JobRec])
    assert(recs.length > 1, "minhashLsh runs several jobs")
    assert(recs.forall(_.via != "site"),
      recs.map(r => s"${r.via}: ${r.desc}").mkString("unattributed: ", " | ", ""))
    assert(recs.exists(r => r.via == "sql" && r.desc.contains("collect at")))
  }

  test("minhash LSH plan has no cartesian product") {
    val plan = Dedup.minhashLsh(docs).queryExecution.executedPlan.toString
    assert(!plan.contains("Cartesian"), s"plan had cartesian:\n$plan")
  }

  /** Every operator of an executed plan, through adaptive stages and
    * reused exchanges. */
  private def operators(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => operators(a.executedPlan)
    case q: QueryStageExec => q +: operators(q.plan)
    case r: ReusedExchangeExec => r +: operators(r.child)
    case o => o +: o.children.flatMap(operators)
  }

  /** The operators fused into one whole-stage codegen stage. */
  private def fused(p: SparkPlan): Seq[SparkPlan] =
    p +: p.children.filterNot(_.isInstanceOf[InputAdapter]).flatMap(fused)

  test("minhash LSH plan: co-partitioned band self-join, text verify in codegen") {
    val df = Dedup.minhashLsh(docs, bands = 8, rowsPerBand = 2, threshold = 0.4)
    df.collect()
    val ops = operators(df.queryExecution.executedPlan)
    val plan = df.queryExecution.executedPlan.toString
    val bandJoins = ops.collect {
      case j: SortMergeJoinExec if j.leftKeys.exists(_.toString.startsWith("band")) => j
    }
    assert(bandJoins.size == 1, plan)
    val j = bandJoins.head
    assert(operators(j.left).exists(_.isInstanceOf[ShuffleExchangeExec]), plan)
    assert(operators(j.right).exists(_.isInstanceOf[ReusedExchangeExec]), plan)
    assert(!ops.exists {
      case b: BroadcastExchangeExec => b.output.exists(_.name == "bh")
      case _ => false
    }, plan)
    assert(!plan.contains("shingles("), plan)
    val verify = ops.filter(_.expressions.exists(_.toString.contains("shingle_jaccard(")))
    val inCodegen = ops.collect { case w: WholeStageCodegenExec => fused(w.child) }.flatten
    assert(verify.nonEmpty && verify.forall(v => inCodegen.exists(_ eq v)), plan)
  }

  /** `minhashLsh` as it was before verification moved onto the texts:
    * a per-document shingle-array relation joined to the distinct pairs
    * and compared with `Dedup.jaccard`. */
  private def shingleArrayLsh(corpus: DataFrame, threshold: Double): DataFrame = {
    val withSh = corpus.select(col("doc_id"), Dedup.shingles(col("text"), 3).as("sh"))
    val banded = Dedup.capBuckets(Dedup.bandIndex(corpus, 8, 2, 3),
      Seq("band", "bh"), 10000)
    val a = banded.alias("a")
    val b = banded.alias("b")
    val pairs = a.join(b,
      col("a.band") === col("b.band") && col("a.bh") === col("b.bh")
        && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    pairs
      .join(withSh.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(withSh.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("jaccard", Dedup.jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  test("minhash LSH output equals the shingle-array pipeline") {
    val rnd = new scala.util.Random(7L)
    val words = Seq("the", "Brown", "fox", "\u0130zmir", "\u212Aelvin",
      "caf\u00e9", "dog")
    val base = (0 until 40).map(_ => Seq.fill(4 + rnd.nextInt(14))(
      words(rnd.nextInt(words.size))).mkString(" "))
    val generated = base.zipWithIndex.flatMap { case (t, i) =>
      Seq((100L + 2 * i, t),
        (101L + 2 * i, t.split(" ").map(w =>
          if (rnd.nextInt(6) == 0) words(rnd.nextInt(words.size)) else w)
          .mkString(", ")))
    }
    val corpus = (docs.as[(Long, String)].collect().toSeq ++ generated ++
      Seq((900L, null), (901L, ""), (902L, "!!")))
      .toDF("doc_id", "text")
    def rows(df: DataFrame) = df.select("id_a", "id_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    for (t <- Seq(0.0, 0.4)) {
      val want = rows(shingleArrayLsh(corpus, t))
      assert(want.size > 20, s"threshold $t: only ${want.size} pairs")
      assert(rows(Dedup.minhashLsh(corpus, bands = 8, rowsPerBand = 2,
        threshold = t)) == want, s"threshold $t")
    }
  }

  test("simhash: identical token sets get identical fingerprints") {
    val sims = docs.select($"doc_id", Dedup.simhash($"text").as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sims(1L) == sims(4L))
    assert(sims(1L) != sims(3L))
    // near-identical docs land within small hamming distance
    assert(java.lang.Long.bitCount(sims(1L) ^ sims(2L)) <= 8)
  }

  test("simhashDups pairs near-identical docs, verified by hamming") {
    val pairs = Dedup.simhashDups(docs, maxHamming = 8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(pairs.contains((1L, 4L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("ngram jaccard on candidate pair") {
    val j = docs.filter($"doc_id".isin(1, 2))
      .agg(collect_list($"text")).head.getSeq[String](0)
    val df = Seq((j(0), j(1))).toDF("a", "b")
    val sim = df.select(
      Dedup.jaccard(Dedup.shingles($"a"), Dedup.shingles($"b"))).head
      .getDouble(0)
    assert(sim > 0.5 && sim < 1.0)
  }

  test("canonicalizeFixpoint collapses chains to one component") {
    val chainDocs = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"),
      (9L, "z")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L, 1.0), (2L, 3L, 1.0), (3L, 4L, 1.0))
      .toDF("id_a", "id_b", "jaccard")
    val canon = Dedup.canonicalizeFixpoint(chainDocs, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(canon == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 9L -> 9L))
  }

  test("canonicalize maps dups to minimum partner") {
    val pairs = Seq((1L, 4L, 1.0), (1L, 2L, 0.8))
      .toDF("id_a", "id_b", "jaccard")
    val canon = Dedup.canonicalize(docs, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(canon == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 1L, 5L -> 5L))
  }

  test("group signatures: identical corpora → jaccard 1, disjoint → low") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta", "s1"),
      (2L, "eta theta iota kappa lambda mu", "s1"),
      (3L, "alpha beta gamma delta epsilon zeta", "s2"),  // == doc 1
      (4L, "eta theta iota kappa lambda mu", "s2"),        // == doc 2
      (5L, "nu xi omicron pi rho sigma tau", "s3")
    ).toDF("doc_id", "text", "source")
    val overlap = Dedup.groupOverlap(corpus, "source", numHashes = 32)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSeq
    val m = overlap.map(t => (t._1, t._2) -> t._3).toMap
    assert(m(("s1", "s2")) == 1.0)       // identical content
    assert(m(("s1", "s3")) < 0.3)        // disjoint content
    assert(m(("s2", "s3")) < 0.3)
  }

  test("minhash union aggregate survives partial aggregation") {
    val corpus = (1L to 100L)
      .map(i => (i, s"w$i x$i y$i z$i common words here", "g"))
      .toDF("doc_id", "text", "source")
      .repartition(7) // force map-side partials + merge
    val sig = Dedup.groupSignature(corpus, "source", numHashes = 16)
      .head.getSeq[Long](1)
    assert(sig.length == 16)
    assert(sig.forall(_ != Long.MaxValue))
  }

  test("simhash banding at the max radius keeps the pigeonhole guarantee") {
    // All 17 chunks at maxHamming=16 must cover REAL bits (a uniform ceil
    // width would alias the 17th chunk onto chunk 0 via Java's mod-64
    // shift); any pair within a smaller radius must a fortiori be found
    // at the larger one.
    def pairs(h: Int) = Dedup.simhashDups(docs, maxHamming = h)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val p3 = pairs(3)
    val p16 = pairs(16)
    assert(p3.nonEmpty && p3.subsetOf(p16), s"p3=$p3 p16=$p16")
  }

  test("bucket-size cap defuses an adversarial hot bucket") {
    // 300 byte-identical boilerplate docs share EVERY band hash → one
    // degenerate bucket per band, ~300²/2 candidate pairs without the
    // guard. With the cap they are pruned wholesale while a small planted
    // near-dup pair in its own bucket is still recovered.
    val boiler = (100L until 400L).map(i =>
      (i, "lorem ipsum dolor sit amet consectetur adipiscing elit"))
    val planted = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (2L, "the quick brown fox jumps over the lazy dog near the river bend"))
    val corpus = (boiler ++ planted).toDF("doc_id", "text")
    val pairs = Dedup.minhashLsh(corpus, bands = 8, rowsPerBand = 2,
      threshold = 0.4, maxBucketSize = 50)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(pairs == Set((1L, 2L)),
      s"expected only the planted pair to survive the cap, got $pairs")
    // Same guard on the simhash banding.
    val simPairs = Dedup.simhashDups(corpus, maxHamming = 3,
      maxBucketSize = 50).collect()
    assert(simPairs.forall(r => r.getAs[Long]("id_a") < 100L))
    // Default (uncapped-in-practice) still surfaces the boilerplate dups.
    val all = Dedup.minhashLsh(corpus, bands = 8, rowsPerBand = 2,
      threshold = 0.4).count()
    assert(all > 40000L)
  }

  test("fnv1a64 is stable") {
    assert(SimHash64.fnv1a64("abc") == SimHash64.fnv1a64("abc"))
    assert(SimHash64.fnv1a64("abc") != SimHash64.fnv1a64("abd"))
  }

  test("bestPerCluster keeps the highest-quality member, ties to min id") {
    val assign = Seq(
      (1L, 1L), (2L, 1L), (3L, 1L), // cluster 1
      (10L, 10L), (11L, 10L),       // cluster 10
      (20L, 20L)                    // singleton
    ).toDF("doc_id", "canonical_id")
    val scores = Seq(
      1L -> 0.5, 2L -> 0.9, 3L -> 0.9, // 2 and 3 tie -> keep 2
      10L -> 0.1, 11L -> 0.8,
      20L -> 0.3
    ).toDF("doc_id", "quality_score")
    val out = Dedup.bestPerCluster(assign, scores)
      .orderBy("canonical_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      (1L, 2L, 0.9, 3L),
      (10L, 11L, 0.8, 2L),
      (20L, 20L, 0.3, 1L)))
  }
}
