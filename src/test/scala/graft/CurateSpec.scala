package graft

import graft.operators.Curate

class CurateSpec extends SparkSpec {
  import spark.implicits._

  test("curation keeps good english docs, drops junk and exact dups") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "!!! ??? ;;; :::"),
      (4L, "le chat est dans la maison et il est content aujourd'hui oui"),
      (5L, "the data pipeline is fast and it is correct for the most part")
    ).toDF("doc_id", "text")
    val out = Curate(docs, minQuality = 0.6, langs = Seq("en"))
      .orderBy("doc_id").collect()
    val ids = out.map(_.getLong(0)).toSeq
    assert(ids == Seq(1L, 5L)) // 2 = dup of 1, 3 = junk, 4 = french
    assert(out.forall(_.getDouble(2) >= 0.6))
  }

  test("decontamination drops docs sharing an n-gram with the benchmark") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"), // shares 4-gram w/ bench
      (2L, "one two three four five six seven"),   // clean
      (3L, "xx yy alpha beta gamma delta zz"),     // shares the same 4-gram
      (4L, "totally unrelated words entirely here")// clean
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "alpha beta gamma delta"))
      .toDF("doc_id", "text")
    val kept = Curate.decontaminate(corpus, bench, n = 4)
      .select("doc_id").orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    assert(kept == Seq(2L, 4L), s"got $kept")
    // the contamination check must broadcast the benchmark grams — the
    // corpus is never shuffled to FIND contamination
    val plan = Curate.decontaminate(corpus, bench, n = 4)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast:\n$plan")
  }

  test("bloom decontamination equals the broadcast path at any fpp") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six seven"),
      (3L, "xx yy alpha beta gamma delta zz"),
      (4L, "totally unrelated words entirely here")
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val exact = Curate.decontaminate(corpus, bench, n = 4)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // an absurd 50% fpp floods the prefilter with false positives; the
    // exact-verify join must still kill every one of them
    val viaBloom = Curate.decontaminateBloom(corpus, bench, n = 4,
      fpp = 0.5).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(viaBloom == exact && exact == Set(2L, 4L))
  }

  test("ratio decontamination tolerates incidental overlap below threshold") {
    val corpus = Seq(
      // 6 tokens → 3 distinct 4-grams, 1 shared with bench → ratio 1/3
      (1L, "alpha beta gamma delta other words"),
      // every 4-gram shared → ratio 1.0
      (2L, "alpha beta gamma delta"),
      (3L, "completely clean document with nothing shared here")
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "alpha beta gamma delta"))
      .toDF("doc_id", "text")
    def kept(max: Double) =
      Curate.decontaminateRatio(corpus, bench, n = 4, maxOverlap = max)
        .select("doc_id").orderBy("doc_id").collect()
        .map(_.getLong(0)).toSeq
    assert(kept(0.5) == Seq(1L, 3L))  // doc 1's 1/3 tolerated, doc 2 out
    assert(kept(0.0) == Seq(3L))      // strict: any overlap drops
  }

  test("repetition gate drops boilerplate-heavy docs inside curation") {
    val docs = Seq(
      (1L, "the data pipeline is fast and it is correct for the most part"),
      (2L, ("the data pipeline is fine and good\n" * 5) +
        "the data pipeline is fast and it is correct for the most part")
    ).toDF("doc_id", "text")
    val strict = Curate(docs, minQuality = 0.2, maxDupLineFrac = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(strict == Seq(1L), s"got $strict")
    val off = Curate(docs, minQuality = 0.2)
      .select("doc_id").collect().map(_.getLong(0)).toSeq.sorted
    assert(off == Seq(1L, 2L), s"got $off")
  }

  test("hash split is disjoint, exhaustive, deterministic, near-uniform") {
    val docs = (1L to 2000L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val train = Curate.hashSplit(docs, 0.0, 0.9)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val valid = Curate.hashSplit(docs, 0.9, 1.0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert((train & valid).isEmpty, "splits must be disjoint")
    assert(train.size + valid.size == 2000, "splits must be exhaustive")
    assert(math.abs(train.size - 1800) < 100,
      s"90% cut far from uniform: ${train.size}")
    // deterministic: same inputs → identical assignment
    assert(Curate.hashSplit(docs, 0.0, 0.9)
      .select("doc_id").collect().map(_.getLong(0)).toSet == train)
    // salt reshuffles membership
    val salted = Curate.hashSplit(docs, 0.0, 0.9, salt = "x")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(salted != train)
  }

  test("line dedup keeps first occurrence, reassembles, drops empty docs") {
    val docs = Seq(
      (1L, "HEADER\nbody one\nFOOTER"),
      (2L, "HEADER\nbody two\nFOOTER"),
      (3L, "HEADER\nFOOTER"), // nothing unique → doc drops out
      (4L, "body one\nfresh line") // "body one" already seen in doc 1
    ).toDF("doc_id", "text")
    val out = Curate.dedupLines(docs).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(out == Seq(
      (1L, "HEADER\nbody one\nFOOTER"), // first occurrence of all three
      (2L, "body two"),
      (4L, "fresh line")))
  }

  test("line dedup ignores blank lines and preserves line order") {
    val docs = Seq(
      (10L, "a\n\n  \nb"),
      (11L, "b\nc\na")).toDF("doc_id", "text")
    val out = Curate.dedupLines(docs).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    // blanks never survive; doc 11 keeps only its unseen line "c"
    assert(out == Seq((10L, "a\nb"), (11L, "c")))
  }

  test("mixture sample fills per-source budgets deterministically") {
    val docs = (1L to 40L).map { i =>
      (i, if (i <= 20) "big" else "small", 10L)
    }.toDF("doc_id", "source", "n_chars")
    val weights = Map("big" -> 0.5, "small" -> 0.1) // caps: 50 and 10 chars
    val once = Curate.mixtureSample(docs, weights, budget = 100L,
      salt = "s").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    // budget respected per source: 5 big docs (50/10), 1 small (10/10)
    assert(once.count(_._2 == "big") == 5 && once.count(_._2 == "small") == 1)
    // deterministic: independent of input partitioning/order
    val again = Curate.mixtureSample(
      docs.repartition(7).orderBy($"doc_id".desc), weights,
      budget = 100L, salt = "s")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(once == again)
    // a source with no weight contributes nothing
    val noSmall = Curate.mixtureSample(docs, Map("big" -> 0.5),
      budget = 100L, salt = "s").collect().map(_.getString(1)).toSet
    assert(noSmall == Set("big"))
  }

  test("mixture sample's window sorts a slim frame, never the content") {
    // The per-source running-sum window must see only (id, source, size)
    // plus its projected sort key — document content joins back by id
    // AFTER the draw, so the text never rides the window's sort-exchange.
    val docs = (1L to 10L).map { i =>
      (i, "big", 10L, "PAYLOAD-" * 1000 + i)
    }.toDF("doc_id", "source", "n_chars", "text")
    val out = Curate.mixtureSample(docs, Map("big" -> 0.5), budget = 100L,
      salt = "s")
    out.collect() // finalize the adaptive plan
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def flatten(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
      case q: QueryStageExec => flatten(q.plan)
      case _ => p.children.flatMap(flatten)
    })
    val windows = flatten(out.queryExecution.executedPlan).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty, "expected a window for the running sum")
    windows.foreach { w =>
      val names = w.child.output.map(_.name)
      assert(!names.exists(_.contains("text")),
        s"window frame must not carry the content column: $names")
      assert(names.size <= 4, // id, source, size + projected sort key
        s"window frame must stay slim, got $names")
    }
    // and the draw still returns the content
    assert(out.columns.contains("text") &&
      out.select("text").head.getString(0).startsWith("PAYLOAD-"))
  }

  test("exact-substring dedup cuts duplicated passages, keeps the first") {
    // doc 1 and doc 2 share an 8-token passage (longer than k=4, so its
    // overlapping windows cover it fully); doc 3 shares only a 3-token
    // phrase (shorter than k — untouched); doc 4 repeats a passage
    // WITHIN itself.
    val passage = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      (1L, s"intro one two $passage outro aaa"),
      (2L, s"different start here $passage and a different end"),
      (3L, "nothing shared except alpha beta gamma standing alone xx yy"),
      (4L, "p q r s t u v w " + "p q r s t u v w " + "tail x y z"))
      .toDF("doc_id", "text")
    val out = Curate.dedupSubstrings(docs, k = 4)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // doc 1 is canonical everywhere: unchanged (normalized space)
    assert(out(1L) == s"intro one two $passage outro aaa")
    // doc 2 lost exactly the shared passage
    assert(out(2L) == "different start here and a different end",
      s"doc 2: ${out(2L)}")
    // doc 3 untouched: the shared run is shorter than k
    assert(out(3L) ==
      "nothing shared except alpha beta gamma standing alone xx yy")
    // doc 4's self-repeat survives once
    assert(out(4L) == "p q r s t u v w tail x y z", s"doc 4: ${out(4L)}")
    // deterministic under repartition
    val again = Curate.dedupSubstrings(docs.repartition(7), k = 4)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(again == out)
  }

  test("exact-substring dedup: duplicate-window exchange is slim") {
    val docs = (1L to 6L).map(i =>
      (i, ("shared passage common to all docs here " * 3) +
        s"unique tail $i " + ("PAYLOAD" * 200)))
      .toDF("doc_id", "text")
    val out = Curate.dedupSubstrings(docs, k = 5)
    // the min-aggregate that finds first occurrences must see only the
    // (hash, packed-pos) pair, never window text or document text
    out.collect()
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def flatten(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
      case q: QueryStageExec => flatten(q.plan)
      case _ => p.children.flatMap(flatten)
    })
    val aggs = flatten(out.queryExecution.executedPlan).collect {
      case h: org.apache.spark.sql.execution.aggregate.HashAggregateExec
          if h.aggregateExpressions.exists(_.toString.contains("min")) => h
    }
    assert(aggs.nonEmpty, "expected the first-occurrence min aggregate")
    aggs.foreach { h =>
      val names = h.child.output.map(_.name)
      assert(!names.contains("text") && !names.exists(_.contains("_t")),
        s"duplicate-window exchange must be slim: $names")
    }
  }

  test("exact-substring dedup stays linear on a long mostly-duplicated " +
      "doc (50k tokens, ~80% cut)") {
    // The adversarial shape for cut application: one long document where
    // most token positions fall inside duplicated windows. The per-token
    // array_contains rebuild this operator used to have is O(tokens ×
    // cuts) — minutes here in an interpreted HOF; the merge-walk is one
    // pass and finishes with the rest of the suite's small queries.
    val rnd = new scala.util.Random(11)
    // ~40k duplicated tokens (100 shared 400-token passages), ~10k
    // unique; tokens are pure alphanumerics so the operator's tokenizer
    // keeps them whole
    val passages = (0 until 100).map(p =>
      (0 until 400).map(t => s"shared${p}x$t").mkString(" "))
    def uniq(tag: String, n: Int) =
      (0 until n)
        .map(i => s"${tag}u${i}n${math.abs(rnd.nextInt(1000000))}")
        .mkString(" ")
    val docA = passages.zipWithIndex
      .map { case (p, i) => s"${uniq(s"a$i", 100)} $p" }.mkString(" ")
    val docB = passages.zipWithIndex
      .map { case (p, i) => s"${uniq(s"b$i", 100)} $p" }.mkString(" ")
    val docs = Seq((1L, docA), (2L, docB)).toDF("doc_id", "text")
    val t0 = System.nanoTime()
    val out = Curate.dedupSubstrings(docs, k = 20)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val secs = (System.nanoTime() - t0) / 1e9
    // doc 1 is canonical (smaller packed occurrence): fully kept
    assert(out(1L).split(" ").length == docA.split(" ").length)
    // doc 2 lost every shared passage but kept every unique run; the
    // window convention also cuts up to k-1 unique tokens adjacent to
    // each passage boundary, so bound rather than count exactly
    val keptB = out(2L).split(" ")
    assert(keptB.forall(!_.startsWith("shared")),
      "every duplicated token must be cut from the later doc")
    assert(keptB.length > 100 * (100 - 20) && keptB.length <= 100 * 100,
      s"unique runs must survive, got ${keptB.length}")
    // generous ceiling that a quadratic rebuild still cannot meet
    assert(secs < 60.0, f"cut application took $secs%.1f s — quadratic?")
  }

  test("per-key cap keeps the best n per key, deterministically") {
    val docs = (1L to 20L).map { i =>
      (i, if (i <= 12) "big" else "small", (i % 7) * 10L, s"text$i")
    }.toDF("doc_id", "source", "n_chars", "text")
    val out = Curate.capPerKey(docs, n = 3)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(out.count(_._2 == "big") == 3 &&
      out.count(_._2 == "small") == 3)
    // largest n_chars win; ties (i%7 collides) break by LOWEST doc_id
    val bigIds = out.filter(_._2 == "big").map(_._1)
    val expectBig = (1L to 12L).sortBy(i => (-(i % 7) * 10L, i)).take(3).toSet
    assert(bigIds == expectBig, s"got $bigIds want $expectBig")
    // deterministic under repartition and content is preserved
    val again = Curate.capPerKey(docs.repartition(5), n = 3)
    assert(again.collect().map(r => (r.getLong(0), r.getString(1))).toSet
      == out)
    assert(again.columns.contains("text") && again.columns.contains("rank"))
  }

  test("redaction applies inside curation") {
    val docs = Seq(
      (1L, "the contact for the data team is help@example.com and it is fine")
    ).toDF("doc_id", "text")
    val out = Curate(docs, minQuality = 0.2).head
    assert(out.getString(1).contains("<EMAIL>"))
  }

  test("redaction runs as one codegen'd kernel, not a regex chain") {
    import org.apache.spark.sql.catalyst.expressions.RegExpReplace
    import org.apache.spark.sql.execution.{InputAdapter, ProjectExec, SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.functions._
    import graft.operators.RedactPii
    object Plans extends AdaptiveSparkPlanHelper
    // a range, not a local relation: the optimizer folds projections over
    // local rows into the relation, which would leave no Project to check
    val docs = spark.range(0, 40).select(col("id").as("doc_id"),
      concat(lit("the contact for the data team is help"), col("id"),
        lit("@example.com and it is fine")).as("text"))
    val curated = Curate(docs, minQuality = 0.2)
    assert(curated.collect().forall(_.getString(1).contains("<EMAIL>")))
    val plan = curated.queryExecution.executedPlan
    // the operators one generated stage fuses: down to its input adapters
    def stageOps(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: InputAdapter => Nil
      case o => o +: o.children.flatMap(stageOps)
    }
    val fused = Plans.collect(plan) { case w: WholeStageCodegenExec => w }
      .flatMap(w => stageOps(w.child))
    def redacts(p: SparkPlan) = p match {
      case pr: ProjectExec =>
        pr.projectList.exists(_.exists(_.isInstanceOf[RedactPii]))
      case _ => false
    }
    assert(fused.exists(redacts),
      s"no redact_pii projection inside whole-stage codegen:\n$plan")
    assert(!Plans.collect(plan) { case p => p.expressions }.flatten
      .exists(_.exists(_.isInstanceOf[RegExpReplace])),
      s"regexp_replace left in the plan:\n$plan")
  }

  test("full pipeline composes: curate -> line dedup -> decontaminate " +
      "-> mixture -> chunk -> pack") {
    import org.apache.spark.sql.functions._
    import graft.operators.{SequencePacker, TextAnalysis}
    val docs = Seq(
      (1L, "HEADER\nthe data pipeline is fast and it is correct for the most part", "web"),
      (2L, "HEADER\nthe quick brown fox jumps over the lazy dog again and again", "web"),
      (3L, "HEADER\nalpha beta gamma delta shares a benchmark four gram here today", "web"),
      (4L, "!!! ??? ;;; :::", "web"), // junk -> quality gate
      (5L, "HEADER\nanother well formed english document with plenty of words inside", "books")
    ).toDF("doc_id", "text", "source")
    val bench = Seq((100L, "alpha beta gamma delta"))
      .toDF("doc_id", "text")
    // 1-2: quality/lang/redact/exact-dedup, then cross-doc line dedup
    val curated = Curate(docs, minQuality = 0.5, langs = Seq("en"))
      .select(col("doc_id"), col("clean_text").as("text"))
    val lineDeduped = Curate.dedupLines(curated)
    // the shared HEADER line survives exactly once across the corpus
    assert(lineDeduped.filter(col("text").contains("HEADER")).count() == 1)
    // 3: benchmark decontamination drops doc 3
    val clean = Curate.decontaminate(lineDeduped, bench, n = 4)
    assert(!clean.select("doc_id").collect().map(_.getLong(0))
      .contains(3L))
    // 4: deterministic mixture draw over the surviving docs
    val sized = clean.join(docs.select("doc_id", "source"), "doc_id")
      .withColumn("n_chars", length(col("text")))
    val mixed = Curate.mixtureSample(sized,
      Map("web" -> 0.8, "books" -> 0.2), budget = 1000L)
    assert(mixed.count() > 0)
    // 5-6: context chunks, then greedy packing to a token budget
    val chunks = TextAnalysis.chunk(
      mixed.select("doc_id", "text"), chunkTokens = 6, overlapTokens = 0)
    val packed = SequencePacker.pack(
      chunks.select(
        (col("doc_id") * 1000 + col("chunk_id")).as("doc_id"),
        col("n_tokens").cast("long").as("n_tokens")),
      maxTokens = 12)
    // every chunk lands in exactly one pack and no pack overflows
    assert(packed.count() == chunks.count())
    assert(packed.agg(max("pack_tokens")).head.getLong(0) <= 12L)
  }
}
