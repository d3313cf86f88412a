package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.mapping.Mapping
import graft.sources.Sources
import graft.store.ManifestTable

/** Job, exchange and task budget of `ManifestTable.merge`: a merge into a
  * plain hash layout parses its source once, shuffles it once and runs in
  * two Spark jobs (the source exchange's map stage, then the write), its
  * write sized by bytes — a small merge runs as many write tasks as the
  * session's parallelism, several buckets each; range and split layouts
  * keep the touched-bucket scan, and every path writes the same table. */
class MergeBudgetSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import MergeBudgetSpec.Run

  private val schema = StructType(Seq(
    StructField("id", StringType),
    StructField("name", StringType),
    StructField("score", LongType)))

  private def mapping: Mapping = {
    val m = new Mapping()
    m.auto("id"); m.auto("name"); m.auto("score")
    m.complete(schema)
    m
  }

  private def key(i: Int): String = f"k$i%05d"

  private def freshRoot(name: String): String = {
    val root = s"target/test-tmp/merge_budget/$name"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    root
  }

  /** 600 target rows, keys 0, 2, 4, … */
  private def target: DataFrame = spark.createDataFrame(
    spark.sparkContext.parallelize(
      (0 until 1200 by 2).map(i => Row(key(i), s"t$i", i.toLong)), 4),
    schema)

  /** The source as CSV text in two files: 400 keys, a third of them
    * already in the target, and every tenth key twice. */
  private def csvDir(name: String): (String, Long) = {
    val dir = Paths.get(freshRoot(s"$name-csv"))
    Files.createDirectories(dir)
    val lines = (0 until 400).flatMap { j =>
      val i = j * 3
      val row = s"${key(i)},s$i,${i * 10}"
      if (j % 10 == 0) Seq(row, s"${key(i)},dup$i,${i * 10 + 1}") else Seq(row)
    }
    lines.grouped(lines.size / 2 + 1).zipWithIndex.foreach { case (ls, p) =>
      Files.writeString(dir.resolve(s"part-$p.csv"), ls.mkString("", "\n", "\n"))
    }
    (dir.toString, lines.size.toLong)
  }

  private def observed(body: => Unit): Run = {
    org.apache.spark.sql.graft.Bridge.waitListenerBus(spark)
    var jobs = 0
    val descs = scala.collection.mutable.ArrayBuffer.empty[String]
    var records = 0L
    var writeTasks = 0
    val writeStages = scala.collection.mutable.Set.empty[Int]
    val plans = scala.collection.mutable.ArrayBuffer.empty[QueryExecution]
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
        jobs += 1
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        descs += desc
        if (desc.startsWith("graft.write")) writeStages ++= js.stageIds
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        synchronized {
          if (writeStages(sc.stageInfo.stageId))
            writeTasks += sc.stageInfo.numTasks
        }
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = synchronized {
        if (te.taskMetrics != null)
          records += te.taskMetrics.inputMetrics.recordsRead
      }
    }
    val ql = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        plans.synchronized { plans += qe }
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    spark.sparkContext.addSparkListener(l)
    spark.listenerManager.register(ql)
    try body
    finally {
      org.apache.spark.sql.graft.Bridge.waitListenerBus(spark)
      spark.sparkContext.removeSparkListener(l)
      spark.listenerManager.unregister(ql)
    }
    Run(jobs, descs.toSeq, records, plans.toSeq, writeTasks)
  }

  private def exchangesOf(qe: QueryExecution): Seq[Exchange] =
    collect(qe.executedPlan) { case e: Exchange => e }

  private def merge(root: String, csv: String, token: Long = 1L,
      delta: Boolean = false): Unit = {
    val m = mapping
    ManifestTable.merge(m.project(Sources.csv(spark, csv)), token, m, root,
      schema, numBuckets = 16, delta = delta)
  }

  private def rows(root: String): Seq[Row] =
    ManifestTable.read(spark, root, schema).collect().toSeq
      .sortBy(_.getString(0))

  private def pathOf(run: Run): String =
    if (run.descs.exists(_.contains("source exchange"))) "aligned"
    else if (run.descs.exists(_.contains("touched-bucket scan"))) "kept"
    else s"unknown: ${run.descs}"

  private def entriesOf(root: String) =
    ManifestTable.currentManifest(spark, root).get.entries

  import spark.implicits._

  private def bucketOf(k: String): Int =
    Seq(k).toDF("k").select(pmod(hash(col("k")), lit(16))).head.getInt(0)

  test("a CSV merge into a hash table: 2 jobs, one text scan, no " +
      "Exchange in the write, one file per bucket") {
    val root = freshRoot("hash")
    ManifestTable.create(target, "id", root, numBuckets = 16)
    val (csv, csvRows) = csvDir("hash")
    val before = ManifestTable.countRows(spark, root)
    val conf = spark.conf.getAll
    val run = observed(merge(root, csv))
    assert(spark.conf.getAll == conf, "merge changed the session conf")
    assert(pathOf(run) == "aligned")
    assert(run.jobs <= 2, s"${run.jobs} jobs: ${run.descs}")
    // a small merge writes in parallelism-many tasks, several buckets each
    assert(run.writeTasks == spark.sparkContext.defaultParallelism,
      s"${run.writeTasks} write tasks")
    // every bucket is touched, so the fragment is the whole target
    assert(run.recordsRead == csvRows + before,
      s"read ${run.recordsRead} records for $csvRows CSV + $before target")
    assert(run.plans.nonEmpty)
    run.plans.foreach(p =>
      assert(exchangesOf(p).isEmpty, s"exchange in\n${p.executedPlan}"))
    val es = entriesOf(root)
    assert(es.map(_.bucket).sorted == (0 until 16), "one file per bucket")
    assert(es.flatMap(e => ManifestTable.partIdOf(e.relPath.split('/').last))
      .distinct.size == run.writeTasks)
    assert(ManifestTable.countRows(spark, root) == 800)
  }

  test("a merge that creates its table runs aligned: one file per bucket " +
      "even below the shuffle partition count") {
    val (csv, _) = csvDir("fresh")
    val root = freshRoot("fresh")
    val m = mapping
    val run = observed(ManifestTable.merge(m.project(Sources.csv(spark, csv)),
      0L, m, root, schema, numBuckets = 2))
    assert(pathOf(run) == "aligned")
    run.plans.foreach(p =>
      assert(exchangesOf(p).isEmpty, s"exchange in\n${p.executedPlan}"))
    assert(entriesOf(root).map(_.bucket).sorted == Seq(0, 1))
    assert(ManifestTable.countRows(spark, root) == 400)
  }

  test("range and split layouts keep the touched-bucket scan and write " +
      "the same table") {
    val (csv, _) = csvDir("layouts")
    val hashRoot = freshRoot("layout_hash")
    ManifestTable.create(target, "id", hashRoot, numBuckets = 16)
    val rangeRoot = freshRoot("layout_range")
    ManifestTable.create(target, "id", rangeRoot, numBuckets = 16,
      rangeBounds = (1 to 15).map(b => key(b * 75)))
    val splitRoot = freshRoot("layout_split")
    ManifestTable.create(target, "id", splitRoot, numBuckets = 16)
    val sizes = entriesOf(splitRoot).map(_.bytes).sorted
    ManifestTable.splitBuckets(spark, splitRoot, schema, 7L,
      maxBytes = sizes(sizes.size / 2))
    assert(ManifestTable.currentManifest(spark, splitRoot).get.splits
      .nonEmpty)
    assert(pathOf(observed(merge(hashRoot, csv))) == "aligned")
    assert(pathOf(observed(merge(rangeRoot, csv))) == "kept")
    assert(pathOf(observed(merge(splitRoot, csv, token = 8L))) == "kept")
    val expected = rows(hashRoot)
    assert(expected.size == 800)
    assert(rows(rangeRoot) == expected)
    assert(rows(splitRoot) == expected)
  }

  test("with AQE off the hash merge still runs aligned and writes the " +
      "same table") {
    val (csv, _) = csvDir("noaqe")
    val onRoot = freshRoot("aqe_on")
    ManifestTable.create(target, "id", onRoot, numBuckets = 16)
    merge(onRoot, csv)
    val offRoot = freshRoot("aqe_off")
    ManifestTable.create(target, "id", offRoot, numBuckets = 16)
    val prior = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val run =
      try observed(merge(offRoot, csv))
      finally spark.conf.set("spark.sql.adaptive.enabled", prior)
    assert(pathOf(run) == "aligned")
    assert(run.jobs <= 2, s"${run.jobs} jobs: ${run.descs}")
    run.plans.foreach(p =>
      assert(exchangesOf(p).isEmpty, s"exchange in\n${p.executedPlan}"))
    assert(rows(offRoot) == rows(onRoot))
    assert(entriesOf(offRoot).groupBy(_.bucket).values.forall(_.size == 1))
  }

  test("a source the planner finds already bucket-partitioned takes the " +
      "touched-bucket scan") {
    // With AQE off, EnsureRequirements removes a repartition its child
    // already satisfies: a bucketed table read on the same key and
    // bucket count leaves no exchange to read statistics from.
    val srcRoot = freshRoot("prepartitioned_src")
    ManifestTable.create(spark.createDataFrame(spark.sparkContext
        .parallelize((0 until 300).map(i => Row(key(i * 5), s"p$i",
          i.toLong)), 2), schema), "id", srcRoot, numBuckets = 16)
    val root = freshRoot("prepartitioned")
    ManifestTable.create(target, "id", root, numBuckets = 16)
    val source = ManifestTable.read(spark, srcRoot, schema)
      .withColumn(Mapping.LineCol, lit(0L))
    val prior = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val run =
      try observed(ManifestTable.merge(source, 1L, mapping, root, schema))
      finally spark.conf.set("spark.sql.adaptive.enabled", prior)
    assert(pathOf(run) == "kept")
    assert(ManifestTable.countRows(spark, root) == 780)
    assert(ManifestTable.lookup(spark, root, schema, "id", Seq(key(5)))
      .collect().head.getString(1) == "p1")
  }

  test("a delta merge scans its source once; a merge into the multi-file " +
      "buckets it leaves takes the touched-bucket scan") {
    val (csv, csvRows) = csvDir("delta")
    val fullRoot = freshRoot("delta_full")
    ManifestTable.create(target, "id", fullRoot, numBuckets = 16)
    merge(fullRoot, csv)
    val root = freshRoot("delta")
    ManifestTable.create(target, "id", root, numBuckets = 16)
    val before = ManifestTable.countRows(spark, root)
    val run = observed(merge(root, csv, delta = true))
    assert(pathOf(run) == "aligned")
    // keeping only the source's keys turns the full-outer join into a
    // right-outer one; the fragment's size stays hidden from the planner,
    // so it is still the shuffle-free sort-merge join, not a broadcast
    assert(run.jobs <= 2, s"${run.jobs} jobs: ${run.descs}")
    run.plans.foreach(p => assert(collect(p.executedPlan) {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike =>
        e }.isEmpty, s"shuffle in\n${p.executedPlan}"))
    assert(run.recordsRead == csvRows + before,
      s"read ${run.recordsRead} records for $csvRows CSV + $before target")
    assert(rows(root) == rows(fullRoot))
    // only the batch's rows were written, beside the kept base files
    assert(entriesOf(root).map(_.rows).sum == before + 400)
    merge(fullRoot, csv, token = 2L)
    assert(pathOf(observed(merge(root, csv, token = 2L, delta = true))) ==
      "kept")
    assert(rows(root) == rows(fullRoot))
  }

  test("a merge runs one write task per bucket when coalescing is off, " +
      "when its input passes the advisory size, and on a prime bucket " +
      "count; every table reads back the same") {
    val (csv, _) = csvDir("ungrouped")
    val grouped = freshRoot("ungrouped_ref")
    ManifestTable.create(target, "id", grouped, numBuckets = 16)
    merge(grouped, csv)
    def withConf(k: String, v: String)(body: => Run): Run = {
      val prior = spark.conf.getOption(k)
      spark.conf.set(k, v)
      try body
      finally prior.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
    def perBucket(name: String, buckets: Int)(run: String => Run): String = {
      val root = freshRoot(name)
      ManifestTable.create(target, "id", root, numBuckets = buckets)
      val r = run(root)
      assert(pathOf(r) == "aligned", name)
      assert(r.jobs <= 2, s"$name: ${r.jobs} jobs: ${r.descs}")
      assert(r.writeTasks == buckets, s"$name: ${r.writeTasks} write tasks")
      r.plans.foreach(p =>
        assert(exchangesOf(p).isEmpty,
          s"$name: exchange in\n${p.executedPlan}"))
      assert(entriesOf(root).map(_.bucket).sorted == (0 until buckets), name)
      root
    }
    val roots = Seq(
      perBucket("no_coalesce", 16)(root =>
        withConf("spark.sql.adaptive.coalescePartitions.enabled", "false")(
          observed(merge(root, csv)))),
      perBucket("small_advisory", 16)(root =>
        withConf("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64")(
          observed(merge(root, csv)))),
      perBucket("prime", 13)(root => observed(merge(root, csv))))
    val expected = rows(grouped)
    assert(expected.size == 800)
    roots.foreach(r => assert(rows(r) == expected, r))
  }

  test("merge stats count ignored and null-keyed rows; only their " +
      "buckets are not rewritten") {
    import graft.operators.{ImportPipeline, Upsert}
    val root = freshRoot("stats")
    ManifestTable.create(target, "id", root, numBuckets = 16)
    // taking part: 40 keys in the buckets of keys 0..39 (half new, half
    // updates); ignored and null-keyed rows only in OTHER buckets
    val kept = (0 until 40).map(key)
    val keptBuckets = kept.map(bucketOf).toSet
    val others = (40 until 1200).map(key)
      .filterNot(k => keptBuckets(bucketOf(k)))
    assert(others.nonEmpty, "need buckets the kept rows miss")
    val skipped = others.take(5)
    val rawRows =
      kept.map(k => Seq(k, s"n$k", "1", "go")) ++
        skipped.map(k => Seq(k, s"x$k", "2", "skip")) ++
        Seq(Seq("", "nokey", "3", "go"), Seq("", "nokey2", "4", "skip"))
    def batch(rs: Seq[Seq[String]]): DataFrame =
      rs.zipWithIndex.map { case (r, i) => (r, i.toLong) }
        .toDF(Mapping.RawCol, Mapping.LineCol)
    val go = element_at(col(Mapping.RawCol), 4) === "go"
    val m = mapping
    // the merge's target is the touched buckets' fragment, so its
    // not_found counts only their rows
    def expectedStats(rs: Seq[Seq[String]], touched: Set[Int]): Row = {
      val flagged = batch(rs).withColumn(Mapping.IgnoreCol, !go)
      Upsert(ManifestTable.read(spark, root, schema)
          .filter(pmod(hash(col("id")), lit(16)).isin(touched.toSeq: _*)),
        m.complete(schema).project(flagged), m,
        ignoreWhen = Some(col(Mapping.IgnoreCol))).stats.collect().head
    }
    def lastStats(): Row = {
      val all = ManifestTable.statsOf(spark, root)
      all.filter(col("_version") === all.agg(max("_version")).head.get(0))
        .drop("_version").collect().head
    }
    def commit(rs: Seq[Seq[String]]): Unit =
      ImportPipeline.commitIncremental(spark, root, schema,
        Seq(ImportPipeline.SourceDef(batch(rs), m, shouldImport = Some(go))),
        recordStats = true)

    val want = expectedStats(rawRows, keptBuckets)
    assert(want.getAs[Long]("ignored") == 6L)
    assert(want.getAs[Long]("ignored_missing_id") == 1L)
    val e0 = entriesOf(root)
    commit(rawRows)
    assert(lastStats() == want)
    val e1 = entriesOf(root)
    val rewritten = e1.filterNot(e0.contains).map(_.bucket).toSet
    assert(rewritten == keptBuckets, s"rewrote $rewritten")
    assert(ManifestTable.lookup(spark, root, schema, "id", skipped)
      .filter(col("name").startsWith("x")).count() == 0)

    // an all-ignored (and null-keyed) batch rewrites nothing
    val idle = skipped.map(k => Seq(k, s"y$k", "5", "skip")) :+
      Seq("", "nokey", "6", "go")
    val wantIdle = expectedStats(idle, Set.empty)
    commit(idle)
    assert(lastStats() == wantIdle)
    assert(wantIdle.getAs[Long]("ignored") == 5L &&
      wantIdle.getAs[Long]("ignored_missing_id") == 1L)
    assert(entriesOf(root).toSet == e1.toSet, "an idle batch rewrote files")
  }
}

object MergeBudgetSpec {

  /** Jobs, their descriptions, CSV/parquet records read, the plans of
    * every query a merge runs and the tasks of its write stages. */
  final case class Run(jobs: Int, descs: Seq[String], recordsRead: Long,
      plans: Seq[QueryExecution], writeTasks: Int)
}
