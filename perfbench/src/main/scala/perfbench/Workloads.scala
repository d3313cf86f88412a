package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.functions.Parsers
import graft.mapping.{ColOpts, Mapping}
import graft.operators.{Curate, Dedup, Upsert}
import graft.sources.Sources
import graft.store.ManifestTable

/** A workload: seeded inputs, the op a user runs on them, and the check
  * of each op's output. */
trait Workload {
  /** Input rows or documents one op consumes. */
  def rowsPerOp: Long
  /** Span that wraps the timed call in a traced op. */
  def mainSpan: String
  /** Generates the inputs and fixture tables under `dir`. */
  def prepare(dir: Path): Unit
  /** Discarded ops before timing. A process's first op is two to three
    * times slower than a warm one, and ops keep getting faster while the
    * JIT compiles; timing earlier puts that trend into the medians. A count
    * rather than a time: a warm-up of fixed seconds runs fewer ops on a
    * slower machine and then times ops from earlier in the trend, which
    * doubles the machine's own drift. */
  def warmUpOps: Int
  /** Runs `ops` discarded ops that absorb JIT, codegen and cache warm-up. */
  def warmUp(meter: Meter, ops: Int): Unit
  /** One unit of measured work: timed calls through `meter`. */
  def cycle(c: Int, meter: Meter, tr: Tracer): Unit
  /** Per-layer figures of the traced cycles. */
  def layers(tr: SpanTracer, jobs: Seq[JobRecord]): Map[String, Double]
}

object Workload {
  def apply(name: String, spark: SparkSession, seed: Long, work: Path)
      : Workload = name match {
    case "bulk_import" => new BulkImport(spark, seed, work)
    case "incremental_merge" => new IncrementalMerge(spark, seed, work)
    case "curate_dedup" => new CurateDedup(spark, seed, work)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
  val names = Seq("bulk_import", "incremental_merge", "curate_dedup")
}

/** Filesystem and plan helpers shared by the workloads. */
object Fs extends AdaptiveSparkPlanHelper {
  def delete(p: Path): Unit = if (Files.exists(p)) {
    val all = Files.walk(p).iterator().asScala.toSeq
    all.reverse.foreach(Files.delete)
  }

  def copyTree(from: Path, to: Path): Unit = {
    val all = Files.walk(from).iterator().asScala.toSeq
    all.foreach { src =>
      val dst = to.resolve(from.relativize(src).toString)
      if (Files.isDirectory(src)) Files.createDirectories(dst)
      else Files.copy(src, dst)
    }
  }

  def bytes(p: Path): Long =
    Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Sum of a SQL metric over every node of an executed plan. */
  def planMetric(df: DataFrame, metric: String): Long =
    collect(df.queryExecution.executedPlan) {
      case p if p.metrics.contains(metric) => p.metrics(metric).value
    }.sum

  /** Output rows of the join keyed on `key`: LSH candidate pairs. */
  def joinOutputRows(df: DataFrame, key: String): Long =
    collect(df.queryExecution.executedPlan) {
      case j: BaseJoinExec if j.leftKeys.exists(_.references.exists(_.name == key)) &&
          j.metrics.contains("numOutputRows") =>
        j.metrics("numOutputRows").value
    }.sum
}

/** Per-layer arithmetic over the traced spans and jobs. */
final class LayerView(tr: SpanTracer, jobs: Seq[JobRecord]) {
  private val spans = tr.spans

  def named(name: String): Seq[Span] = spans.filter(_.name == name)

  def jobsOf(s: Span): Seq[JobRecord] = {
    val ids = tr.subtree(s.id)
    jobs.filter(j => ids(j.span))
  }

  def intervals(js: Seq[JobRecord]): Seq[(Double, Double)] =
    js.map(j => (j.start, j.end))

  def gapS(s: Span): Double = Stats.selfTime(s.start, s.end, intervals(jobsOf(s))) / 1e3

  /** Busy time of the jobs of `s` whose description satisfies `p`. */
  def jobTimeS(s: Span, p: String => Boolean): Double = {
    val iv = intervals(jobsOf(s).filter(j => p(j.description)))
    Stats.covered(s.start, s.end, iv) / 1e3
  }

  def stageSum(s: Span, f: StageMetrics => Long): Long =
    jobsOf(s).flatMap(_.stages).map(f).sum

  /** Span `name` of the same op as `s`. */
  def sibling(s: Span, name: String): Option[Span] =
    spans.find(x => x.opId == s.opId && x.name == name)

  def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  /** Engine figures per op, over the spans named `main`. */
  def engine(main: String): Map[String, Double] = {
    val ops = named(main)
    Map(
      "spark.jobs_per_op" -> med(ops.map(s => jobsOf(s).size.toDouble)),
      "spark.stages_per_op" -> med(ops.map(s => jobsOf(s).map(_.stages.size).sum.toDouble)),
      "spark.tasks_per_op" -> med(ops.map(s => stageSum(s, _.tasks).toDouble)),
      "spark.driver_gap_s" -> med(ops.map(gapS)),
      "spark.executor_cpu_s" -> med(ops.map(s => stageSum(s, _.cpuNs) / 1e9)),
      "spark.executor_run_s" -> med(ops.map(s => stageSum(s, _.runMs) / 1e3)),
      "spark.shuffle_write_bytes" -> med(ops.map(s => stageSum(s, _.shuffleWriteBytes).toDouble)),
      "spark.spill_bytes" -> med(ops.map(s => stageSum(s, _.spillBytes).toDouble)),
      "spark.codegen_compiles" -> med(ops.map(_.codegen.toDouble)),
      "spark.gc_s" -> med(ops.map(_.gcMs / 1e3)))
  }

  /** Store figures of the merge spans; `rows` is the source rows of one
    * merge. */
  def merge(rows: Long): Map[String, Double] = {
    val ms = named("store.merge")
    Map(
      "store.merge_scan_s" -> med(ms.map(jobTimeS(_, _.contains("touched-bucket scan")))),
      "store.merge_write_s" -> med(ms.map(jobTimeS(_, _.startsWith("graft.write")))),
      "store.merge_driver_s" -> med(ms.map(gapS)),
      "store.merge_bytes_read_per_row" ->
        med(ms.map(s => stageSum(s, _.inputBytes).toDouble / rows)),
      "store.merge_bytes_written_per_row" ->
        med(ms.map(s => stageSum(s, _.outputBytes).toDouble / rows)))
  }
}

// --------------------------------------------------------------------------

/** Imports a messy CSV export through `Sources.csv`, `Mapping.complete.project`
  * and `ManifestTable.merge` into a 16-bucket hash table that already holds
  * half of the file's keys. Each op merges into a fresh copy of the same
  * fixture; the copy is made before the timed call. */
final class BulkImport(spark: SparkSession, seed: Long, work: Path)
    extends Workload {
  val SourceKeys = 30000
  val Buckets = 16
  val gen = ImportGen(seed, SourceKeys)
  val rowsPerOp: Long = gen.rows
  val mainSpan = "store.merge"
  // Every parser is code to compile: after 6 ops, JIT compilation still
  // took more than a second per op and ops got 20% faster over 10 more.
  val warmUpOps = 10

  val schema = StructType(Seq(
    StructField("id", StringType), StructField("name", StringType),
    StructField("amount_fr", DoubleType), StructField("amount_us", DoubleType),
    StructField("qty", LongType), StructField("day", DateType),
    StructField("active", BooleanType),
    StructField("tags", ArrayType(StringType)), StructField("note", StringType)))

  def mapping(): Mapping = {
    val m = new Mapping("id")
    m.auto("id")
    m.auto("name")
    m.auto("amount_fr", c => Parsers.str2floatamount(c, "fr_FR"))
    m.auto("amount_us", c => Parsers.str2floatamount(c, "en_US"))
    m.auto("qty")
    m.auto("day")
    m.auto("active")
    m.auto("tags", c => Parsers.formatList(c))
    m.auto("note", opts = ColOpts(shouldUpdateOnlyIfNull = true))
    m.complete(schema)
  }

  private var csv: Path = _
  private var pristine: Path = _

  def prepare(dir: Path): Unit = {
    csv = dir.resolve("import")
    Files.createDirectories(csv)
    (0 until gen.parts).foreach { p =>
      val w = Files.newBufferedWriter(csv.resolve(s"part-$p.csv"))
      try {
        w.write(gen.header); w.write('\n')
        gen.fileOrder(p).foreach { case (k, occ) => w.write(gen.line(k, occ)); w.write('\n') }
      } finally w.close()
    }
    val g = gen
    val rdd = spark.sparkContext
      .parallelize(g.targetKeys, spark.sparkContext.defaultParallelism)
      .map(k => BulkImport.toRow(g.target(k)))
    pristine = dir.resolve("pristine")
    ManifestTable.create(spark.createDataFrame(rdd, schema), "id",
      pristine.toString, Buckets)
  }

  /** Keys read back after each op: duplicated, created, updated and
    * untouched ones. */
  private val sampleKeys: Seq[Int] = {
    val s = gen.sourceKeys
    val dups = (0 until s).filter(gen.isDup).take(12)
    val created = (1 until s by 2).filterNot(gen.isDup).take(12)
    val updated = (0 until s by 2).filterNot(gen.isDup).take(12)
    val kept = (s until s + 12)
    val step = s / 24
    dups ++ created ++ updated ++ kept ++ (0 until 24).map(_ * step + 7)
  }

  private def tableFor(c: Int): Path = work.resolve(s"t$c")

  private def check(root: Path): Boolean = {
    val r = root.toString
    ManifestTable.countRows(spark, r, schema) == gen.unionKeys && {
      val rows = ManifestTable.lookup(spark, r, schema, "id",
        sampleKeys.map(gen.key)).collect()
      val byKey = rows.map(row => row.getString(0) -> row).toMap
      sampleKeys.forall(k => gen.expected(k) == byKey.get(gen.key(k)).map(BulkImport.fromRow))
    }
  }

  private def importOnce(root: Path): Unit = {
    val m = mapping()
    ManifestTable.merge(m.project(Sources.csv(spark, csv.toString)), 1L, m,
      root.toString, schema, numBuckets = Buckets)
  }

  // Warm-up ops count up from a negative id, so each removes the table of
  // the one before it, as measured ops do.
  def warmUp(meter: Meter, ops: Int): Unit =
    (0 until ops).foreach(i => cycle(i - 100000, meter, Tracer.Off))

  def cycle(c: Int, meter: Meter, tr: Tracer): Unit = {
    Fs.delete(tableFor(c - 1))
    val root = tableFor(c)
    Fs.delete(root)
    Fs.copyTree(pristine, root)
    tr.span("op", c) {
      if (tr.enabled) {
        tr.span("sources.csv", c)(Fs.noop(Sources.csv(spark, csv.toString)))
        tr.span("mapping.project", c)(
          Fs.noop(mapping().project(Sources.csv(spark, csv.toString))))
        tr.span("operators.upsert", c) {
          val m = mapping()
          Fs.noop(Upsert(ManifestTable.read(spark, root.toString, schema),
            m.project(Sources.csv(spark, csv.toString)), m).merged)
        }
      }
      meter.measure("op", c)(tr.span(mainSpan, c)(importOnce(root)))(_ =>
        check(root))
    }
  }

  def layers(tr: SpanTracer, jobs: Seq[JobRecord]): Map[String, Double] = {
    val v = new LayerView(tr, jobs)
    val src = v.named("sources.csv")
    def self(name: String, inner: String) = v.med(v.named(name).flatMap(s =>
      v.sibling(s, inner).map(i => s.seconds - i.seconds)))
    val upserts = v.named("operators.upsert")
    Map(
      "sources.csv_s" -> v.med(src.map(_.seconds)),
      "sources.input_bytes" -> v.med(src.map(s => v.stageSum(s, _.inputBytes).toDouble)),
      "mapping.project_s" -> self("mapping.project", "sources.csv"),
      "operators.upsert_s" -> self("operators.upsert", "mapping.project"),
      "operators.upsert_shuffle_bytes" ->
        v.med(upserts.map(s => v.stageSum(s, _.shuffleWriteBytes).toDouble))
    ) ++ v.merge(rowsPerOp) ++ v.engine(mainSpan)
  }
}

object BulkImport {
  def toRow(r: ImportRow): Row = Row(r.id, r.name.orNull, r.amountFr,
    r.amountUs, r.qty.map(Long.box).orNull,
    r.day.map(java.sql.Date.valueOf).orNull, r.active.map(Boolean.box).orNull,
    r.tags, r.note.orNull)

  def fromRow(row: Row): ImportRow = {
    def opt[T](i: Int): Option[T] = if (row.isNullAt(i)) None else Some(row.getAs[T](i))
    ImportRow(row.getString(0), opt[String](1), row.getDouble(2),
      row.getDouble(3), opt[Long](4), opt[java.sql.Date](5).map(_.toLocalDate),
      opt[Boolean](6), opt[scala.collection.Seq[String]](7).map(_.toSeq).getOrElse(Nil),
      opt[String](8))
  }
}

// --------------------------------------------------------------------------

/** Constant-size merges into a range-laid table on a zero-padded key.
  * A cycle copies the fixture, then runs a fixed sequence of merges, each
  * followed by one lookup of keys the merge just wrote and older keys. Every cycle repeats the same sequence, so both sides of a
  * comparison see the same table versions. */
final class IncrementalMerge(spark: SparkSession, seed: Long, work: Path)
    extends Workload {
  val Buckets = 64
  val Merges = 12
  val LookupKeys = 50
  val gen = MergeGen(seed, baseRows = 60000, updates = 1800, creates = 200,
    window = 2000)
  val rowsPerOp: Long = gen.updates + gen.creates
  val mainSpan = "store.merge"
  val warmUpOps = 24

  val schema = StructType(Seq(
    StructField("key", StringType), StructField("v", LongType),
    StructField("amount", DoubleType), StructField("label", StringType)))

  def mapping(): Mapping = {
    val m = new Mapping("key")
    schema.fieldNames.foreach(f => m.field(f))
    m.complete(schema)
  }

  private var pristine: Path = _

  def prepare(dir: Path): Unit = {
    Files.createDirectories(dir)
    val g = gen
    val rdd = spark.sparkContext
      .range(0L, g.baseRows.toLong, numSlices = spark.sparkContext.defaultParallelism)
      .map { k => val (v, a, l) = g.base(k); Row(g.key(k), v, a, l) }
    pristine = dir.resolve("pristine")
    ManifestTable.create(spark.createDataFrame(rdd, schema), "key",
      pristine.toString, Buckets, rangeBounds = g.rangeBounds(Buckets))
  }

  private def batch(j: Int): DataFrame = {
    val rows = gen.batchKeys(j).map { k =>
      val (v, a, l) = gen.batchValue(j, k); Row(gen.key(k), v, a, l)
    }
    spark.createDataFrame(rows.asJava, schema)
  }

  private def rowOf(k: Long, written: collection.Map[Long, (Long, Double, String)]) = {
    val (v, a, l) = written.getOrElse(k, gen.base(k))
    (gen.key(k), v, a, l)
  }

  private def tableFor(c: Int): Path = work.resolve(s"c$c")

  def warmUp(meter: Meter, ops: Int): Unit =
    run(-1, _ < ops, meter, Tracer.Off)

  def cycle(c: Int, meter: Meter, tr: Tracer): Unit =
    run(c, _ < Merges, meter, tr)

  private var traced = Vector.empty[Map[String, Double]]

  /** Merges batch 0, 1, ... into a fresh copy of the fixture while
    * `more(j)`, each followed by its lookup. */
  private def run(c: Int, more: Int => Boolean, meter: Meter, tr: Tracer)
      : Unit = {
    Fs.delete(tableFor(c - 1))
    val root = tableFor(c)
    val r = root.toString
    Fs.delete(root)
    Fs.copyTree(pristine, root)
    val written = scala.collection.mutable.Map.empty[Long, (Long, Double, String)]
    var files = Vector.empty[Double]
    var j = 0
    while (more(j)) {
      val op = (c + 1) * 1000 + j
      val input = batch(j)
      tr.span("op", op) {
        val m = mapping()
        meter.measure("op", op)(tr.span(mainSpan, op)(
          ManifestTable.merge(m.project(Sources.table(input)), j + 1L, m, r,
            schema, numBuckets = Buckets))) { entries =>
          gen.batchKeys(j).foreach(k => written(k) = gen.batchValue(j, k))
          entries.nonEmpty
        }
        if (tr.enabled) tr.span("store.version_probe", op)(
          ManifestTable.currentVersion(spark, r))
        val (fresh, old) = gen.lookupKeys(j, LookupKeys)
        val ks = (fresh ++ old).distinct
        meter.measure("lookup", op)(tr.span("store.lookup", op) {
          val df = ManifestTable.lookup(spark, r, schema, "key", ks.map(gen.key))
          (df, df.collect())
        }) { case (_, rows) =>
          val got = rows.map(x => (x.getString(0), x.getLong(1), x.getDouble(2),
            x.getString(3))).toSet
          rows.length == ks.size && got == ks.map(rowOf(_, written)).toSet
        }.foreach { case (df, _) =>
          if (tr.enabled) files :+= Fs.planMetric(df, "numFiles").toDouble
        }
      }
      j += 1
    }
    // The table holds the fixture's keys plus every key the merges created.
    meter.verify(s"cycle $c row count")(
      ManifestTable.countRows(spark, r, schema) == gen.sizeBefore(j))
    if (tr.enabled) {
      val mdir = root.resolve("manifest")
      val versions = Files.list(mdir).iterator().asScala
        .map(_.getFileName.toString).count(_.matches("m\\d+"))
      val current = ManifestTable.currentVersion(spark, r).get
      traced :+= Map(
        "store.manifest_versions" -> versions.toDouble,
        "store.manifest_bytes" -> Files.size(mdir.resolve(s"m$current")).toDouble,
        "store.bytes_per_live_row" ->
          Fs.bytes(root).toDouble / ManifestTable.countRows(spark, r, schema),
        "store.lookup_files_read" -> Stats.median(files))
    }
  }

  def layers(tr: SpanTracer, jobs: Seq[JobRecord]): Map[String, Double] = {
    val v = new LayerView(tr, jobs)
    val lookups = v.named("store.lookup")
    val cycleFigures = traced.headOption.map(_.keys).getOrElse(Nil).map { k =>
      k -> v.med(traced.map(_(k)))
    }.toMap
    Map(
      "store.version_probe_s" -> v.med(v.named("store.version_probe").map(_.seconds)),
      "store.lookup_s" -> v.med(lookups.map(_.seconds)),
      "store.lookup_bytes_read" ->
        v.med(lookups.map(s => v.stageSum(s, _.inputBytes).toDouble))
    ) ++ cycleFigures ++ v.merge(rowsPerOp) ++ v.engine(mainSpan)
  }
}

// --------------------------------------------------------------------------

/** `Curate` (quality and language gate, redaction, exact dedup) and then
  * `Dedup.minhashLsh` over the survivors of a generated parquet corpus. */
final class CurateDedup(spark: SparkSession, seed: Long, work: Path)
    extends Workload {
  val Docs = 16000
  val gen = CorpusGen(seed, Docs)
  val rowsPerOp: Long = Docs
  val mainSpan = "operators.lsh"
  // After 6 ops the timed ops still got up to 20% faster over a run.
  val warmUpOps = 9

  private var corpus: Path = _
  private lazy val plants = gen.plants
  /** Curated text of every planted document that survives `Curate`. */
  private var survivors: Map[Long, String] = _

  def prepare(dir: Path): Unit = {
    Files.createDirectories(dir)
    val g = gen
    val rdd = spark.sparkContext
      .range(0L, Docs.toLong, numSlices = spark.sparkContext.defaultParallelism)
      .map(id => Row(id, g.text(id)))
    corpus = dir.resolve("corpus")
    spark.createDataFrame(rdd, StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType))))
      .write.parquet(corpus.toString)
  }

  private def curated(): DataFrame = Curate(spark.read.parquet(corpus.toString))

  private def lsh(): DataFrame =
    Dedup.minhashLsh(curated().select(col("doc_id"), col("clean_text").as("text")))

  private def check(rows: Array[Row]): Boolean = {
    if (survivors == null) {
      val ids = plants.flatMap { case (a, b) => Seq(a, b) }.distinct
      survivors = curated().filter(col("doc_id").isin(ids: _*))
        .select("doc_id", "clean_text").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    }
    val found = rows.map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val checked = plants.filter { case (a, b) => survivors.contains(a) && survivors.contains(b) }
    checked.nonEmpty && checked.forall { case (a, b) =>
      found.get((a, b)).exists(j =>
        math.abs(j - ExactJaccard(survivors(a), survivors(b))) < 1e-12)
    }
  }

  private var yields = Vector.empty[Double]

  def warmUp(meter: Meter, ops: Int): Unit =
    (0 until ops).foreach(i => cycle(i - 100000, meter, Tracer.Off))

  def cycle(c: Int, meter: Meter, tr: Tracer): Unit = tr.span("op", c) {
    if (tr.enabled) tr.span("operators.curate", c)(Fs.noop(curated()))
    meter.measure("op", c)(tr.span(mainSpan, c) {
      val df = lsh()
      (df, df.collect())
    }) { case (_, rows) => check(rows) }.foreach { case (df, rows) =>
      if (tr.enabled)
        yields :+= rows.length.toDouble / math.max(1L, Fs.joinOutputRows(df, "bh"))
    }
  }

  def layers(tr: SpanTracer, jobs: Seq[JobRecord]): Map[String, Double] = {
    val v = new LayerView(tr, jobs)
    val pairs = v.named(mainSpan).flatMap(s => v.sibling(s, "operators.curate").map(s -> _))
    Map(
      "operators.curate_s" -> v.med(v.named("operators.curate").map(_.seconds)),
      "operators.lsh_s" -> v.med(pairs.map { case (l, c) => l.seconds - c.seconds }),
      "operators.lsh_shuffle_bytes" -> v.med(pairs.map { case (l, c) =>
        (v.stageSum(l, _.shuffleWriteBytes) - v.stageSum(c, _.shuffleWriteBytes)).toDouble
      }),
      "operators.lsh_pair_yield" -> v.med(yields)
    ) ++ v.engine(mainSpan)
  }
}
