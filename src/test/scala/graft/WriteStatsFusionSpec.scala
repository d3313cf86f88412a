package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._

import graft.mapping.Mapping
import graft.store.{ManifestTable, ZoneSkip}

/** Pins the write-time stats fusion (WriteStatsAgg / ZoneStatsAgg riding
  * the write job's observe) against GROUND-TRUTH recomputes from the
  * committed files — the equivalence the fusion claims: observed
  * FileEntry stats equal what the pre-fusion readback aggregated, and
  * write-time zone offers equal what a scan build computes. Also pins
  * that the observed path is the one that runs (one labeled write
  * execution, no readback after it), and that the readback fallback a missed
  * observation takes writes the same entries. */
class WriteStatsFusionSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(name: String): String = {
    val root = s"target/test-tmp/$name"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    root
  }

  /** Runs `op`; returns (description, SQL execution id) of each Spark
    * job it started, in start order. */
  private def jobsOf(op: => Unit): Seq[(String, String)] = {
    val descs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(js.properties)
          .flatMap(p => Option(p.getProperty(k))).getOrElse("")
        descs.add(prop("spark.job.description") ->
          prop("spark.sql.execution.id"))
      }
    }
    Bridge.waitListenerBus(spark)
    spark.sparkContext.addSparkListener(l)
    try { op; Bridge.waitListenerBus(spark) }
    finally spark.sparkContext.removeSparkListener(l)
    descs.asScala.toSeq
  }

  /** The fused write: the operation ENDS in its `graft.write` jobs — no
    * readback job follows them — and they all belong to one query
    * execution, the write action. (Adaptive execution runs each shuffle
    * stage, and a range exchange's sampling, as a job of its own under
    * the same label and execution.) */
  private def assertFusedWrite(op: String, jobs: Seq[(String, String)])
      : Unit = {
    val first = jobs.indexWhere(_._1.startsWith("graft.write"))
    val tail = if (first < 0) Nil else jobs.drop(first)
    assert(tail.nonEmpty && tail.forall(_._1.startsWith("graft.write")) &&
        tail.map(_._2).distinct.size == 1,
      s"$op should end in one graft.write execution, ran: " +
        jobs.mkString(" | "))
  }

  test("merge-written entry stats equal a readback recompute " +
      "(comparator-keyed table, null keys, numeric zones)") {
    // String-keyed table under a lower() comparator: minKey/maxKey must
    // be in NORMALIZED space; a null-keyed row must set nullKeys.
    val root = freshRoot("wsf_cmp")
    val strSchema = StructType(Seq(
      StructField("k", StringType), StructField("v", LongType)))
    val lowerCmp: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      lower(_)
    val rows = spark.createDataFrame(java.util.Arrays.asList(
      Row("Foo", 1L), Row("BAR", 2L), Row("baz", 3L), Row("QUX", 4L),
      Row(null, 0L)), strSchema)
    assertFusedWrite("create", jobsOf(
      ManifestTable.create(rows, "k", root, numBuckets = 3,
        keyComparator = lowerCmp)))
    val m = ManifestTable.currentManifest(spark, root).get
    assert(m.entries.nonEmpty)
    m.entries.foreach { e =>
      val f = spark.read.schema(strSchema).parquet(s"$root/${e.relPath}")
      val r = f.agg(count(lit(1)),
        min(lower(col("k")).cast("string")),
        max(lower(col("k")).cast("string")),
        max(col("k").isNull)).head()
      assert(e.rows == r.getLong(0), s"rows for ${e.relPath}")
      assert(e.minKey == Option(r.getString(1)).getOrElse(""),
        s"minKey for ${e.relPath}")
      assert(e.maxKey == Option(r.getString(2)).getOrElse(""),
        s"maxKey for ${e.relPath}")
      assert(e.nullKeys == r.getBoolean(3), s"nullKeys for ${e.relPath}")
    }

    // Long-keyed table: the order-true numeric zones (minZ/maxZ) must
    // equal the rendered recompute, negatives included.
    val root2 = freshRoot("wsf_zones")
    val longSchema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType)))
    val rows2 = spark.createDataFrame(java.util.Arrays.asList(
      Row(-9L, "a"), Row(0L, "b"), Row(17L, "c"), Row(1000L, "d"),
      Row(-100L, "e"), Row(3L, "f")), longSchema)
    ManifestTable.create(rows2, "id", root2, numBuckets = 2)
    ManifestTable.currentManifest(spark, root2).get.entries.foreach { e =>
      val f = spark.read.schema(longSchema).parquet(s"$root2/${e.relPath}")
      val r = f.agg(min(col("id")).cast("string"),
        max(col("id")).cast("string")).head()
      assert(e.minZ == r.getString(0), s"minZ for ${e.relPath}")
      assert(e.maxZ == r.getString(1), s"maxZ for ${e.relPath}")
    }
  }

  test("a merge writing several buckets per task takes the observed " +
      "path, and its entries equal a readback recompute") {
    val root = freshRoot("wsf_grouped")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType)))
    ManifestTable.create(spark.range(0, 800).select(col("id"),
      col("id").cast("string").as("v")), "id", root, numBuckets = 16)
    val m = new Mapping("id")
    schema.fieldNames.foreach(f => m.field(f, parser = c => c))
    m.complete(schema)
    assertFusedWrite("merge", jobsOf(ManifestTable.merge(
      m.project(spark.range(700, 900).select(col("id"),
        concat(lit("m"), col("id").cast("string")).as("v"))),
      1L, m, root, schema)))
    val written = ManifestTable.currentManifest(spark, root).get.entries
      .filter(_.seq == 1L)
    assert(written.map(_.bucket).sorted == (0 until 16))
    val tasks = written.flatMap(e =>
      ManifestTable.partIdOf(e.relPath.split('/').last)).distinct
    assert(tasks.nonEmpty && tasks.size < written.size,
      s"${written.size} files from ${tasks.size} write tasks")
    written.foreach { e =>
      val r = spark.read.schema(schema).parquet(s"$root/${e.relPath}")
        .agg(count(lit(1)), min(col("id").cast("string")),
          max(col("id").cast("string")), min(col("id")).cast("string"),
          max(col("id")).cast("string")).head()
      assert(e.rows == r.getLong(0), s"rows for ${e.relPath}")
      assert(e.minKey == r.getString(1), s"minKey for ${e.relPath}")
      assert(e.maxKey == r.getString(2), s"maxKey for ${e.relPath}")
      assert(e.minZ == r.getString(3), s"minZ for ${e.relPath}")
      assert(e.maxZ == r.getString(4), s"maxZ for ${e.relPath}")
    }
  }

  test("cluster-written per-file stats are observed in-job and equal " +
      "a readback recompute") {
    val root = freshRoot("wsf_cluster")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("score", LongType)))
    val df = spark.range(0, 400).select(col("id"),
      pmod(col("id") * 37L + 11L, lit(1000L)).as("score"))
    ManifestTable.create(df, "id", root, numBuckets = 4)
    assertFusedWrite("clusterBy", jobsOf(
      ManifestTable.clusterBy(spark, root, schema, "id", "score",
        token = 100L, filesPerBucket = 4)))
    val m = ManifestTable.currentManifest(spark, root).get
    assert(m.entries.size > 4, "clusterBy should split buckets into files")
    assert(m.entries.forall(_.sorted))
    m.entries.foreach { e =>
      val f = spark.read.schema(schema).parquet(s"$root/${e.relPath}")
      val r = f.agg(count(lit(1)),
        min(col("id").cast("string")), max(col("id").cast("string")),
        min(col("id")).cast("string"), max(col("id")).cast("string"),
        max(col("id").isNull)).head()
      assert(e.rows == r.getLong(0), s"rows for ${e.relPath}")
      assert(e.minKey == r.getString(1), s"minKey for ${e.relPath}")
      assert(e.maxKey == r.getString(2), s"maxKey for ${e.relPath}")
      assert(e.minZ == r.getString(3), s"minZ for ${e.relPath}")
      assert(e.maxZ == r.getString(4), s"maxZ for ${e.relPath}")
      assert(!e.nullKeys && !r.getBoolean(5))
    }
  }

  test("write-time zone offers equal the scan-built sidecar rows") {
    // Same data, same commits on two roots: A declares zone maintenance
    // (the commit path computes zones in-job and offers them to the
    // build), B builds zones by the explicit scan. Per-bucket zone rows
    // must agree exactly.
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("price", DoubleType),
      StructField("day", DateType)))
    def mk(name: String): String = {
      val root = freshRoot(name)
      val base = spark.range(0, 300).select(col("id"),
        (pmod(col("id") * 13L, lit(500L)).cast("double") / 10.0
          - lit(5.0)).as("price"),
        date_add(lit(java.sql.Date.valueOf("2024-01-01")),
          pmod(col("id"), lit(90L)).cast("int")).as("day"))
      ManifestTable.create(base, "id", root, numBuckets = 4)
      root
    }
    val rootA = mk("wsf_offer_a")
    ManifestTable.autoMaintain(spark, rootA,
      zones = Seq("price", "day"))
    val rootB = mk("wsf_offer_b")

    // one incremental merge per root: A's zone rows come from offers
    // (the declared commit path), B's from the explicit scan build
    def mergeBatch(root: String): Unit = {
      val m = new Mapping("id")
      schema.fieldNames.foreach(f => m.field(f, parser = c => c))
      m.complete(schema)
      val batch = spark.range(300, 360).select(col("id"),
        (col("id").cast("double") / 7.0).as("price"),
        date_add(lit(java.sql.Date.valueOf("2024-03-01")),
          pmod(col("id"), lit(30L)).cast("int")).as("day"))
      ManifestTable.merge(m.project(batch), 1L, m, root, schema)
    }
    mergeBatch(rootA)
    assertFusedWrite("merge", jobsOf(mergeBatch(rootB)))
    ZoneSkip.buildZones(spark, rootB, schema, Seq("price", "day"))

    def zoneRows(root: String): Map[(String, String), Row] =
      ZoneSkip.zonesOf(spark, root).collect().map { r =>
        // key by (bucket dir, column): relPaths differ by attempt id
        val bucketDir = r.getString(0)
          .split("/").find(_.startsWith("_bucket=")).getOrElse("?")
        (bucketDir, r.getString(1)) ->
          Row(r.getString(2), r.getString(3), r.getString(4),
            r.getBoolean(5))
      }.toMap
    val a = zoneRows(rootA)
    val b = zoneRows(rootB)
    assert(a.nonEmpty, "declared root built no zone rows")
    assert(a.keySet == b.keySet,
      s"zone coverage differs: ${a.keySet} vs ${b.keySet}")
    a.keys.foreach { k =>
      assert(a(k) == b(k), s"zone row for $k: offered ${a(k)} " +
        s"vs scanned ${b(k)}")
    }
  }

  test("the readback fallback writes the observed path's entries " +
      "(hash create, merge, clusterBy, renamed column)") {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("pts", LongType)))
    // The same ops on two roots, one with the write's observation
    // dropped. The renamed column makes the fallback map physical file
    // columns back to logical names.
    def run(name: String, drop: Boolean): Seq[Seq[ManifestTable.FileEntry]] = {
      val root = freshRoot(name)
      ManifestTable.testDropObservation = drop
      try {
        def entries = ManifestTable.currentManifest(spark, root).get.entries
        ManifestTable.create(spark.range(0, 400).select(col("id"),
          pmod(col("id") * 37L + 11L, lit(1000L)).as("score")),
          "id", root, numBuckets = 4)
        val created = entries
        ManifestTable.renameColumn(spark, root, "score", "pts")
        val m = new Mapping("id")
        schema.fieldNames.foreach(f => m.field(f, parser = c => c))
        m.complete(schema)
        ManifestTable.merge(m.project(spark.range(350, 450).select(
          col("id"), pmod(col("id") * 11L, lit(900L)).as("pts"))),
          1L, m, root, schema)
        val merged = entries
        ManifestTable.clusterBy(spark, root, schema, "id", "pts",
          token = 100L, filesPerBucket = 4)
        Seq(created, merged, entries)
      } finally ManifestTable.testDropObservation = false
    }
    def fields(es: Seq[ManifestTable.FileEntry]) = es.map(e =>
      (e.bucket, e.seq, e.rows, e.minKey, e.maxKey, e.minZ, e.maxZ,
        e.nullKeys, e.named, e.sorted, e.bytes))
      .sortBy(t => (t._1, t._4, t._5, t._3))
    // the fused legs' job assertion catches the fallback: its readback
    // is a job after the write
    ManifestTable.testDropObservation = true
    val probe =
      try jobsOf(ManifestTable.create(spark.range(0, 40).toDF("id"), "id",
        freshRoot("wsf_fb_probe"), numBuckets = 2))
      finally ManifestTable.testDropObservation = false
    assertThrows[org.scalatest.exceptions.TestFailedException](
      assertFusedWrite("probe", probe))
    val observed = run("wsf_fb_observed", drop = false)
    val readback = run("wsf_fb_readback", drop = true)
    Seq("create", "merge", "clusterBy").zipWithIndex.foreach { case (op, i) =>
      assert(observed(i).nonEmpty)
      assert(fields(readback(i)) == fields(observed(i)),
        s"$op: readback entries differ from the observed ones")
    }
    assert(observed(2).forall(_.sorted) && observed(2).size > 4)
  }

  test("partIdOf reads task ids of five or more digits") {
    val job = "3f2a9c4e-1b7d-4e0a-9f3c-2d8b6a1e5c70"
    assert(ManifestTable.partIdOf(s"part-00007-$job.c000.snappy.parquet")
      .contains(7))
    assert(ManifestTable.partIdOf(
      s"part-123456-${job}_00007.c000.snappy.parquet").contains(123456))
    assert(ManifestTable.partIdOf(s"part-1234567-$job.c000.snappy.parquet")
      .contains(1234567))
    assert(ManifestTable.partIdOf(s"part-00042-${job}_00003").contains(42))
    Seq("part-00007", "part--7-x.parquet", "part-0x07-x.parquet",
      "data-00007-x.parquet", "part-99999999999-x.parquet")
      .foreach(n => assert(ManifestTable.partIdOf(n).isEmpty, n))
  }
}
