package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.types._

import graft.mapping.{ColOpts, Mapping}
import graft.store.ManifestTable
import graft.streaming.StreamingImport

class StreamingImportSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("name", StringType),
    StructField("score", LongType)))

  test("continuous upsert maintains target state across micro-batches") {
    val root = "target/test-tmp/stream_import"
    val ckpt = "target/test-tmp/stream_import_ckpt"
    Seq(root, ckpt).foreach(d =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)))

    def mapping = {
      val m = new Mapping()
      m.auto("id")
      m.auto("name")
      m.auto("score", opts = ColOpts(shouldUpdateOnlyIfNull = true))
      m
    }

    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Seq[String], Long)]
    val stream = mem.toDF().toDF("_raw", "_line")

    // batch 1: two creates
    mem.addData((Seq("1", "alpha", "10"), 0L), (Seq("2", "beta", ""), 1L))
    val q1 = StreamingImport.start(stream, mapping, root, schema, ckpt)
    q1.awaitTermination()

    val v1 = StreamingImport.readTarget(spark, root, schema)
      .orderBy("id").collect().toSeq
    assert(v1 == Seq(Row(1L, "alpha", 10L), Row(2L, "beta", null)))

    // batch 2: update name of 1; fill score of 2 (only-if-null); create 3
    mem.addData(
      (Seq("1", "ALPHA", "99"), 2L),  // score 99 ignored? no: only-if-null
      (Seq("2", "beta", "7"), 3L),
      (Seq("3", "gamma", "5"), 4L))
    val q2 = StreamingImport.start(stream, mapping, root, schema, ckpt)
    q2.awaitTermination()

    val v2 = StreamingImport.readTarget(spark, root, schema)
      .orderBy("id").collect().toSeq
    // score of id=1 was non-null (10) → only-if-null keeps 10
    assert(v2 == Seq(
      Row(1L, "ALPHA", 10L),
      Row(2L, "beta", 7L),
      Row(3L, "gamma", 5L)))
  }

  test("batch replay is idempotent (at-least-once foreachBatch)") {
    val root = "target/test-tmp/stream_replay"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    def mapping = {
      val m = new Mapping()
      m.auto("id"); m.auto("name"); m.auto("score")
      m
    }
    val m = mapping
    m.complete(schema)
    val batch = Seq(
      (Seq("1", "alpha", "10"), 0L),
      (Seq("2", "beta", "20"), 1L)).toDF("_raw", "_line")

    StreamingImport.applyBatch(batch, 0L, m, root, schema)
    val once = StreamingImport.readTarget(spark, root, schema)
      .orderBy("id").collect().toSeq
    // replay of an already-COMMITTED batch: same input, same published
    // state, no self-overwrite error
    StreamingImport.applyBatch(batch, 0L, m, root, schema)
    val twice = StreamingImport.readTarget(spark, root, schema)
      .orderBy("id").collect().toSeq
    assert(once == twice)
    assert(once == Seq(Row(1L, "alpha", 10L), Row(2L, "beta", 20L)))
  }

  test("keep_history and stats commit with the merge, exactly once") {
    val root = "target/test-tmp/stream_history"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    def mapping = {
      val m = new Mapping()
      m.auto("id"); m.auto("name")
      m.auto("score", opts = ColOpts(keepHistory = true))
      m
    }
    val m = mapping
    m.complete(schema)

    // batch 0: creates only → an (empty) history version still commits
    val b0 = Seq((Seq("1", "a", "10"), 0L), (Seq("2", "b", "20"), 1L))
      .toDF("_raw", "_line")
    StreamingImport.applyBatch(b0, 0L, m, root, schema, recordStats = true)
    assert(ManifestTable.historyOf(spark, root).count() == 0)

    // batch 1: updates score of id=1 → one history row with old/new
    val b1 = Seq((Seq("1", "a", "99"), 0L)).toDF("_raw", "_line")
    StreamingImport.applyBatch(b1, 1L, m, root, schema, recordStats = true)
    val h = ManifestTable.historyOf(spark, root).collect().toSeq
    assert(h == Seq(Row(1L, 10L, 99L)),
      s"expected one old=10/new=99 history row, got $h")

    // replay of batch 1 must not duplicate history or stats
    StreamingImport.applyBatch(b1, 1L, m, root, schema, recordStats = true)
    assert(ManifestTable.historyOf(spark, root).count() == 1)
    val stats = ManifestTable.statsOf(spark, root)
      .orderBy("_version").collect().toSeq
    assert(stats.length == 2)
    assert(stats.head.getAs[Long]("created") == 2L)
    assert(stats(1).getAs[Long]("updated") == 1L)

    // an orphan side-dir above the current manifest stays invisible
    val orphan = s"$root/history/v9"
    new java.io.File(orphan).mkdirs()
    new java.io.File(s"$orphan/_SUCCESS").createNewFile()
    assert(ManifestTable.historyOf(spark, root).count() == 1)
  }

  test("streamId is the checkpoint's uuid, so a wiped checkpoint " +
      "reprocesses instead of colliding") {
    val ckpt = "target/test-tmp/ckpt_ident"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    new java.io.File(ckpt).mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$ckpt/metadata"), """{"id" : "uuid-A"}""")
    assert(StreamingImport.checkpointIdentity(spark, ckpt) == "uuid-A")
    // wipe-in-place: Spark would write a NEW uuid at the same path —
    // the token's streamId follows it, so (streamId, batchId=0) cannot
    // collide with the old incarnation's lastBatch
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$ckpt/metadata"), """{"id":"uuid-B"}""")
    assert(StreamingImport.checkpointIdentity(spark, ckpt) == "uuid-B")
    // no metadata yet (pre-start) → fall back to the path
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$ckpt/metadata"))
    assert(StreamingImport.checkpointIdentity(spark, ckpt) == ckpt)
  }

  test("unreadable checkpoint metadata falls back to the path") {
    val ckpt = "target/test-tmp/ckpt_ident_unreadable"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    // a directory where the metadata file belongs: exists, cannot be read
    new java.io.File(s"$ckpt/metadata").mkdirs()
    assert(StreamingImport.checkpointIdentity(spark, ckpt) == ckpt)
  }

  test("delta-mode continuous import with periodic compaction equals " +
      "the rewrite mode") {
    val root = "target/test-tmp/stream_delta"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    def mapping = {
      val m = new Mapping()
      m.auto("id"); m.auto("name"); m.auto("score")
      m
    }
    val m = mapping
    m.complete(schema)
    // 6 micro-batches: creates + repeated updates of a hot key, all
    // delta-mode with compaction every 2 batches
    val batches = Seq(
      Seq((Seq("1", "a", "1"), 0L), (Seq("2", "b", "2"), 1L)),
      Seq((Seq("1", "a1", "10"), 0L), (Seq("3", "c", "3"), 1L)),
      Seq((Seq("1", "a2", "20"), 0L)),
      Seq((Seq("4", "d", "4"), 0L), (Seq("2", "b1", "22"), 1L)),
      Seq((Seq("1", "a3", "30"), 0L)),
      Seq((Seq("5", "e", "5"), 0L)))
    batches.zipWithIndex.foreach { case (rows, i) =>
      StreamingImport.applyBatch(rows.toDF("_raw", "_line"), i.toLong, m,
        root, schema, numBuckets = 2, streamId = "S",
        delta = true, compactEvery = 2)
    }
    val state = StreamingImport.readTarget(spark, root, schema)
      .orderBy("id").collect().toSeq
    assert(state == Seq(
      Row(1L, "a3", 30L), Row(2L, "b1", 22L), Row(3L, "c", 3L),
      Row(4L, "d", 4L), Row(5L, "e", 5L)),
      s"delta-mode stream state wrong: $state")
    // read amplification bounded: compactEvery=2 means no bucket carries
    // more than 1 (compacted) + 2 (deltas since) files
    val byBucket = ManifestTable.currentManifest(spark, root).get
      .entries.groupBy(_.bucket)
    assert(byBucket.values.forall(_.size <= 3),
      s"compaction must bound per-bucket files: " +
        s"${byBucket.view.mapValues(_.size).toMap}")
    // the last compaction actually folded: batch 4 (index) triggered at
    // batchId 4, so buckets had ≤ 1 delta (batch 5) on top afterwards
    assert(byBucket.values.exists(_.size >= 1))
    // replay of the final batch: no state change, no version bump
    val v = ManifestTable.currentVersion(spark, root)
    StreamingImport.applyBatch(batches.last.toDF("_raw", "_line"), 5L, m,
      root, schema, numBuckets = 2, streamId = "S",
      delta = true, compactEvery = 2)
    assert(ManifestTable.currentVersion(spark, root) == v)
    assert(StreamingImport.readTarget(spark, root, schema)
      .orderBy("id").collect().toSeq == state)
  }

  test("torn data writes (no committed manifest) are invisible to readers") {
    val root = "target/test-tmp/stream_torn"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    def mapping = {
      val m = new Mapping()
      m.auto("id"); m.auto("name"); m.auto("score")
      m
    }
    val m = mapping
    m.complete(schema)
    val batch = Seq((Seq("1", "alpha", "10"), 0L)).toDF("_raw", "_line")
    StreamingImport.applyBatch(batch, 0L, m, root, schema)

    // simulate a crash BETWEEN the data write and the manifest rename at
    // batch 1: an orphan data dir (garbage contents) + a torn temp
    // manifest. No manifest m1 was committed, so readers stay on m0.
    new java.io.File(s"$root/data/v1/_bucket=0").mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/data/v1/_bucket=0/part-junk.parquet"),
      "garbage")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/manifest/.tmp-m1"), "garbage")
    assert(ManifestTable.currentVersion(spark, root).contains(0L))
    assert(StreamingImport.readTarget(spark, root, schema).count() == 1)

    // the replay of batch 1 overwrites the orphan dir and commits m1
    val batch1 = Seq((Seq("2", "beta", "20"), 0L)).toDF("_raw", "_line")
    StreamingImport.applyBatch(batch1, 1L, m, root, schema)
    assert(ManifestTable.currentVersion(spark, root).contains(1L))
    val state = StreamingImport.readTarget(spark, root, schema)
      .orderBy("id").collect().toSeq
    assert(state == Seq(Row(1L, "alpha", 10L), Row(2L, "beta", 20L)))
  }
}
