package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.mapping.Mapping
import graft.store.ManifestTable

class ManifestTableSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("name", StringType),
    StructField("score", LongType)))

  private def mapping = {
    val m = new Mapping()
    m.auto("id"); m.auto("name"); m.auto("score")
    m.complete(schema)
    m
  }

  private def raw(rows: (Long, String, String)*): DataFrame =
    rows.zipWithIndex
      .map { case ((id, n, s), i) => (Seq(id.toString, n, s), i.toLong) }
      .toDF("_raw", "_line")

  private def freshRoot(name: String): String = {
    val root = s"target/test-tmp/$name"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    root
  }

  private def bucketOf(id: Long, n: Int): Int =
    Seq(id).toDF("k").select(pmod(hash(col("k")), lit(n))).head.getInt(0)

  /** (relative path, size, md5) of every regular file under dir. */
  private def fileDigests(dir: String): Map[String, (Long, String)] = {
    val base = Paths.get(dir)
    if (!Files.exists(base)) Map.empty
    else {
      val s = Files.walk(base)
      try s.filter(Files.isRegularFile(_)).toArray.map { p0 =>
        val p = p0.asInstanceOf[java.nio.file.Path]
        val md5 = java.security.MessageDigest.getInstance("MD5")
          .digest(Files.readAllBytes(p))
          .map("%02x".format(_)).mkString
        (base.relativize(p).toString, (Files.size(p), md5))
      }.toMap
      finally s.close()
    }
  }

  test("MERGE rewrites only touched buckets; untouched files byte-identical") {
    val root = freshRoot("manifest_incremental")
    val m = mapping
    // v0: ids 1..8 spread over 4 buckets
    val ids = (1L to 8L)
    ManifestTable.merge(
      m.project(raw(ids.map(i => (i, s"n$i", i.toString)): _*)),
      0L, m, root, schema, numBuckets = 4)
    val m0 = ManifestTable.currentManifest(spark, root).get
    assert(m0.version == 0L && m0.numBuckets == 4)
    assert(m0.entries.map(_.rows).sum == 8)

    // v1 updates ONE key → exactly one touched bucket
    val hot = 3L
    val hotBucket = bucketOf(hot, 4)
    val untouchedDirs = m0.entries.filter(_.bucket != hotBucket)
    assert(untouchedDirs.nonEmpty, "need untouched buckets for the test")
    val before = untouchedDirs
      .map(e => e.relPath -> fileDigests(s"$root/${e.relPath}")).toMap

    ManifestTable.merge(m.project(raw((hot, "RENAMED", "99"))),
      1L, m, root, schema)
    val m1 = ManifestTable.currentManifest(spark, root).get
    assert(m1.version == 1L)

    // untouched buckets: same manifest entry (path + stats), same bytes
    untouchedDirs.foreach { e =>
      val e1 = m1.entries.find(_.bucket == e.bucket).get
      assert(e1 == e, s"untouched entry rewritten: $e -> $e1")
      assert(fileDigests(s"$root/${e.relPath}") == before(e.relPath),
        s"untouched data files changed on disk: ${e.relPath}")
    }
    // touched bucket: new entry under version 1's attempt directory
    val hot1 = m1.entries.find(_.bucket == hotBucket).get
    assert(hot1.relPath.startsWith("data/v1-"),
      s"touched bucket not rewritten: $hot1")

    // table state is the correct merge
    val state = ManifestTable.read(spark, root, schema)
      .orderBy("id").collect().toSeq
    assert(state == ids.map(i =>
      if (i == hot) Row(i, "RENAMED", 99L)
      else Row(i, s"n$i", i)).toSeq)
  }

  test("key-range stats per bucket cover the bucket's keys") {
    val root = freshRoot("manifest_stats")
    val m = mapping
    ManifestTable.merge(
      m.project(raw((1L to 20L).map(i => (i, s"n$i", i.toString)): _*)),
      0L, m, root, schema, numBuckets = 4)
    val man = ManifestTable.currentManifest(spark, root).get
    man.entries.foreach { e =>
      val keys = spark.read.schema(schema).parquet(s"$root/${e.relPath}")
        .select(col("id").cast("string")).as[String].collect()
      assert(keys.length == e.rows)
      assert(keys.min == e.minKey && keys.max == e.maxKey,
        s"stats mismatch for bucket ${e.bucket}")
    }
  }

  test("replay of a committed version is a no-op") {
    val root = freshRoot("manifest_replay")
    val m = mapping
    ManifestTable.merge(m.project(raw((1L, "a", "1"))), 0L, m, root, schema)
    ManifestTable.merge(m.project(raw((2L, "b", "2"))), 1L, m, root, schema)
    val before = ManifestTable.read(spark, root, schema)
      .orderBy("id").collect().toSeq
    val rewritten = ManifestTable.merge(
      m.project(raw((2L, "GARBAGE", "0"))), 1L, m, root, schema)
    assert(rewritten.isEmpty, "replay must not rewrite anything")
    assert(ManifestTable.read(spark, root, schema)
      .orderBy("id").collect().toSeq == before)
  }

  test("numBuckets is a table property; the parameter is ignored later") {
    val root = freshRoot("manifest_buckets")
    val m = mapping
    ManifestTable.merge(m.project(raw((1L, "a", "1"))), 0L, m, root, schema,
      numBuckets = 4)
    ManifestTable.merge(m.project(raw((2L, "b", "2"))), 1L, m, root, schema,
      numBuckets = 99)
    assert(ManifestTable.currentManifest(spark, root).get.numBuckets == 4)
  }

  test("lookup prunes to the key's bucket files only") {
    val root = freshRoot("manifest_lookup")
    val m = mapping
    ManifestTable.merge(
      m.project(raw((1L to 32L).map(i => (i, s"n$i", i.toString)): _*)),
      0L, m, root, schema, numBuckets = 8)
    val man = ManifestTable.currentManifest(spark, root).get

    val got = ManifestTable.lookup(spark, root, schema, "id", Seq(7L, 19L))
      .orderBy("id").collect().toSeq
    assert(got == Seq(Row(7L, "n7", 7L), Row(19L, "n19", 19L)))

    // the scan must be backed ONLY by the buckets those keys hash to —
    // inputFiles names the exact parquet files behind the plan
    val wantedBuckets = Set(bucketOf(7L, 8), bucketOf(19L, 8))
    val files = ManifestTable.lookup(spark, root, schema, "id", Seq(7L, 19L))
      .inputFiles.toSeq
    assert(files.nonEmpty)
    val bucketsRead = files.flatMap(f =>
      "_bucket=(\\d+)".r.findFirstMatchIn(f).map(_.group(1).toInt)).toSet
    assert(bucketsRead.subsetOf(wantedBuckets),
      s"lookup read extra buckets: $bucketsRead vs $wantedBuckets " +
      s"(of ${man.entries.size} total)")
    assert(man.entries.size > wantedBuckets.size,
      "fixture too small to demonstrate pruning")

    // a key absent from the table returns empty without error
    assert(ManifestTable.lookup(spark, root, schema, "id", Seq(999L))
      .count() == 0)
  }

  test("targeted delete rewrites only the keys' buckets") {
    val root = freshRoot("manifest_delete")
    val m = mapping
    ManifestTable.merge(
      m.project(raw((1L to 16L).map(i => (i, s"n$i", i.toString)): _*)),
      0L, m, root, schema, numBuckets = 4)
    val m0 = ManifestTable.currentManifest(spark, root).get
    val victim = 5L
    val vb = bucketOf(victim, 4)
    ManifestTable.delete(spark, root, schema, "id", Seq(victim), 1L)
    val m1 = ManifestTable.currentManifest(spark, root).get
    assert(m1.version == 1L)
    // untouched buckets carry verbatim; victim's bucket rewritten
    m0.entries.filter(_.bucket != vb).foreach { e =>
      assert(m1.entries.find(_.bucket == e.bucket).contains(e))
    }
    assert(m1.entries.find(_.bucket == vb).get.relPath.startsWith("data/v1"))
    val ids = ManifestTable.read(spark, root, schema)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(!ids.contains(victim) && ids.size == 15)
    // replayed delete is a no-op
    assert(ManifestTable.delete(
      spark, root, schema, "id", Seq(victim), 1L).isEmpty)
  }

  test("batch 0 after a create() bootstrap is applied, not swallowed") {
    // regression: when the replay guard compared table versions, the
    // create() commit at version 0 made the stream's batchId-0 merge look
    // like a replay and silently dropped its rows
    val root = freshRoot("manifest_create_batch0")
    val m = mapping
    ManifestTable.create(Seq((1L, "a", 1L)).toDF("id", "name", "score"),
      "id", root, numBuckets = 4)
    val rewritten = ManifestTable.merge(
      m.project(raw((2L, "b", "2"))), 0L, m, root, schema)
    assert(rewritten.nonEmpty, "first stream batch must merge, not no-op")
    assert(ManifestTable.read(spark, root, schema)
      .orderBy("id").collect().toSeq ==
      Seq(Row(1L, "a", 1L), Row(2L, "b", 2L)))
  }

  test("fresh-checkpoint restart (batchIds reset) is a new token stream") {
    val root = freshRoot("manifest_fresh_ckpt")
    val m = mapping
    // old stream committed batches 0 and 1 under checkpoint A
    ManifestTable.merge(m.project(raw((1L, "a", "1"))), 0L, m, root, schema,
      streamId = "ckptA")
    ManifestTable.merge(m.project(raw((2L, "b", "2"))), 1L, m, root, schema,
      streamId = "ckptA")
    // replay of A's last batch no-ops...
    assert(ManifestTable.merge(m.project(raw((2L, "X", "0"))), 1L, m, root,
      schema, streamId = "ckptA").isEmpty)
    // ...but a NEW checkpoint's batch 0 (or 1) is new data, not a replay
    val applied = ManifestTable.merge(
      m.project(raw((3L, "c", "3"))), 0L, m, root, schema,
      streamId = "ckptB")
    assert(applied.nonEmpty)
    assert(ManifestTable.read(spark, root, schema).count() == 3)
  }

  test("delete keeps NULL-keyed rows sharing a bucket with a deleted key") {
    // regression: `!key.isin(...)` is NULL for a NULL key and filter drops
    // NULL rows — a targeted delete must never erase unrelated rows
    val root = freshRoot("manifest_delete_nullkey")
    val rows = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(java.lang.Long.valueOf(1L), "a", java.lang.Long.valueOf(1L)),
        Row(null, "nullkey", java.lang.Long.valueOf(0L))),
      schema)
    // ONE bucket so the null-keyed row is guaranteed to share the
    // deleted key's bucket
    ManifestTable.create(rows, "id", root, numBuckets = 1)
    ManifestTable.delete(spark, root, schema, "id", Seq(1L), 1L)
    val left = ManifestTable.read(spark, root, schema).collect().toSeq
    assert(left == Seq(Row(null, "nullkey", 0L)),
      s"null-keyed row must survive the delete, got $left")
  }

  test("lookup honors the key comparator (normalized stats and filter)") {
    val root = freshRoot("manifest_lookup_cmp")
    val strSchema = StructType(Seq(
      StructField("k", StringType), StructField("v", LongType)))
    val lowerCmp: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      lower(_)
    ManifestTable.create(
      Seq(("Foo", 1L), ("BAR", 2L), ("baz", 3L)).toDF("k", "v"),
      "k", root, numBuckets = 4, keyComparator = lowerCmp)
    // probe with a different case than stored: the comparator-space
    // bucket, range stats and final filter must all still match
    val got = ManifestTable.lookup(spark, root, strSchema, "k",
        Seq("foo", "bar"), keyComparator = lowerCmp)
      .orderBy("k").collect().toSeq
    assert(got == Seq(Row("BAR", 2L), Row("Foo", 1L)))
    // delete agrees with lookup on the same normalized key
    ManifestTable.delete(spark, root, strSchema, "k", Seq("FOO"), 1L,
      keyComparator = lowerCmp)
    assert(ManifestTable.lookup(spark, root, strSchema, "k", Seq("foo"),
      keyComparator = lowerCmp).count() == 0)
  }

  test("all-null-keyed batch touches no buckets") {
    val root = freshRoot("manifest_null_touch")
    val m = mapping
    ManifestTable.merge(
      m.project(raw((1L to 8L).map(i => (i, s"n$i", i.toString)): _*)),
      0L, m, root, schema, numBuckets = 2)
    val m0 = ManifestTable.currentManifest(spark, root).get
    // a batch whose only row has a null key: the upsert drops it, so no
    // bucket may be rewritten (hash(null) = seed would otherwise always
    // mark bucket pmod(seed, n) touched)
    val nullBatch = Seq((Seq("", "x", "9"), 0L)).toDF("_raw", "_line")
    val rewritten = ManifestTable.merge(
      m.project(nullBatch), 1L, m, root, schema)
    assert(rewritten.isEmpty, s"null-key batch rewrote: $rewritten")
    val m1 = ManifestTable.currentManifest(spark, root).get
    assert(m1.entries.toSet == m0.entries.toSet)
  }

  test("schema evolution: new nullable column reads old files as null") {
    val root = freshRoot("manifest_evolve")
    val m = mapping
    ManifestTable.merge(m.project(raw((1L, "a", "1"))), 0L, m, root, schema)
    val wider = StructType(schema.fields :+
      StructField("extra", StringType))
    val widerMapping = {
      val mm = new Mapping()
      mm.auto("id"); mm.auto("name"); mm.auto("score"); mm.auto("extra")
      mm.complete(wider)
      mm
    }
    // widening is opt-in (format 7 records the schema; adds refuse
    // without the flag — SchemaEvolutionSpec pins that); once evolved,
    // the recorded schema IS the wider one and later merges need no flag
    ManifestTable.merge(
      Seq((Seq("2", "b", "2", "x"), 0L)).toDF("_raw", "_line")
        .transform(widerMapping.project),
      1L, widerMapping, root, wider, evolveSchema = true)
    val rows = ManifestTable.read(spark, root, wider)
      .orderBy("id").collect().toSeq
    assert(rows == Seq(
      Row(1L, "a", 1L, null), // old file: new column reads as null
      Row(2L, "b", 2L, "x")))
    // the DELTA path evolves the same way: a wider delta lands on top of
    // the old-schema base and the reconcile reads both under the wider
    // schema (old files null-fill the new column)
    ManifestTable.merge(
      Seq((Seq("1", "a2", "11", "y"), 0L)).toDF("_raw", "_line")
        .transform(widerMapping.project),
      2L, widerMapping, root, wider, delta = true)
    val rows2 = ManifestTable.read(spark, root, wider)
      .orderBy("id").collect().toSeq
    assert(rows2 == Seq(
      Row(1L, "a2", 11L, "y"),
      Row(2L, "b", 2L, "x")), s"delta evolution broke: $rows2")
  }

  test("a crashed attempt's side-dirs stay invisible; vacuum GCs them") {
    val root = freshRoot("manifest_orphan_purge")
    val m = mapping
    ManifestTable.merge(m.project(raw((1L, "a", "1"), (2L, "b", "2"))),
      0L, m, root, schema)
    // crashed merge attempt at version 1: its stats dir landed (with
    // _SUCCESS) but its manifest commit never happened
    Seq((7L, 7L)).toDF("read_keys", "created")
      .write.parquet(s"$root/stats/v1-deadcafe")
    assert(ManifestTable.statsOf(spark, root).count() == 0,
      "orphan above current must stay invisible")
    // a delete now claims version 1 — the orphan must not ride its
    // commit into visibility (the manifest records the WINNING attempt's
    // id; the crashed attempt's dir doesn't match it)
    ManifestTable.delete(spark, root, schema, "id", Seq(1L), 1L)
    assert(ManifestTable.currentVersion(spark, root).contains(1L))
    assert(ManifestTable.statsOf(spark, root).count() == 0,
      "crashed merge's stats must not become committed via delete")
    // still on disk (harmless, invisible) until vacuum collects it
    assert(new java.io.File(s"$root/stats/v1-deadcafe").exists())
    ManifestTable.vacuum(spark, root)
    assert(!new java.io.File(s"$root/stats/v1-deadcafe").exists(),
      "vacuum must GC the crashed attempt's side dir")
  }

  test("time travel: readAt returns any retained snapshot") {
    val root = freshRoot("manifest_timetravel")
    val m = mapping
    ManifestTable.merge(m.project(raw((1L, "a", "1"))), 0L, m, root, schema)
    ManifestTable.merge(m.project(raw((1L, "A2", "2"), (2L, "b", "2"))),
      1L, m, root, schema)
    ManifestTable.delete(spark, root, schema, "id", Seq(1L), 100L)
    // three snapshots, oldest first, with row counts
    assert(ManifestTable.versions(spark, root) ==
      Seq((0L, 16, 1L), (1L, 16, 2L), (2L, 16, 1L)))
    assert(ManifestTable.readAt(spark, root, schema, 0L)
      .collect().toSeq == Seq(Row(1L, "a", 1L)))
    assert(ManifestTable.readAt(spark, root, schema, 1L)
      .orderBy("id").collect().toSeq ==
      Seq(Row(1L, "A2", 2L), Row(2L, "b", 2L)))
    assert(ManifestTable.readAt(spark, root, schema, 2L)
      .collect().toSeq == Seq(Row(2L, "b", 2L)))
    // vacuum retires old snapshots; current still reads
    ManifestTable.vacuum(spark, root)
    intercept[IllegalArgumentException] {
      ManifestTable.readAt(spark, root, schema, 0L)
    }
    assert(ManifestTable.read(spark, root, schema).count() == 1)
  }

  test("snapshot isolation: a resolved reader survives later commits") {
    val root = freshRoot("manifest_snapshot")
    val m = mapping
    ManifestTable.merge(m.project(raw((1L, "a", "1"))), 0L, m, root, schema)
    // reader resolves the manifest NOW; its file list is pinned
    val reader = ManifestTable.read(spark, root, schema)
    // two later commits rewrite the key's bucket under new versions
    ManifestTable.merge(m.project(raw((1L, "CHANGED", "9"))),
      1L, m, root, schema)
    ManifestTable.delete(spark, root, schema, "id", Seq(1L), 42L)
    // old data files are immutable and retained until vacuum, so the
    // pinned reader still sees its snapshot...
    assert(reader.collect().toSeq == Seq(Row(1L, "a", 1L)))
    // ...while a fresh reader sees the current (deleted) state
    assert(ManifestTable.read(spark, root, schema).count() == 0)
  }

  test("rebucket rewrites the layout; merges and lookups keep working") {
    val root = freshRoot("manifest_rebucket")
    val m = mapping
    ManifestTable.merge(
      m.project(raw((1L to 16L).map(i => (i, s"n$i", i.toString)): _*)),
      0L, m, root, schema, numBuckets = 2)
    val before = ManifestTable.read(spark, root, schema)
      .orderBy("id").collect().toSeq

    ManifestTable.rebucket(spark, root, schema, "id",
      newNumBuckets = 8, token = 500L)
    val man = ManifestTable.currentManifest(spark, root).get
    assert(man.numBuckets == 8)
    assert(man.entries.map(_.rows).sum == 16)
    assert(ManifestTable.read(spark, root, schema)
      .orderBy("id").collect().toSeq == before)
    // replayed rebucket: no-op
    ManifestTable.rebucket(spark, root, schema, "id", 4, token = 500L)
    assert(ManifestTable.currentManifest(spark, root).get.numBuckets == 8)

    // lookup prunes against the NEW layout
    val files = ManifestTable.lookup(spark, root, schema, "id", Seq(7L))
      .inputFiles.toSeq
    val bucketsRead = files.flatMap(f =>
      "_bucket=(\\d+)".r.findFirstMatchIn(f).map(_.group(1).toInt)).toSet
    assert(bucketsRead == Set(bucketOf(7L, 8)), s"read $bucketsRead")
    // a merge after rebucketing touches only the new-layout bucket
    val rewritten = ManifestTable.merge(
      m.project(raw((7L, "SEVEN", "77"))), 1L, m, root, schema)
    assert(rewritten.map(_.bucket).toSet == Set(bucketOf(7L, 8)))
    assert(ManifestTable.read(spark, root, schema)
      .filter($"id" === 7L).head.getString(1) == "SEVEN")
  }

  test("vacuum drops unreferenced data versions and old manifests") {
    val root = freshRoot("manifest_vacuum")
    val m = mapping
    ManifestTable.merge(
      m.project(raw((1L to 8L).map(i => (i, s"n$i", i.toString)): _*)),
      0L, m, root, schema, numBuckets = 2)
    // touch EVERY bucket so v0 becomes fully superseded
    ManifestTable.merge(
      m.project(raw((1L to 8L).map(i => (i, s"x$i", i.toString)): _*)),
      1L, m, root, schema)
    ManifestTable.vacuum(spark, root)
    val dataDirs = new java.io.File(s"$root/data").list().toSeq
    assert(!dataDirs.exists(_.startsWith("v0")),
      s"fully superseded data version must be vacuumed, left: $dataDirs")
    assert(!new java.io.File(s"$root/manifest/m0").exists())
    assert(ManifestTable.read(spark, root, schema).count() == 8)
  }

  test("change feed: per-commit inserts/updates/deletes from manifest diffs") {
    val root = freshRoot("manifest_cdc")
    val m = mapping
    // v0: ids 1..4 created
    ManifestTable.merge(
      m.project(raw((1L to 4L).map(i => (i, s"n$i", i.toString)): _*)),
      0L, m, root, schema, numBuckets = 4)
    // v1: update id 2, insert id 9
    ManifestTable.merge(m.project(raw((2L, "TWO", "22"), (9L, "nine", "9"))),
      1L, m, root, schema)
    // v2: delete id 3
    ManifestTable.delete(spark, root, schema, "id", Seq(3L), 7L)
    // v3: rebucket moves every row without changing any — diffs to nothing
    ManifestTable.rebucket(spark, root, schema, "id", 8, token = 99L)

    val feed = ManifestTable.changes(spark, root, schema, "id", -1L, 3L)
      .orderBy("_version", "_change_type", "id").collect().toSeq
    val expected =
      (1L to 4L).map(i => Row(i, s"n$i", i, "insert", 0L)) ++ Seq(
        Row(9L, "nine", 9L, "insert", 1L),
        Row(2L, "TWO", 22L, "update_postimage", 1L),
        Row(2L, "n2", 2L, "update_preimage", 1L),
        Row(3L, "n3", 3L, "delete", 2L))
    assert(feed == expected, s"got $feed")
    // a narrower window returns only that window's commits
    assert(ManifestTable.changes(spark, root, schema, "id", 1L, 2L)
      .collect().toSeq == Seq(Row(3L, "n3", 3L, "delete", 2L)))
    // unchanged rows sharing a rewritten bucket emitted nothing: the
    // full feed above contains no row for ids 1 and 4 past version 0
    assert(!feed.exists(r => r.getLong(0) == 1L && r.getLong(4) > 0L))
  }

  test("OCC: a losing merge retries against the winner's committed state") {
    val root = freshRoot("manifest_occ_merge")
    val m = mapping
    ManifestTable.merge(
      m.project(raw((1L to 8L).map(i => (i, s"n$i", i.toString)): _*)),
      0L, m, root, schema, numBuckets = 4, streamId = "A")
    // two keys in different buckets so untouched-carry is checkable
    val keyA = 3L
    val keyB = (1L to 8L).find(i => bucketOf(i, 4) != bucketOf(keyA, 4)).get
    var fired = false
    ManifestTable.testBeforeCommit = () => {
      if (!fired) {
        fired = true
        // writer B commits version 1 between A's compute and A's commit
        ManifestTable.merge(m.project(raw((keyB, "FROM_B", "60"))),
          0L, m, root, schema, streamId = "B")
      }
    }
    try {
      val written = ManifestTable.merge(
        m.project(raw((keyA, "FROM_A", "30"))),
        1L, m, root, schema, streamId = "A")
      assert(written.nonEmpty, "retried merge must still commit")
    } finally ManifestTable.testBeforeCommit = () => ()
    val m2 = ManifestTable.currentManifest(spark, root).get
    assert(m2.version == 2L, "loser must retry at the next version")
    // NEITHER writer's update was lost
    val state = ManifestTable.read(spark, root, schema)
      .orderBy("id").collect().toSeq
    assert(state == (1L to 8L).map(i =>
      if (i == keyA) Row(i, "FROM_A", 30L)
      else if (i == keyB) Row(i, "FROM_B", 60L)
      else Row(i, s"n$i", i)).toSeq)
    // B's committed bucket carries into A's retried manifest verbatim
    val m1 = ManifestTable.readManifest(spark, root, 1L)
    val bBucket = bucketOf(keyB, 4)
    assert(m2.entries.find(_.bucket == bBucket) ==
      m1.entries.find(_.bucket == bBucket),
      "winner's bucket must carry untouched through the loser's retry")
  }

  test("OCC: losing writer's stats land at its retried version only") {
    val root = freshRoot("manifest_occ_stats")
    val m = mapping
    ManifestTable.merge(m.project(raw((1L, "a", "1"))), 0L, m, root, schema,
      recordStats = true, streamId = "A")
    var fired = false
    ManifestTable.testBeforeCommit = () => {
      if (!fired) {
        fired = true
        ManifestTable.merge(m.project(raw((2L, "b", "2"))), 0L, m, root,
          schema, recordStats = true, streamId = "B")
      }
    }
    try ManifestTable.merge(m.project(raw((3L, "c", "3"))), 1L, m, root,
      schema, recordStats = true, streamId = "A")
    finally ManifestTable.testBeforeCommit = () => ()
    // exactly one stats row per committed version — the loser's abandoned
    // attempt at version 1 left nothing visible
    val stats = ManifestTable.statsOf(spark, root)
      .orderBy("_version").collect().toSeq
    assert(stats.map(_.getAs[Long]("_version")) == Seq(0L, 1L, 2L),
      s"got versions ${stats.map(_.getAs[Long]("_version"))}")
    assert(stats.map(_.getAs[Long]("created")) == Seq(1L, 1L, 1L))
    // after vacuum exactly the three committed stats dirs remain
    ManifestTable.vacuum(spark, root)
    assert(new java.io.File(s"$root/stats").list().toSeq.size == 3,
      "loser attempt dirs must be cleaned up")
  }

  test("vacuum racing a writer mid-commit keeps the in-flight data dirs") {
    // The writer has written data/v1-<attempt> and its temp manifest but
    // not yet renamed it into place; vacuum runs in that window. The
    // in-flight dirs are at version > current, so vacuum must keep them —
    // deleting them would let the writer win its rename a moment later
    // and publish a manifest referencing vacuumed files (silent loss).
    val root = freshRoot("manifest_vacuum_inflight")
    val m = mapping
    ManifestTable.merge(
      m.project(raw((1L to 4L).map(i => (i, s"n$i", i.toString)): _*)),
      0L, m, root, schema, streamId = "A")
    var fired = false
    ManifestTable.testBeforeCommit = () => {
      if (!fired) { fired = true; ManifestTable.vacuum(spark, root) }
    }
    try ManifestTable.merge(m.project(raw((5L, "new", "5"))), 1L, m, root,
      schema, streamId = "A")
    finally ManifestTable.testBeforeCommit = () => ()
    // the commit went through AND every file it references is readable
    assert(ManifestTable.currentVersion(spark, root).contains(1L))
    val ids = ManifestTable.read(spark, root, schema)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 2L, 3L, 4L, 5L),
      s"vacuum must not eat an in-flight commit's data, got $ids")
  }

  test("vacuum vs reader: current snapshot completes, vacuumed one fails " +
      "loudly") {
    // numBuckets=1 so the v1 merge supersedes ALL of v0's data — the
    // sharpest version of the race.
    val root = freshRoot("manifest_vacuum_reader")
    val m = mapping
    ManifestTable.merge(
      m.project(raw((1L to 4L).map(i => (i, s"n$i", i.toString)): _*)),
      0L, m, root, schema, numBuckets = 1, streamId = "A")
    ManifestTable.merge(m.project(raw((5L, "new", "5"))), 1L, m, root,
      schema, streamId = "A")
    // both readers resolve their manifest BEFORE vacuum
    val atCurrent = ManifestTable.read(spark, root, schema)
    val atV0 = ManifestTable.readAt(spark, root, schema, 0L)
    ManifestTable.vacuum(spark, root)
    // current's files survive vacuum: the action completes, full result
    assert(atCurrent.count() == 5L)
    // v0's files are gone: the action must fail LOUDLY (file-not-found
    // through Spark's scan), never return a silently partial result
    val e = intercept[Exception] { atV0.count() }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(e).exists(t =>
      t.isInstanceOf[java.io.FileNotFoundException] ||
        String.valueOf(t.getMessage).toLowerCase.contains("not exist") ||
        String.valueOf(t.getMessage).toLowerCase.contains("notfound")),
      s"expected a loud missing-file failure, got: $e")
  }

  test("replay detection is per stream: an interleaved writer cannot " +
      "unmask a replayed batch") {
    val root = freshRoot("manifest_per_stream_replay")
    val m = mapping
    ManifestTable.merge(m.project(raw((1L, "a", "1"))), 0L, m, root, schema,
      recordStats = true, streamId = "A")
    // another stream commits in between — under a single last-token this
    // would overwrite A's token and make A's replay look fresh
    ManifestTable.merge(m.project(raw((2L, "b", "2"))), 0L, m, root, schema,
      recordStats = true, streamId = "B")
    // at-least-once re-delivery of A's batch 0
    val replayed = ManifestTable.merge(m.project(raw((1L, "a", "1"))), 0L,
      m, root, schema, recordStats = true, streamId = "A")
    assert(replayed.isEmpty, "replayed batch must be a no-op")
    assert(ManifestTable.currentVersion(spark, root).contains(1L),
      "a replay must not commit a new version")
    // side outputs not duplicated: one stats row per real merge
    assert(ManifestTable.statsOf(spark, root).count() == 2L)
    val mf = ManifestTable.currentManifest(spark, root).get
    assert(mf.lastBatches == Map("A" -> 0L, "B" -> 0L))
  }

  test("format-3 manifests (single last-batch token) stay readable") {
    val root = freshRoot("manifest_format3")
    val m = mapping
    ManifestTable.merge(m.project(raw((1L, "a", "1"), (2L, "b", "2"))),
      7L, m, root, schema, streamId = "s1")
    // rewrite the committed manifest in format 3's layout by hand
    val mf = ManifestTable.currentManifest(spark, root).get
    val enc = (s: String) => java.net.URLEncoder.encode(
      s, java.nio.charset.StandardCharsets.UTF_8)
    val body = (Seq(
      "graft-manifest 3",
      Seq(mf.numBuckets.toString, enc("s1"), "7", "", mf.sideId)
        .mkString("\t")) ++
      mf.entries.map(e =>
        s"${e.bucket}\t${e.rows}\t${enc(e.minKey)}\t${enc(e.maxKey)}\t${e.relPath}"))
      .mkString("", "\n", "\n")
    // bypassing the Hadoop FS invalidates its .crc sidecar — drop it
    Files.deleteIfExists(Paths.get(s"$root/manifest/.m0.crc"))
    Files.write(Paths.get(s"$root/manifest/m0"),
      body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val back = ManifestTable.currentManifest(spark, root).get
    assert(back.lastBatches == Map("s1" -> 7L),
      "format-3 single token must surface as a one-entry map")
    assert(ManifestTable.read(spark, root, schema).count() == 2L)
    // and the old token still suppresses its replay
    val replayed = ManifestTable.merge(
      m.project(raw((1L, "a", "1"), (2L, "b", "2"))),
      7L, m, root, schema, streamId = "s1")
    assert(replayed.isEmpty)
  }

  test("format-4 manifests (no keyExpr) stay readable") {
    val root = freshRoot("manifest_format4")
    val m = mapping
    ManifestTable.merge(m.project(raw((1L, "a", "1"), (2L, "b", "2"))),
      7L, m, root, schema, streamId = "s1")
    val mf = ManifestTable.currentManifest(spark, root).get
    val enc = (s: String) => java.net.URLEncoder.encode(
      s, java.nio.charset.StandardCharsets.UTF_8)
    val body = (Seq(
      "graft-manifest 4",
      Seq(mf.numBuckets.toString, s"${enc("s1")}:7", "", mf.sideId,
        enc(mf.keyColumn)).mkString("\t")) ++
      mf.entries.map(e =>
        s"${e.bucket}\t${e.rows}\t${enc(e.minKey)}\t${enc(e.maxKey)}\t" +
          s"${e.relPath}\t${e.seq}"))
      .mkString("", "\n", "\n")
    Files.deleteIfExists(Paths.get(s"$root/manifest/.m0.crc"))
    Files.write(Paths.get(s"$root/manifest/m0"),
      body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val back = ManifestTable.currentManifest(spark, root).get
    assert(back.keyExpr.isEmpty && back.keyColumn == "id")
    assert(ManifestTable.read(spark, root, schema).count() == 2L)
    // the next merge upgrades the table to format 5 in place
    ManifestTable.merge(m.project(raw((3L, "c", "3"))),
      8L, m, root, schema, streamId = "s1")
    assert(ManifestTable.read(spark, root, schema).count() == 3L)
  }

  test("delta reconcile is sound under a normalizing key comparator " +
      "(recorded keyExpr drives the bare read)") {
    val root = freshRoot("manifest_delta_cmp")
    val strSchema = StructType(Seq(
      StructField("k", StringType), StructField("v", StringType)))
    val m = new Mapping("k") {
      override def keyComparator = c => trim(lower(c))
    }
    m.auto("k", c => c); m.auto("v")
    m.complete(strSchema)
    // base rows with UPPER-case raw keys
    ManifestTable.merge(
      m.project(graft.sources.Sources.rows(spark,
        Seq(Seq("ABC", "x"), Seq("DEF", "y")), headerLines = -1)),
      0L, m, root, strSchema, numBuckets = 2, streamId = "A")
    assert(ManifestTable.currentManifest(spark, root).get.keyExpr.nonEmpty,
      "a non-identity built-in comparator must be recorded as keyExpr")
    // the delta batch updates abc under a DIFFERENT raw key ("  abc " vs
    // "ABC"): a raw-key reconcile would keep the stale base row AND the
    // delta row — duplicate normalized keys on a bare read()
    ManifestTable.merge(
      m.project(graft.sources.Sources.rows(spark,
        Seq(Seq("  abc ", "x2")), headerLines = -1)),
      1L, m, root, strSchema, streamId = "A", delta = true)
    val rows = ManifestTable.read(spark, root, strSchema).collect().toSeq
    assert(rows.size == 2,
      s"stale base row leaked past the delta reconcile: $rows")
    val byNorm = rows.map(r =>
      (r.getString(0).trim.toLowerCase, r.getString(1))).toMap
    assert(byNorm == Map("abc" -> "x2", "def" -> "y"), s"got $rows")
    // lookup with the identity default also reconciles on the recorded
    // normalizer (the comparator still matters for probe rendering, so
    // pass it for the probe — the point is the reconcile underneath)
    val hit = ManifestTable.lookup(spark, root, strSchema, "k",
      Seq("ABC"), keyComparator = c => trim(lower(c))).collect().toSeq
    assert(hit.map(_.getString(1)) == Seq("x2"), s"lookup saw $hit")
    // the change feed diffs in normalized space: the delta commit is ONE
    // update (pre+post), never a spurious insert+delete pair
    val feed = ManifestTable.changes(spark, root, strSchema, "k", 0L, 1L)
      .select("_change_type").as[String].collect().sorted.toSeq
    assert(feed == Seq("update_postimage", "update_preimage"),
      s"feed classified the cross-case update as $feed")
  }

  test("compaction token cannot suppress a delete (separate token spaces)") {
    // streamId "" hashes to 0, so StreamingImport's derived compaction
    // token equals the bare batchId — exactly the small ints callers
    // pass as delete tokens. With a shared token space the later delete
    // would silently no-op as a "replay": a skipped GDPR erasure.
    val root = freshRoot("manifest_token_spaces")
    val m = mapping
    ManifestTable.merge(
      m.project(raw((1L to 6L).map(i => (i, s"n$i", i.toString)): _*)),
      0L, m, root, schema, numBuckets = 2, streamId = "")
    ManifestTable.merge(m.project(raw((1L, "u", "10"))), 4L, m, root,
      schema, streamId = "", delta = true)
    assert(ManifestTable.compact(spark, root, schema, "id", token = 4L)
      .nonEmpty)
    // the compaction replay guard still works within its own space ...
    ManifestTable.merge(m.project(raw((2L, "u2", "20"))), 5L, m, root,
      schema, streamId = "", delta = true)
    assert(ManifestTable.compact(spark, root, schema, "id", token = 4L)
      .isEmpty, "compact must treat its own repeated token as a replay")
    // ... and the user's delete with the SAME numeric token still runs
    ManifestTable.delete(spark, root, schema, "id", Seq(1L), token = 4L)
    assert(ManifestTable.read(spark, root, schema)
      .filter(col("id") === 1L).count() == 0,
      "delete was swallowed by the compaction token")
  }

  test("delete/lookup/compact with the identity default are sound on a " +
      "keyExpr-recorded table") {
    // The caller may legitimately hold only the default (SQL tooling,
    // bare maintenance jobs): every key-matching op must fall back to
    // the manifest-recorded normalizer for bucket targeting AND key
    // filters — a raw-key probe picks the wrong bucket and a raw-key
    // filter misses case/trim variants, committing a delete token while
    // erasing nothing.
    val root = freshRoot("manifest_default_cmp_ops")
    val strSchema = StructType(Seq(
      StructField("k", StringType), StructField("v", StringType)))
    val m = new Mapping("k") {
      override def keyComparator = c => trim(lower(c))
    }
    m.auto("k", c => c); m.auto("v")
    m.complete(strSchema)
    ManifestTable.merge(
      m.project(graft.sources.Sources.rows(spark,
        Seq(Seq("ABC", "x"), Seq("DEF", "y"), Seq("GHI", "z")),
        headerLines = -1)),
      0L, m, root, strSchema, numBuckets = 8, streamId = "A")
    // lookup with the DEFAULT comparator, probing a case/trim variant
    val hit = ManifestTable.lookup(spark, root, strSchema, "k",
      Seq(" abc ")).collect().toSeq
    assert(hit.map(_.getString(1)) == Seq("x"),
      s"identity-default lookup missed the normalized bucket: $hit")
    // delete with the DEFAULT comparator and a different-raw variant:
    // the row must actually be erased (not a token-committing no-op)
    ManifestTable.delete(spark, root, strSchema, "k", Seq("abc "),
      token = 1L)
    val after = ManifestTable.read(spark, root, strSchema)
      .select("v").as[String].collect().sorted.toSeq
    assert(after == Seq("y", "z"),
      s"identity-default delete erased nothing: $after")
    // compact with the DEFAULT comparator after a delta merge must keep
    // the comparator-space layout (a raw-key re-bucket would break every
    // later pruned lookup)
    ManifestTable.merge(
      m.project(graft.sources.Sources.rows(spark,
        Seq(Seq("  def ", "y2")), headerLines = -1)),
      1L, m, root, strSchema, streamId = "A", delta = true)
    assert(ManifestTable.compact(spark, root, strSchema, "k", token = 7L)
      .nonEmpty)
    val hit2 = ManifestTable.lookup(spark, root, strSchema, "k",
      Seq("DEF")).collect().toSeq
    assert(hit2.map(_.getString(1)) == Seq("y2"),
      s"post-compact identity-default lookup lost the key: $hit2")
  }

  test("delta merge refuses a comparator with no SQL form") {
    val root = freshRoot("manifest_delta_udf_cmp")
    val strSchema = StructType(Seq(
      StructField("k", StringType), StructField("v", StringType)))
    val norm = udf((s: String) => if (s == null) null else s.toLowerCase)
    val m = new Mapping("k") {
      override def keyComparator = c => norm(c)
    }
    m.auto("k", c => c); m.auto("v")
    m.complete(strSchema)
    val batch = m.project(graft.sources.Sources.rows(spark,
      Seq(Seq("ABC", "x")), headerLines = -1))
    val e = intercept[IllegalArgumentException] {
      ManifestTable.merge(batch, 0L, m, root, strSchema, delta = true)
    }
    assert(e.getMessage.contains("comparator"))
    // rewrite mode still works — no reconcile is ever needed
    ManifestTable.merge(batch, 0L, m, root, strSchema)
    assert(ManifestTable.read(spark, root, strSchema).count() == 1L)
  }

  test("change feed reads only commit-touched buckets (inputFiles)") {
    val root = freshRoot("manifest_changes_pruned")
    val m = mapping
    ManifestTable.merge(
      m.project(raw((1L to 32L).map(i => (i, s"n$i", i.toString)): _*)),
      0L, m, root, schema, numBuckets = 8, streamId = "A")
    // v1 updates ONE key → exactly one touched bucket
    ManifestTable.merge(m.project(raw((7L, "SEVEN", "77"))), 1L, m, root,
      schema, streamId = "A")
    val man = ManifestTable.currentManifest(spark, root).get
    val feed = ManifestTable.changes(spark, root, schema, "id", 0L, 1L)
    val got = feed.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getAs[String]("_change_type"))).toSet
    assert(got == Set((7L, "n7", "update_preimage"),
      (7L, "SEVEN", "update_postimage")), s"bad feed: $got")
    // the feed's scans are backed ONLY by the rewritten bucket's old and
    // new files — the other 7 buckets cost zero I/O
    val hot = bucketOf(7L, 8)
    val bucketsRead = feed.inputFiles.toSeq.flatMap(f =>
      "_bucket=(\\d+)".r.findFirstMatchIn(f).map(_.group(1).toInt)).toSet
    assert(bucketsRead == Set(hot),
      s"feed must read only the touched bucket: $bucketsRead " +
      s"(table has ${man.entries.size} live buckets)")
  }

  test("delta merges: batch-sized writes, reconciled reads, compact folds " +
      "per bucket") {
    val root = freshRoot("manifest_delta")
    val m = mapping
    ManifestTable.merge(
      m.project(raw((1L to 8L).map(i => (i, s"n$i", i.toString)): _*)),
      0L, m, root, schema, numBuckets = 4, streamId = "A")
    val m0 = ManifestTable.currentManifest(spark, root).get

    // two delta merges graze the same bucket; each writes ONLY its batch
    val w1 = ManifestTable.merge(
      m.project(raw((3L, "u1", "30"), (9L, "new", "90"))),
      1L, m, root, schema, streamId = "A", delta = true)
    assert(w1.map(_.rows).sum == 2,
      s"delta write must be batch-sized, got $w1")
    val m1 = ManifestTable.currentManifest(spark, root).get
    assert(m0.entries.forall(m1.entries.contains),
      "a delta merge must keep every prior file live")
    val w2 = ManifestTable.merge(m.project(raw((3L, "u2", "300"))),
      2L, m, root, schema, streamId = "A", delta = true)
    assert(w2.map(_.rows).sum == 1)

    // reconciled read: one live row per key, last version wins
    def state() = ManifestTable.read(spark, root, schema).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    val rows = state()
    assert(rows.size == 9 && rows(3L) == (("u2", 300L)) &&
      rows(9L) == (("new", 90L)), s"bad reconciled state: $rows")
    // pruned lookup reconciles too — never two rows for an updated key
    val lk = ManifestTable.lookup(spark, root, schema, "id", Seq(3L))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(lk == Seq((3L, "u2")), s"lookup must see only the live row: $lk")
    // reconcile plan shape: an anti-join chain, never a per-key aggregate
    // that would shuffle the whole base level
    val rdf = ManifestTable.read(spark, root, schema)
    rdf.collect()
    val plan = rdf.queryExecution.executedPlan.toString
    assert(plan.contains("LeftAnti"),
      s"reconcile must be an anti-join chain:\n$plan")
    assert(!plan.contains("max_by") && !plan.contains("SortAggregate"),
      s"reconcile must not aggregate the base level:\n$plan")
    // the feed across the delta merges: id 9 created once, id 3 updated
    // twice (v1 and v2)
    val feed = ManifestTable.changes(spark, root, schema, "id", 0L, 2L)
      .groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(feed == Map("insert" -> 1L, "update_preimage" -> 2L,
      "update_postimage" -> 2L), s"bad feed: $feed")

    // untouched buckets' files stay byte-identical through compact
    val hot = Set(bucketOf(3L, 4), bucketOf(9L, 4))
    val cold = m0.entries.filter(e => !hot(e.bucket))
    assert(cold.nonEmpty, "need cold buckets for the test")
    val before = cold
      .map(e => e.relPath -> fileDigests(s"$root/${e.relPath}")).toMap
    val preCompact = ManifestTable.currentVersion(spark, root).get

    val folded = ManifestTable.compact(spark, root, schema, "id", token = 50L)
    assert(folded.nonEmpty)
    val mc = ManifestTable.currentManifest(spark, root).get
    assert(mc.entries.groupBy(_.bucket).values.forall(_.size == 1),
      "compact must fold every tiered bucket to one file")
    cold.foreach(e => assert(mc.entries.contains(e),
      s"cold entry must carry verbatim: $e"))
    before.foreach { case (rel, d) =>
      assert(fileDigests(s"$root/$rel") == d,
        s"cold bucket files must stay byte-identical: $rel")
    }
    assert(state() == rows, "compact must be row-invisible")
    // ... including to the change feed (same rule as rebucket)
    assert(ManifestTable.changes(spark, root, schema, "id", preCompact,
      mc.version).count() == 0L)
    // idempotent: nothing left at or above the tier threshold
    assert(ManifestTable.compact(spark, root, schema, "id", 51L).isEmpty)
    // pre-compact snapshots stay readable until vacuum...
    assert(ManifestTable.readAt(spark, root, schema, preCompact)
      .count() == 9L)
    // ...then vacuum GCs exactly the merged-away sources
    ManifestTable.vacuum(spark, root)
    val live = mc.entries.map(_.relPath.split("/")(1)).toSet
    val dataDirs = new java.io.File(s"$root/data").list().toSet
    assert(dataDirs == live,
      s"vacuum must GC superseded base/delta dirs: $dataDirs vs $live")
    assert(state() == rows, "vacuumed table must still read in full")
  }

  test("targeted delete over delta files reconciles before rewriting") {
    val root = freshRoot("manifest_delta_delete")
    val m = mapping
    ManifestTable.merge(
      m.project(raw((1L to 8L).map(i => (i, s"n$i", i.toString)): _*)),
      0L, m, root, schema, numBuckets = 2, streamId = "A")
    ManifestTable.merge(m.project(raw((3L, "u1", "30"), (4L, "u2", "40"))),
      1L, m, root, schema, streamId = "A", delta = true)
    ManifestTable.delete(spark, root, schema, "id", Seq(3L), token = 9L)
    val rows = ManifestTable.read(spark, root, schema).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(!rows.contains(3L), "deleted key must be gone")
    assert(rows(4L) == "u2",
      "the delta's update must survive the bucket rewrite")
    assert(rows.size == 7)
    // the rewritten bucket comes out compacted as a side effect
    val mf = ManifestTable.currentManifest(spark, root).get
    assert(mf.entries.groupBy(_.bucket)(bucketOf(3L, 2)).size == 1)
  }

  test("history redaction: GDPR erasure reaches the keep_history rows") {
    val root = freshRoot("manifest_redact")
    val m = {
      val mm = new Mapping()
      mm.auto("id"); mm.auto("name")
      mm.auto("score", opts = graft.mapping.ColOpts(keepHistory = true))
      mm.complete(schema)
      mm
    }
    ManifestTable.merge(
      m.project(raw((1L, "a", "1"), (2L, "b", "2"), (3L, "c", "3"))),
      0L, m, root, schema, numBuckets = 2, streamId = "A")
    // two updating merges → two history dirs, both holding id 1 and 2
    ManifestTable.merge(m.project(raw((1L, "a", "10"), (2L, "b", "20"))),
      1L, m, root, schema, streamId = "A")
    ManifestTable.merge(m.project(raw((1L, "a", "100"), (2L, "b", "200"))),
      2L, m, root, schema, streamId = "A")
    def historyIds() = ManifestTable.historyOf(spark, root)
      .select("id").collect().map(_.getLong(0)).toSeq.sorted
    assert(historyIds() == Seq(1L, 1L, 2L, 2L))

    // live delete removes the row; history still remembers — that's the
    // gap redactHistory closes
    ManifestTable.delete(spark, root, schema, "id", Seq(1L), token = 7L)
    assert(historyIds() == Seq(1L, 1L, 2L, 2L))
    assert(ManifestTable.redactHistory(spark, root, "id", Seq(1L)) == 2)
    assert(historyIds() == Seq(2L, 2L),
      "id 1 must be gone from every history dir")
    // idempotent: nothing left to rewrite
    assert(ManifestTable.redactHistory(spark, root, "id", Seq(1L)) == 0)

    // a TORN redaction (no _SUCCESS) is invisible to readers and GC'd
    val torn = new java.io.File(s"$root/history")
      .list().filter(_.startsWith("v1")).head
    val tornNext = s"$root/history/${torn.split("-r")(0)}-r9"
    new java.io.File(tornNext).mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$tornNext/part-junk.parquet"), "garbage")
    assert(historyIds() == Seq(2L, 2L))
    ManifestTable.vacuum(spark, root)
    assert(!new java.io.File(tornNext).exists(),
      "vacuum must GC the torn redaction revision")
    assert(historyIds() == Seq(2L, 2L))
    // and the live table still reads in full after all maintenance
    assert(ManifestTable.read(spark, root, schema).count() == 2L)
  }

  test("history expiry: count and time retention windows, all revisions") {
    val root = freshRoot("manifest_expire")
    val m = {
      val mm = new Mapping()
      mm.auto("id"); mm.auto("name")
      mm.auto("score", opts = graft.mapping.ColOpts(keepHistory = true))
      mm.complete(schema)
      mm
    }
    ManifestTable.merge(
      m.project(raw((1L, "a", "1"), (2L, "b", "2"))),
      0L, m, root, schema, numBuckets = 2, streamId = "A")
    // bootstrap (version 0) writes an EMPTY history dir at v0; three
    // updating merges add history-bearing dirs at v1, v2, v3
    Seq("10", "20", "30").zipWithIndex.foreach { case (s, i) =>
      ManifestTable.merge(m.project(raw((1L, "a", s))), i + 1L, m, root,
        schema, streamId = "A")
    }
    def historyScores() = ManifestTable.historyOf(spark, root)
      .select("old_score").collect().map(_.getLong(0)).toSeq.sorted
    assert(historyScores() == Seq(1L, 10L, 20L))

    // a superseded-revision leftover of v1 (crashed redaction cleanup)
    // must expire together with its version
    val v1dir = new java.io.File(s"$root/history")
      .list().filter(_.startsWith("v1")).head
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(s"$root/history/$v1dir"),
      new java.io.File(s"$root/history/$v1dir-r1"))

    // count-based: keep the newest 2 history versions → v0 (the empty
    // bootstrap dir) and v1 expire, every revision of each
    assert(ManifestTable.expireHistory(spark, root, keepLast = 2) == 2)
    assert(historyScores() == Seq(10L, 20L))
    assert(!new java.io.File(s"$root/history").list()
      .exists(n => n.startsWith("v0") || n.startsWith("v1")),
      "every revision of an expired version must be deleted")
    // idempotent
    assert(ManifestTable.expireHistory(spark, root, keepLast = 2) == 0)

    // time travel inside the retained window still sees expired-history
    // versions' LIVE state (expiry only shrinks the side channel)
    assert(ManifestTable.readAt(spark, root, schema, 1L)
      .filter($"id" === 1L).head.getLong(2) == 10L)

    // time-based, after vacuum retired the old manifests: commit time
    // falls back to the history dir's own mtime, and the cutoff rule
    // expires v2 even though keepLast = 2 would retain it (each
    // criterion is an expiry guarantee — union, not intersection)
    ManifestTable.vacuum(spark, root, keepLast = 1)
    val cutoff = System.currentTimeMillis() - 1000L * 3600
    val v2dir = new java.io.File(s"$root/history")
      .list().filter(_.startsWith("v2")).head
    new java.io.File(s"$root/history/$v2dir")
      .setLastModified(cutoff - 1000L)
    assert(ManifestTable.expireHistory(spark, root, keepLast = 2,
      olderThanMillis = cutoff) == 1)
    assert(historyScores() == Seq(20L))

    // live state and replay bookkeeping are unaffected throughout
    assert(ManifestTable.read(spark, root, schema).count() == 2L)
    assert(ManifestTable.expireHistory(spark, root, keepLast = 2,
      olderThanMillis = cutoff) == 0)
  }

  test("countRows: metadata-only on compacted tables, reconciled over " +
      "deltas") {
    val root = freshRoot("manifest_count_rows")
    val m = mapping
    ManifestTable.merge(
      m.project(raw((1L to 20L).map(i => (i, s"n$i", i.toString)): _*)),
      0L, m, root, schema, numBuckets = 4, streamId = "A")
    assert(ManifestTable.countRows(spark, root, schema) == 20L)
    // a delta commit (5 updates + 3 inserts): per-file counts overcount
    // the superseded keys, so the delta buckets must reconcile
    ManifestTable.merge(
      m.project(raw(((1L to 5L) ++ (21L to 23L))
        .map(i => (i, s"u$i", i.toString)): _*)),
      1L, m, root, schema, streamId = "A", delta = true)
    assert(ManifestTable.countRows(spark, root, schema) == 23L)
    assert(ManifestTable.countRows(spark, root, schema) ==
      ManifestTable.read(spark, root, schema).count())
    // compact back to single files, then PHYSICALLY DELETE the data:
    // the count must still answer — proof no data file is read
    ManifestTable.compact(spark, root, schema, "id", token = 1L)
    ManifestTable.vacuum(spark, root)
    assert(ManifestTable.countRows(spark, root, schema) == 23L)
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$root/data"))
    assert(ManifestTable.countRows(spark, root, schema) == 23L,
      "compacted count must come from the manifest alone")
  }

  test("history expiry survives a fresh redaction (commit time carried " +
      "onto the revision)") {
    // "older than 90 days must be gone" has to hold through yesterday's
    // redaction of a 100-day-old version: the revision rewrite carries
    // the source dir's mtime, and the post-vacuum fallback takes the
    // MINIMUM mtime across the version's dirs — a redaction can never
    // refresh an old version's clock.
    val root = freshRoot("manifest_expire_redact")
    val m = {
      val mm = new Mapping()
      mm.auto("id"); mm.auto("name")
      mm.auto("score", opts = graft.mapping.ColOpts(keepHistory = true))
      mm.complete(schema)
      mm
    }
    ManifestTable.merge(
      m.project(raw((1L, "a", "1"), (2L, "b", "2"))),
      0L, m, root, schema, numBuckets = 2, streamId = "A")
    ManifestTable.merge(m.project(raw((1L, "a", "10"), (2L, "b", "20"))),
      1L, m, root, schema, streamId = "A") // history v1: old 1 and 2
    ManifestTable.merge(m.project(raw((1L, "a", "30"))),
      2L, m, root, schema, streamId = "A") // history v2: old 10
    val cutoff = System.currentTimeMillis() - 1000L * 3600
    val old = cutoff - 1000L * 3600 // "100 days ago"
    val v1dir = new java.io.File(s"$root/history")
      .list().filter(_.startsWith("v1")).head
    new java.io.File(s"$root/history/$v1dir").setLastModified(old)
    // redact key 1 from history NOW: v1 and v2 both rewrite as -r1
    assert(ManifestTable.redactHistory(spark, root, "id", Seq(1L)) == 2)
    // vacuum retires the old manifests → expiry must use the fallback
    ManifestTable.vacuum(spark, root, keepLast = 1)
    assert(ManifestTable.expireHistory(spark, root,
      olderThanMillis = cutoff) == 1,
      "the redacted 'old' version must still expire on its ORIGINAL " +
        "commit time")
    // v1 (old, redacted yesterday) expired with key 2's surviving row;
    // v2's revision stays but redaction already emptied it (its only
    // history row was key 1's) — so nothing remains
    val scores = ManifestTable.historyOf(spark, root)
      .select("old_score").collect().map(_.getLong(0)).toSeq.sorted
    assert(scores == Nil, s"got $scores")
    assert(ManifestTable.read(spark, root, schema).count() == 2L)
  }

  test("vacuum retention window: keepLast versions stay time-travelable") {
    val root = freshRoot("manifest_vacuum_retain")
    val m = mapping
    ManifestTable.merge(
      m.project(raw((1L to 6L).map(i => (i, s"n$i", i.toString)): _*)),
      0L, m, root, schema, numBuckets = 2, streamId = "A")
    ManifestTable.merge(m.project(raw((1L, "v1", "11"))), 1L, m, root,
      schema, streamId = "A")
    ManifestTable.merge(m.project(raw((1L, "v2", "22"))), 2L, m, root,
      schema, streamId = "A")
    ManifestTable.vacuum(spark, root, keepLast = 2)
    // the retained window reads fine — including the older snapshot,
    // whose untouched buckets still point into v0's data dirs
    assert(ManifestTable.readAt(spark, root, schema, 2L)
      .filter($"id" === 1L).head.getString(1) == "v2")
    assert(ManifestTable.readAt(spark, root, schema, 1L)
      .filter($"id" === 1L).head.getString(1) == "v1")
    assert(ManifestTable.readAt(spark, root, schema, 1L).count() == 6L)
    // v0 is outside the window: manifest gone, loud failure
    intercept[IllegalArgumentException] {
      ManifestTable.readAt(spark, root, schema, 0L)
    }
    // only v2's bucket-of-1 rewrite became unreferenced; everything the
    // retained manifests point at survives
    val liveDirs = Seq(1L, 2L).flatMap(v =>
      ManifestTable.readManifest(spark, root, v).entries
        .map(_.relPath.split("/")(1))).toSet
    val onDisk = new java.io.File(s"$root/data").list().toSet
    assert(onDisk == liveDirs, s"disk $onDisk vs live $liveDirs")
  }

  test("OCC: racing DELTA merges both land; loser reconciles the " +
      "winner's delta") {
    val root = freshRoot("manifest_occ_delta")
    val m = mapping
    ManifestTable.merge(
      m.project(raw((1L to 4L).map(i => (i, s"n$i", i.toString)): _*)),
      0L, m, root, schema, numBuckets = 2, streamId = "A")
    // while A's delta merge sits between write and commit, B's delta
    // merge (same key!) commits first — A must lose the rename, recompute
    // against the state INCLUDING B's delta, and re-land
    var fired = false
    ManifestTable.testBeforeCommit = () => {
      if (!fired) {
        fired = true
        ManifestTable.merge(m.project(raw((2L, "fromB", "222"))), 0L, m,
          root, schema, streamId = "B", delta = true)
      }
    }
    try ManifestTable.merge(m.project(raw((2L, "fromA", "111"),
        (5L, "new", "5"))), 1L, m, root, schema, streamId = "A",
      delta = true)
    finally ManifestTable.testBeforeCommit = () => ()
    val rows = ManifestTable.read(spark, root, schema).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    // A retried AFTER B: A's value for key 2 wins; B's commit is a real
    // version in history
    assert(rows.size == 5 && rows(2L) == (("fromA", 111L)) &&
      rows(5L) == (("new", 5L)), s"bad state: $rows")
    assert(ManifestTable.currentVersion(spark, root).contains(2L))
    // time travel shows B's intermediate state
    val atV1 = ManifestTable.readAt(spark, root, schema, 1L).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(atV1(2L) == "fromB")
  }

  test("OCC: delete racing a merge retries over the merged state") {
    val root = freshRoot("manifest_occ_delete")
    val m = mapping
    ManifestTable.merge(
      m.project(raw((1L to 4L).map(i => (i, s"n$i", i.toString)): _*)),
      0L, m, root, schema, streamId = "A")
    var fired = false
    ManifestTable.testBeforeCommit = () => {
      if (!fired) {
        fired = true
        ManifestTable.merge(m.project(raw((5L, "late", "5"))), 1L, m, root,
          schema, streamId = "A")
      }
    }
    try ManifestTable.delete(spark, root, schema, "id", Seq(2L), 9L)
    finally ManifestTable.testBeforeCommit = () => ()
    val ids = ManifestTable.read(spark, root, schema)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 3L, 4L, 5L),
      s"delete must apply over the merged state, got $ids")
    assert(ManifestTable.currentVersion(spark, root).contains(2L))
  }

  test("range layout: contiguous buckets, pruned range + point lookups, " +
      "and bounds carried through merge, delta, delete and compact") {
    val root = freshRoot("mt_range")
    val rSchema = StructType(Seq(
      StructField("k", StringType), StructField("v", LongType)))
    val rm = { val m = new Mapping("k")
      m.auto("k"); m.auto("v"); m.complete(rSchema); m }
    def rows(ks: String*): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(
        ks.map(k => Row(k, k.head.toLong)): _*), rSchema)
    // keys a..t, boundaries f/l/q -> buckets [a,f) [f,l) [l,q) [q,..]
    ManifestTable.create(rows(('a' to 't').map(_.toString): _*), "k",
      root, numBuckets = 4, rangeBounds = Seq("f", "l", "q"))
    val man = ManifestTable.currentManifest(spark, root).get
    assert(man.rangeBounds == Seq("f", "l", "q"),
      "bounds must round-trip through the manifest")
    // each bucket holds a CONTIGUOUS slice: per-file stats never overlap
    // across buckets
    val byBucket = man.entries.sortBy(_.bucket)
    assert(byBucket.map(_.bucket) == Seq(0, 1, 2, 3))
    byBucket.sliding(2).foreach { case Seq(lo, hi) =>
      assert(lo.maxKey < hi.minKey,
        s"buckets must slice the key space: $lo vs $hi") }
    // validation: unsorted or mis-sized bounds, non-string key
    intercept[IllegalArgumentException] {
      ManifestTable.create(rows("a"), "k", freshRoot("mt_range_bad1"),
        numBuckets = 4, rangeBounds = Seq("q", "f"))
    }
    intercept[IllegalArgumentException] {
      Seq((1L, 2L)).toDF("k", "v").transform(df =>
        { ManifestTable.create(df, "k", freshRoot("mt_range_bad2"),
            numBuckets = 2, rangeBounds = Seq("5")); df })
    }
    // range lookup [g, m]: rows g..m, reading ONLY buckets 1 and 2
    val all = ManifestTable.read(spark, root, rSchema)
    val got = ManifestTable.lookupRange(spark, root, rSchema, "k",
      "g", "m")
    assert(got.collect().map(_.getString(0)).sorted.toSeq ==
      ('g' to 'm').map(_.toString))
    assert(got.inputFiles.toSet.subsetOf(all.inputFiles.toSet) &&
      got.inputFiles.length == 2,
      s"[g,m] spans exactly buckets [f,l) and [l,q): " +
        s"${got.inputFiles.length} files read of ${all.inputFiles.length}")
    // point lookup routes through range bucketing too
    assert(ManifestTable.lookup(spark, root, rSchema, "k", Seq("h"))
      .collect().map(_.getString(0)).toSeq == Seq("h"))
    // merge keeps the layout: new key "ga" lands in bucket 1 only
    val before = ManifestTable.currentManifest(spark, root).get.entries
      .map(e => e.bucket -> e.relPath).toMap
    ManifestTable.merge(rows("ga"), 0L, rm, root, rSchema, streamId = "S")
    val after = ManifestTable.currentManifest(spark, root).get
    assert(after.rangeBounds == Seq("f", "l", "q"),
      "merge must carry bounds forward")
    val changed = after.entries.filter(e =>
      before.get(e.bucket) != Some(e.relPath)).map(_.bucket)
    assert(changed == Seq(1), s"ga touches bucket 1 only: $changed")
    // delta merge + compact keep layout and reconcile under range probes
    ManifestTable.merge(rows("gb"), 1L, rm, root, rSchema,
      streamId = "S", delta = true)
    assert(ManifestTable.lookupRange(spark, root, rSchema, "k", "g", "h")
      .collect().map(_.getString(0)).sorted.toSeq ==
      Seq("g", "ga", "gb", "h"))
    ManifestTable.compact(spark, root, rSchema, "k", token = 7L)
    val compacted = ManifestTable.currentManifest(spark, root).get
    assert(compacted.rangeBounds == Seq("f", "l", "q") &&
      compacted.entries.groupBy(_.bucket).values.forall(_.size == 1))
    // delete rewrites only the key's range bucket and keeps bounds
    ManifestTable.delete(spark, root, rSchema, "k", Seq("ga"), token = 9L)
    val postDel = ManifestTable.currentManifest(spark, root).get
    assert(postDel.rangeBounds == Seq("f", "l", "q"))
    assert(ManifestTable.lookupRange(spark, root, rSchema, "k", "g", "h")
      .collect().map(_.getString(0)).sorted.toSeq == Seq("g", "gb", "h"))
    // a NON-string key skips stat pruning but still answers ranges
    val root2 = freshRoot("mt_range_numeric")
    val m2 = mapping
    ManifestTable.merge(raw((1L, "a", "1"), (5L, "b", "2"),
      (9L, "c", "3")).transform(m2.project), 0L, m2, root2, schema,
      numBuckets = 4, streamId = "S")
    assert(ManifestTable.lookupRange(spark, root2, schema, "id", 2L, 9L)
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(5L, 9L))
  }

  test("deleteChunked: single chunk keeps the plain token, multi-chunk " +
      "finishes on the base-version token, and replays are no-ops") {
    val root = freshRoot("manifest_chunked_del")
    val m = mapping
    ManifestTable.merge(
      raw((1L to 25L).map(i => (i, s"n$i", i.toString)): _*)
        .transform(m.project),
      0L, m, root, schema, numBuckets = 4, streamId = "S")
    val stream = "test#delete"
    def keysDf(ks: Seq[Long]) = ks.toDF("id")
    // single-chunk path (3 keys, cap 5): one delete, token = baseVersion
    graft.store.DerivedTable.deleteChunked(spark, root, schema, "id",
      keysDf(Seq(1L, 2L, 3L)), baseVersion = 7L, tokenStream = stream,
      maxDriverKeys = 5)
    assert(ManifestTable.read(spark, root, schema).count() == 22L)
    assert(ManifestTable.currentManifest(spark, root).get
      .lastBatches.get(stream).contains(7L))
    // multi-chunk path (12 keys, cap 5 → 3 chunks): all keys erased and
    // the FINAL recorded token is the base version itself — a completed
    // chunked delete must not read as in-flight (token > marker)
    graft.store.DerivedTable.deleteChunked(spark, root, schema, "id",
      keysDf((4L to 15L)), baseVersion = 8L, tokenStream = stream,
      maxDriverKeys = 5)
    assert(ManifestTable.read(spark, root, schema)
      .select("id").as[Long].collect().sorted.toSeq == (16L to 25L))
    assert(ManifestTable.currentManifest(spark, root).get
      .lastBatches.get(stream).contains(8L),
      "final chunk must commit under the base version")
    // replay of the whole chunked delete: contents unchanged, and the
    // final chunk (token already in the ledger) no-ops
    val vBefore = ManifestTable.currentVersion(spark, root).get
    graft.store.DerivedTable.deleteChunked(spark, root, schema, "id",
      keysDf((4L to 15L)), baseVersion = 8L, tokenStream = stream,
      maxDriverKeys = 5)
    assert(ManifestTable.read(spark, root, schema)
      .select("id").as[Long].collect().sorted.toSeq == (16L to 25L))
    assert(ManifestTable.currentManifest(spark, root).get
      .lastBatches.get(stream).contains(8L))
    // mid chunks may rewrite (distinct tokens), but the ledger ends on
    // the same completed token and no rows changed
    assert(ManifestTable.currentVersion(spark, root).get >= vBefore)
    // empty frame: nothing happens at all
    val v2 = ManifestTable.currentVersion(spark, root).get
    graft.store.DerivedTable.deleteChunked(spark, root, schema, "id",
      keysDf(Nil), baseVersion = 9L, tokenStream = stream,
      maxDriverKeys = 5)
    assert(ManifestTable.currentVersion(spark, root).get == v2)
  }

  test("RESTORE rewinds metadata-only; CDC emits the net diff; replay " +
      "no-ops; lineage stays time-travelable") {
    val root = freshRoot("manifest_restore")
    val m = mapping
    ManifestTable.merge(
      m.project(raw((1L to 8L).map(i => (i, s"n$i", i.toString)): _*)),
      0L, m, root, schema, numBuckets = 4)
    ManifestTable.merge(m.project(raw((3L, "RENAMED", "99"))),
      1L, m, root, schema)
    ManifestTable.delete(spark, root, schema, "id", Seq(2L, 5L), token = 1L)
    val v1State = ManifestTable.readAt(spark, root, 1L)
      .orderBy("id").collect().toSeq
    val filesBefore = fileDigests(s"$root/data")

    ManifestTable.restore(spark, root, toVersion = 1L, token = 2L)

    // metadata-only: not one data byte written, entries are v1's verbatim
    assert(fileDigests(s"$root/data") == filesBefore,
      "restore touched data files")
    val head = ManifestTable.currentManifest(spark, root).get
    assert(head.version == 3L)
    assert(head.entries.toSet ==
      ManifestTable.readManifest(spark, root, 1L).entries.toSet)
    assert(ManifestTable.read(spark, root, schema)
      .orderBy("id").collect().toSeq == v1State)
    // lineage above the restore point stays readable (forward restore,
    // not history truncation): v2 still shows the deletion applied
    assert(ManifestTable.readAt(spark, root, 2L)
      .select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 3L, 4L, 6L, 7L, 8L))
    // the restore commit's CDC delta is the NET difference: exactly the
    // two erased rows coming back, nothing for untouched keys
    val diff = ManifestTable.changes(spark, root, 2L, 3L)
      .select("id", "_change_type").collect().toSet
    assert(diff == Set(Row(2L, "insert"), Row(5L, "insert")), s"$diff")
    // replay token no-ops; a fresh token re-restores
    ManifestTable.restore(spark, root, toVersion = 0L, token = 2L)
    assert(ManifestTable.currentVersion(spark, root).get == 3L)
    // restoring past the head is refused loudly
    intercept[IllegalArgumentException] {
      ManifestTable.restore(spark, root, toVersion = 99L, token = 3L)
    }
  }

  test("RESTORE keeps replay state: a pre-restore batch retry still " +
      "no-ops, delete tokens survive via tokenStream") {
    val root = freshRoot("manifest_restore_tokens")
    val m = mapping
    ManifestTable.merge(
      m.project(raw((1L to 4L).map(i => (i, s"n$i", i.toString)): _*)),
      0L, m, root, schema, numBuckets = 2)
    ManifestTable.merge(m.project(raw((2L, "UPD", "42"))),
      1L, m, root, schema)
    ManifestTable.delete(spark, root, schema, "id", Seq(4L), token = 7L)
    // restore to v0 through a NAMED token stream: lastDelete keeps the
    // delete's token so ITS replay detection survives the restore too
    ManifestTable.restore(spark, root, toVersion = 0L, token = 1L,
      tokenStream = Some("__restore"))
    val head = ManifestTable.currentManifest(spark, root).get
    assert(head.lastDelete.contains(7L),
      "tokenStream restore must not clobber the maintenance token")
    assert(head.lastBatches.get("__restore").contains(1L))
    // batch 1 committed BEFORE the restore: an at-least-once retry of it
    // must still be seen as replayed — not re-applied onto the rewound
    // state (Delta's RESTORE + txn-version choice)
    val re = ManifestTable.merge(m.project(raw((2L, "UPD", "42"))),
      1L, m, root, schema)
    assert(re.isEmpty, "pre-restore batch was re-applied after restore")
    assert(ManifestTable.read(spark, root, schema)
      .filter(col("id") === 2L).select("name").as[String].head() == "n2")
    // the delete's token replays as seen as well
    ManifestTable.delete(spark, root, schema, "id", Seq(1L), token = 7L)
    assert(ManifestTable.read(spark, root, schema).count() == 4L)
  }

  test("RESTORE then vacuum: the restored files are live in the head " +
      "manifest and survive keepLast=1") {
    val root = freshRoot("manifest_restore_vacuum")
    val m = mapping
    ManifestTable.merge(
      m.project(raw((1L to 8L).map(i => (i, s"n$i", i.toString)): _*)),
      0L, m, root, schema, numBuckets = 4)
    ManifestTable.delete(spark, root, schema, "id", Seq(3L), token = 1L)
    ManifestTable.restore(spark, root, toVersion = 0L, token = 2L)
    ManifestTable.vacuum(spark, root, keepLast = 1)
    // head (the restore commit) reads green off the ORIGINAL v0 files;
    // the delete's rewrite and the retired manifests are gone
    assert(ManifestTable.read(spark, root, schema)
      .select("id").as[Long].collect().sorted.toSeq == (1L to 8L))
    intercept[Exception] { ManifestTable.readAt(spark, root, 1L) }
  }

  test("RESTORE rewinds add-only schema evolution with the entries") {
    val root = freshRoot("manifest_restore_schema")
    val m = mapping
    ManifestTable.merge(m.project(raw((1L, "a", "1"))), 0L, m, root, schema)
    val wider = StructType(schema.fields :+
      StructField("extra", StringType))
    val widerMapping = {
      val mm = new Mapping()
      mm.auto("id"); mm.auto("name"); mm.auto("score"); mm.auto("extra")
      mm.complete(wider)
      mm
    }
    ManifestTable.merge(
      Seq((Seq("2", "b", "2", "x"), 0L)).toDF("_raw", "_line")
        .transform(widerMapping.project),
      1L, widerMapping, root, wider, evolveSchema = true)
    assert(ManifestTable.recordedSchema(spark, root).get.fieldNames
      .contains("extra"))
    ManifestTable.restore(spark, root, toVersion = 0L, token = 1L)
    // the recorded schema IS v0's again — the restored files never had
    // the evolved column, so readers must not be promised it
    assert(ManifestTable.recordedSchema(spark, root).get.fieldNames.toSeq ==
      schema.fieldNames.toSeq)
    assert(ManifestTable.read(spark, root, schema)
      .orderBy("id").collect().toSeq == Seq(Row(1L, "a", 1L)))
  }

  test("tombstone deletes: key-sized writes, exact reads, compact folds, " +
      "vacuum GCs, feed shows the deletes") {
    val root = freshRoot("manifest_tomb")
    val m = mapping
    ManifestTable.merge(
      m.project(raw((1L to 16L).map(i => (i, s"n$i", i.toString)): _*)),
      0L, m, root, schema, numBuckets = 4)
    val m0 = ManifestTable.currentManifest(spark, root).get

    // WRITE COST: the tombstone commit adds key-only files and removes
    // nothing — every prior data file stays live, byte-identical
    val victims = Seq(3L, 5L, 11L)
    val before = m0.entries
      .map(e => e.relPath -> fileDigests(s"$root/${e.relPath}")).toMap
    val w = ManifestTable.delete(spark, root, schema, "id", victims,
      token = 1L, delta = true)
    assert(w.nonEmpty && w.forall(_.tomb), s"expected tomb entries: $w")
    assert(w.map(_.rows).sum == victims.size,
      s"tombstones must be key-sized, got ${w.map(_.rows).sum} rows")
    val m1 = ManifestTable.currentManifest(spark, root).get
    m0.entries.foreach(e => assert(m1.entries.contains(e),
      s"a tombstone delete must keep every prior file live: $e"))
    before.foreach { case (rel, d) =>
      assert(fileDigests(s"$root/$rel") == d,
        s"data files must stay byte-identical under a tombstone: $rel")
    }

    // READS: read/lookup/countRows all exclude the deleted keys
    def ids() = ManifestTable.read(spark, root, schema)
      .select("id").as[Long].collect().toSet
    assert(ids() == (1L to 16L).toSet -- victims)
    assert(ManifestTable.lookup(spark, root, schema, "id", victims)
      .count() == 0L, "lookup must not resurrect a tombstoned key")
    assert(ManifestTable.lookup(spark, root, schema, "id", Seq(4L))
      .count() == 1L)
    assert(ManifestTable.countRows(spark, root, schema) == 13L)

    // CDC: the tombstone commit diffs to exactly the delete rows
    val feed = ManifestTable.changes(spark, root, schema, "id", 0L, 1L)
      .collect().map(r => (r.getLong(0), r.getString(3))).toSet
    assert(feed == victims.map(v => (v, "delete")).toSet, s"bad feed: $feed")

    // a later merge RE-INSERTS a tombstoned key: higher seq wins
    ManifestTable.merge(m.project(raw((5L, "back", "50"))),
      1L, m, root, schema, streamId = "A", delta = true)
    assert(ids() == (1L to 16L).toSet -- Seq(3L, 11L))

    // an ABSENT-key tombstone is inert and feeds nothing
    val preAbsent = ManifestTable.currentVersion(spark, root).get
    ManifestTable.delete(spark, root, schema, "id", Seq(99L),
      token = 2L, delta = true)
    val vAbsent = ManifestTable.currentVersion(spark, root).get
    assert(ids() == (1L to 16L).toSet -- Seq(3L, 11L))
    assert(ManifestTable.changes(spark, root, schema, "id",
      preAbsent, vAbsent).count() == 0L,
      "an absent-key tombstone must not feed phantom deletes")

    // replay: the same token no-ops
    assert(ManifestTable.delete(spark, root, schema, "id", Seq(4L),
      token = 2L, delta = true).isEmpty)
    assert(ids() == (1L to 16L).toSet -- Seq(3L, 11L))

    // COMPACT folds tombstones away: no tomb entries survive, state
    // unchanged, every bucket single-file
    val preCompact = ManifestTable.currentVersion(spark, root).get
    ManifestTable.compact(spark, root, schema, "id", token = 50L)
    val mc = ManifestTable.currentManifest(spark, root).get
    assert(mc.entries.forall(!_.tomb),
      "compact must fold tombstones away")
    assert(mc.entries.groupBy(_.bucket).values.forall(_.size == 1))
    assert(ids() == (1L to 16L).toSet -- Seq(3L, 11L))
    assert(ManifestTable.changes(spark, root, schema, "id", preCompact,
      mc.version).count() == 0L, "compact must stay row-invisible")

    // VACUUM GCs the folded-away tombstone dirs with the other
    // superseded data
    ManifestTable.vacuum(spark, root)
    val live = mc.entries.map(_.relPath.split("/")(1)).toSet
    val dataDirs = new java.io.File(s"$root/data").list().toSet
    assert(dataDirs == live,
      s"vacuum must GC superseded tombstone dirs: $dataDirs vs $live")
    assert(ids() == (1L to 16L).toSet -- Seq(3L, 11L))
  }

  test("tombstone deletes honor the recorded key comparator") {
    val root = freshRoot("manifest_tomb_cmp")
    val schemaS = StructType(Seq(
      StructField("id", StringType), StructField("v", LongType)))
    val mm = new Mapping() {
      override def keyComparator = c => lower(trim(c))
    }
    mm.auto("id"); mm.auto("v")
    mm.complete(schemaS)
    def rawS(rows: (String, String)*): DataFrame =
      rows.zipWithIndex.map { case ((id, v), i) =>
        (Seq(id, v), i.toLong) }.toDF("_raw", "_line")
    ManifestTable.merge(mm.project(rawS(
      ("  Alpha ", "1"), ("beta", "2"), ("Gamma", "3"))),
      0L, mm, root, schemaS, numBuckets = 4)
    // the raw probe key normalizes onto the stored row's space
    ManifestTable.delete(spark, root, schemaS, "id", Seq("ALPHA  "),
      token = 1L, keyComparator = c => lower(trim(c)), delta = true)
    val left = ManifestTable.read(spark, root, schemaS)
      .select("v").as[Long].collect().toSet
    assert(left == Set(2L, 3L),
      s"normalized tombstone must kill the normalized match: $left")
    // a udfKey layout refuses delta deletes loudly
    val rootU = freshRoot("manifest_tomb_udf")
    val udf = org.apache.spark.sql.functions.udf((s: String) => s.trim)
    val mu = new Mapping() {
      override def keyComparator = c => udf(c)
    }
    mu.auto("id"); mu.auto("v")
    mu.complete(schemaS)
    ManifestTable.merge(mu.project(rawS(("a", "1"))), 0L, mu, rootU,
      schemaS, numBuckets = 2)
    val e = intercept[IllegalArgumentException] {
      ManifestTable.delete(spark, rootU, schemaS, "id", Seq("a"),
        token = 1L, keyComparator = c => udf(c), delta = true)
    }
    assert(e.getMessage.contains("delta"))
  }

  test("a committed manifest reads back equal to the committed value, " +
      "every field set") {
    val root = freshRoot("manifest_roundtrip")
    val m = ManifestTable.Manifest(0L, 3,
      Seq(
        ManifestTable.FileEntry(1, 5L, "a\tb", "z\n", "data/v0-x/f1.parquet",
          seq = 0L, bytes = 77L, named = true, minZ = "1", maxZ = "9",
          nullKeys = false, sorted = true, tomb = true),
        ManifestTable.FileEntry(2, 1L, "k", "k",
          "ext:file:/elsewhere/f2.parquet", seq = 3L)),
      lastBatches = Map("s,1:x" -> 4L, "t" -> 2L), lastDelete = Some(7L),
      sideId = "0123456789ab", keyColumn = "id key",
      keyExpr = "lower(`id key`)", lastCompact = Some(9L),
      rangeBounds = Seq("b,", "m"), schemaJson = schema.json, udfKey = true,
      clusterCol = "zorder(a,b)",
      colMap = Seq("#drop:x" -> "x", "name" -> "n0"),
      format = ManifestTable.WriteFormat, splits = Seq((1, 0), (5, 1)))
    assert(ManifestTable.tryCommitManifest(spark, root, m))
    assert(ManifestTable.readManifest(spark, root, 0L) == m)
  }
}
