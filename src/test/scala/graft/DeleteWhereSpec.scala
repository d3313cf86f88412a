package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.store.ManifestTable

/** Row-level DELETE by arbitrary predicate ([[ManifestTable.deleteWhere]]
  * + the [[graft.store.GraftDmlStrategy]] SQL face). The driver gate
  * (`manifest_delete_where`) pins values against DuckDB; these specs pin
  * the cost/semantics claims: touched-bucket locality (untouched entries
  * carry verbatim), SQL NULL keep-semantics, token replay, the
  * no-match token-only commit, comparator-table bucket targeting, and
  * that KEY-shaped SQL DELETEs keep the metadata path. */
class DeleteWhereSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("seg", StringType),
    StructField("v", LongType)))

  private def freshRoot(name: String): String = {
    val root = s"target/test-tmp/$name"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    root
  }

  private def mkTable(root: String): DataFrame = {
    val df = (1L to 200L)
      .map(i => (i, if (i % 4 == 0) "HOT" else "COLD", i * 2))
      .toDF("id", "seg", "v")
    ManifestTable.create(df, "id", root, numBuckets = 8)
    df
  }

  test("deletes exactly the TRUE rows in one commit; untouched buckets " +
      "carry verbatim") {
    val root = freshRoot("delw_basic")
    val df = mkTable(root)
    val before = ManifestTable.currentManifest(spark, root).get
    ManifestTable.deleteWhere(spark, root, schema,
      d => d("seg") === "HOT" && d("v") <= 100, token = 1L)
    val after = ManifestTable.currentManifest(spark, root).get
    assert(after.version == before.version + 1)
    val expected = df.filter(!(col("seg") === "HOT" && col("v") <= 100))
      .orderBy("id").collect().toSeq
    assert(ManifestTable.read(spark, root, schema)
      .orderBy("id").collect().toSeq == expected)
    // locality: buckets holding no matching row keep their exact files
    val matchBuckets = df.filter(col("seg") === "HOT" && col("v") <= 100)
      .select(pmod(hash(col("id")), lit(8)).as("b"))
      .distinct().as[Int].collect().toSet
    val beforeByBucket = before.entries.groupBy(_.bucket)
    val afterByBucket = after.entries.groupBy(_.bucket)
    (0 until 8).filterNot(matchBuckets).foreach { b =>
      assert(afterByBucket(b).map(_.relPath) ==
        beforeByBucket(b).map(_.relPath),
        s"untouched bucket $b was rewritten")
    }
    assert(matchBuckets.forall(b => afterByBucket(b).map(_.relPath) !=
      beforeByBucket(b).map(_.relPath)))
  }

  test("SQL NULL semantics: rows where the predicate is NULL are kept") {
    val root = freshRoot("delw_null")
    val df = (1L to 50L)
      .map(i => (i, if (i % 5 == 0) None else Some(i)))
      .toDF("id", "v")
    val s = StructType(Seq(
      StructField("id", LongType), StructField("v", LongType)))
    ManifestTable.create(df, "id", root, numBuckets = 4)
    ManifestTable.deleteWhere(spark, root, s,
      d => d("v") > 25, token = 1L) // NULL for every 5th row
    val got = ManifestTable.read(spark, root, s)
      .select("id").as[Long].collect().toSet
    val want = (1L to 50L).filter(i => i % 5 == 0 || i <= 25).toSet
    assert(got == want, "NULL-predicate rows must survive the delete")
  }

  test("token replays no-op; a no-match delete still commits its token") {
    val root = freshRoot("delw_replay")
    mkTable(root)
    ManifestTable.deleteWhere(spark, root, schema,
      d => d("v") > 1000000, token = 5L) // matches nothing
    val v1 = ManifestTable.currentVersion(spark, root).get
    assert(ManifestTable.currentManifest(spark, root).get
      .lastDelete.contains(5L))
    ManifestTable.deleteWhere(spark, root, schema,
      d => d("seg") === "HOT", token = 5L) // replay: must not apply
    assert(ManifestTable.currentVersion(spark, root).get == v1)
    assert(ManifestTable.read(spark, root, schema).count() == 200L)
  }

  test("column mapping: deleteWhere under a RENAMED column rewrites " +
      "name-compatibly with pre-rename files") {
    val root = freshRoot("delw_rename")
    mkTable(root)
    ManifestTable.renameColumn(spark, root, "v", "val")
    val renamed = StructType(Seq(
      StructField("id", LongType),
      StructField("seg", StringType),
      StructField("val", LongType)))
    ManifestTable.deleteWhere(spark, root, renamed,
      d => d("val") > 300, token = 2L) // ids 151..200 drop
    val got = ManifestTable.read(spark, root, renamed)
    assert(got.count() == 150L)
    // rewritten and pre-rename files reconcile under one logical name
    assert(got.agg(max(col("val"))).head.getLong(0) == 300L)
    assert(ManifestTable.lookup(spark, root, renamed, "id", Seq(10L))
      .head.getLong(2) == 20L)
  }

  test("comparator table: bucket targeting uses the recorded keyExpr") {
    val root = freshRoot("delw_cmp")
    val s = StructType(Seq(
      StructField("k", StringType), StructField("v", LongType)))
    val lowerCmp: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      lower(_)
    ManifestTable.create(
      Seq(("Foo", 1L), ("BAR", 2L), ("baz", 3L), ("Qux", 4L))
        .toDF("k", "v"),
      "k", root, numBuckets = 4, keyComparator = lowerCmp)
    ManifestTable.deleteWhere(spark, root, s, d => d("v") >= 3, token = 1L)
    assert(ManifestTable.read(spark, root, s)
      .select("k").as[String].collect().toSet == Set("Foo", "BAR"))
    // the survivors still answer comparator lookups (layout intact)
    assert(ManifestTable.lookup(spark, root, s, "k", Seq("fOO"),
      keyComparator = lowerCmp).count() == 1)
  }

  test("zone-hinted discovery: on a clustered table the hint narrows " +
      "discovery to sidecar-candidate files, values identical") {
    import graft.store.ZoneSkip
    val rootA = freshRoot("delw_zone_a")
    val rootB = freshRoot("delw_zone_b")
    val df = (1L to 2000L).map(i => (i, "s", i * 3)).toDF("id", "seg", "v")
    for (r <- Seq(rootA, rootB)) {
      ManifestTable.create(df, "id", r, numBuckets = 4)
      ManifestTable.clusterBy(spark, r, schema, "id", "v",
        token = 1L, filesPerBucket = 8)
      ZoneSkip.buildZones(spark, r, schema, Seq("v"))
    }
    // the hinted entry set is a small fraction of a 32-file layout —
    // the discovery-pass I/O claim, file-level
    val keep = ZoneSkip.lookupRanges(spark, rootA, schema,
      Seq(("v", 30L, 300L)))
    assert(keep.inputFiles.length * 3 <
      ManifestTable.read(spark, rootA, schema).inputFiles.length,
      "zones must exclude most files for a narrow range on a " +
        "v-clustered layout")
    // hinted and unhinted deleteWhere agree exactly
    ManifestTable.deleteWhere(spark, rootA, schema,
      d => d("v").between(30L, 300L), token = 2L,
      zoneRanges = Seq(("v", 30L, 300L)))
    ManifestTable.deleteWhere(spark, rootB, schema,
      d => d("v").between(30L, 300L), token = 2L)
    assert(ManifestTable.read(spark, rootA, schema)
      .orderBy("id").collect().toSeq ==
      ManifestTable.read(spark, rootB, schema)
        .orderBy("id").collect().toSeq)
    assert(ManifestTable.read(spark, rootA, schema).count() ==
      2000L - (300L / 3 - 30L / 3 + 1))
  }

  test("graft_delete_where: the path-table SQL face, replay-aware") {
    GraftExtensions.register(spark)
    val root = freshRoot("delw_sqlfn")
    mkTable(root)
    val ddl = "id BIGINT, seg STRING, v BIGINT"
    val r1 = spark.sql("SELECT * FROM graft_delete_where(" +
      s"'$root', '$ddl', 'seg = \\'HOT\\' AND v <= 100', 3)").collect()
    assert(r1.head.getBoolean(1)) // applied
    assert(ManifestTable.read(spark, root, schema).count() == 188L)
    val r2 = spark.sql("SELECT * FROM graft_delete_where(" +
      s"'$root', '$ddl', 'true', 3)").collect() // replayed token: no-op
    assert(!r2.head.getBoolean(1))
    assert(ManifestTable.read(spark, root, schema).count() == 188L)
  }

  test("updateWhere: exactly the TRUE rows rewrite (NULL predicate " +
      "keeps), untouched buckets carry verbatim, token replays no-op, " +
      "key assignment refuses") {
    val root = freshRoot("updw_basic")
    val df = mkTable(root)
    val before = ManifestTable.currentManifest(spark, root).get
    // NULL-predicate rows must KEEP: nullif makes v=8 rows NULL-match
    ManifestTable.updateWhere(spark, root, schema,
      d => Seq("v" -> (d("v") + 1000), "seg" -> lit("UPD")),
      d => nullif(d("v"), lit(8L)) <= 100, token = 1L)
    val expected = df.select(col("id"),
      when(nullif(col("v"), lit(8L)) <= 100, "UPD")
        .otherwise(col("seg")).as("seg"),
      when(nullif(col("v"), lit(8L)) <= 100, col("v") + 1000)
        .otherwise(col("v")).as("v"))
      .orderBy("id").collect().toSeq
    assert(ManifestTable.read(spark, root, schema)
      .orderBy("id").collect().toSeq == expected)
    // v=8 (id=4) kept: its predicate evaluated NULL
    assert(ManifestTable.read(spark, root, schema)
      .filter(col("id") === 4L).head.getLong(2) == 8L)
    // locality: buckets with no matching row keep their exact files
    val after = ManifestTable.currentManifest(spark, root).get
    val matchBuckets = df
      .filter(nullif(col("v"), lit(8L)) <= 100)
      .select(pmod(hash(col("id")), lit(8)).as("b"))
      .distinct().as[Int].collect().toSet
    val beforeByBucket = before.entries.groupBy(_.bucket)
    val afterByBucket = after.entries.groupBy(_.bucket)
    (0 until 8).filterNot(matchBuckets).foreach { b =>
      assert(afterByBucket(b).map(_.relPath) ==
        beforeByBucket(b).map(_.relPath),
        s"untouched bucket $b was rewritten")
    }
    // replayed token: version unchanged
    ManifestTable.updateWhere(spark, root, schema,
      d => Seq("v" -> lit(0L)), d => lit(true), token = 1L)
    assert(ManifestTable.currentManifest(spark, root).get.version ==
      after.version)
    // key assignment is a refusal, not a corruption
    val e = intercept[IllegalArgumentException] {
      ManifestTable.updateWhere(spark, root, schema,
        d => Seq("id" -> (d("id") + 1)), d => lit(true), token = 2L)
    }
    assert(e.getMessage.contains("key column"))
  }

  test("graft_update: the path-table SQL face — paired SET args, " +
      "explicit-token replay, values match the catalog UPDATE path") {
    GraftExtensions.register(spark)
    val root = freshRoot("updw_sqlfn")
    mkTable(root)
    val ddl = "id BIGINT, seg STRING, v BIGINT"
    val r1 = spark.sql("SELECT * FROM graft_update(" +
      s"'$root', '$ddl', 'seg = \\'HOT\\' AND v <= 100', 7, " +
      "'v', 'v + 1000', 'seg', 'lower(seg)')").collect()
    assert(r1.head.getBoolean(1)) // applied
    val got = ManifestTable.read(spark, root, schema)
      .filter(col("id") === 4L).head
    assert(got.getString(1) == "hot" && got.getLong(2) == 1008L)
    // non-matching rows untouched
    assert(ManifestTable.read(spark, root, schema)
      .filter(col("seg") === "COLD").count() == 150L)
    val r2 = spark.sql("SELECT * FROM graft_update(" +
      s"'$root', '$ddl', 'true', 7, 'v', '0')").collect()
    assert(!r2.head.getBoolean(1)) // replayed token: no-op
    // a typo'd SET expression fails loudly BEFORE any commit work
    val v0 = ManifestTable.currentVersion(spark, root)
    intercept[Exception] {
      spark.sql("SELECT * FROM graft_update(" +
        s"'$root', '$ddl', 'true', 8, 'v', 'no_such_col + 1')").collect()
    }
    assert(ManifestTable.currentVersion(spark, root) == v0)
  }

  test("bloom-hinted discovery: equality probes narrow to sidecar-" +
      "candidate files; uncovered columns keep conservatively") {
    import graft.store.BloomSkip
    val root = freshRoot("delw_bloom")
    val df = (1L to 2000L)
      .map(i => (i, s"dom${i % 500}", i)).toDF("id", "seg", "v")
    ManifestTable.create(df, "id", root, numBuckets = 8)
    BloomSkip.buildBlooms(spark, root, schema, Seq("seg"))
    val m = ManifestTable.currentManifest(spark, root).get
    // the kernel's file-level claim: one domain's probe keeps few files
    val keep = BloomSkip.prunedEntriesFor(spark, root, schema, m,
      "seg", Seq("dom7"))._1
    assert(keep.size < m.entries.size,
      s"bloom kept ${keep.size} of ${m.entries.size}")
    // hinted deleteWhere equals the unhinted result exactly
    ManifestTable.deleteWhere(spark, root, schema,
      d => d("seg") === "dom7", token = 1L,
      bloomProbes = Seq(("seg", Seq("dom7"))))
    assert(ManifestTable.read(spark, root, schema).count() == 1996L)
    assert(ManifestTable.read(spark, root, schema)
      .filter(col("seg") === "dom7").count() == 0L)
    // a hint on an un-bloomed column must not drop anything it shouldn't
    ManifestTable.deleteWhere(spark, root, schema,
      d => d("v") === 2L, token = 2L,
      bloomProbes = Seq(("v", Seq(2L))))
    assert(ManifestTable.read(spark, root, schema).count() == 1995L)
  }

  test("index-hinted discovery: a FRESH registered index narrows to " +
      "the named keys' buckets, proves absence, and declines on " +
      "lagging or null-keyed state — values exact throughout") {
    import graft.store.SecondaryIndex
    val root = freshRoot("delw_ix")
    val ixRoot = freshRoot("delw_ix_side")
    ManifestTable.create(
      (1L to 2000L).map(i => (i, s"dom${i % 500}", i))
        .toDF("id", "seg", "v"),
      "id", root, numBuckets = 8)
    val ix = SecondaryIndex.Index(root, schema, "id", ixRoot, "seg", 4)
    SecondaryIndex.create(spark, ix)
    val m0 = ManifestTable.currentManifest(spark, root).get
    // the hint's file-level claim: one domain's 4 keys keep < all 8
    val bks = SecondaryIndex.hintBuckets(spark, root, schema, m0,
      "seg", Seq("dom7"))
    assert(bks.isDefined, "fresh index must serve the hint")
    assert(m0.entries.count(e => bks.get(e.bucket)) < m0.entries.size)
    // hinted delete equals plain semantics
    ManifestTable.deleteWhere(spark, root, schema,
      d => d("seg") === "dom7", token = 1L,
      indexProbes = Seq(("seg", Seq("dom7"))))
    assert(ManifestTable.read(spark, root, schema).count() == 1996L)
    assert(ManifestTable.read(spark, root, schema)
      .filter(col("seg") === "dom7").count() == 0L)
    // absence proof: a fresh index empties discovery — the no-match
    // commit keeps every entry verbatim
    SecondaryIndex.refresh(spark, ix)
    val before = ManifestTable.currentManifest(spark, root).get
      .entries.map(_.relPath).toSet
    ManifestTable.deleteWhere(spark, root, schema,
      d => d("seg") === "no-such-domain", token = 2L,
      indexProbes = Seq(("seg", Seq("no-such-domain"))))
    assert(ManifestTable.currentManifest(spark, root).get
      .entries.map(_.relPath).toSet == before)
    // the token-2 commit bumped the version past the refresh: a hint
    // against the LAGGING index must decline, and the delete stays
    // exact through full discovery
    assert(SecondaryIndex.hintBuckets(spark, root, schema,
      ManifestTable.currentManifest(spark, root).get,
      "seg", Seq("dom8")).isEmpty)
    ManifestTable.deleteWhere(spark, root, schema,
      d => d("seg") === "dom8", token = 3L,
      indexProbes = Seq(("seg", Seq("dom8"))))
    assert(ManifestTable.read(spark, root, schema).count() == 1992L)
    // a NULL-keyed row is invisible to any index: the hint declines
    // and the delete still erases it through full discovery
    val rootN = freshRoot("delw_ix_null")
    val ixRootN = freshRoot("delw_ix_null_side")
    ManifestTable.create(
      ((1L to 100L).map(i => (Option(i), s"dom${i % 10}", i)) :+
        ((Option.empty[Long], "dom3", 0L))).toDF("id", "seg", "v"),
      "id", rootN, numBuckets = 4)
    SecondaryIndex.create(spark,
      SecondaryIndex.Index(rootN, schema, "id", ixRootN, "seg", 4))
    assert(SecondaryIndex.hintBuckets(spark, rootN, schema,
      ManifestTable.currentManifest(spark, rootN).get,
      "seg", Seq("dom3")).isEmpty, "null-keyed files must decline")
    ManifestTable.deleteWhere(spark, rootN, schema,
      d => d("seg") === "dom3", token = 1L,
      indexProbes = Seq(("seg", Seq("dom3"))))
    assert(ManifestTable.read(spark, rootN, schema)
      .filter(col("seg") === "dom3").count() == 0L,
      "the NULL-keyed dom3 row must be deleted too")
    assert(ManifestTable.read(spark, rootN, schema).count() == 90L)
    // an unrecordable (UDF) comparator declines before any registry
    // read — identity bucket targeting would name the WRONG buckets
    val rootU = freshRoot("delw_ix_udf")
    val strSchema = StructType(Seq(
      StructField("k", StringType), StructField("v", StringType)))
    val norm = udf((s: String) => if (s == null) null else s.toLowerCase)
    val mU = new graft.mapping.Mapping("k") {
      override def keyComparator = c => norm(c)
    }
    mU.auto("k", c => c); mU.auto("v")
    mU.complete(strSchema)
    ManifestTable.merge(
      mU.project(graft.sources.Sources.rows(spark,
        Seq(Seq("ABC", "x")), headerLines = -1)),
      0L, mU, rootU, strSchema)
    assert(ManifestTable.currentManifest(spark, rootU).get.udfKey)
    assert(graft.store.SecondaryIndex.hintBuckets(spark, rootU,
      strSchema, ManifestTable.currentManifest(spark, rootU).get,
      "v", Seq("x")).isEmpty, "udfKey layouts must decline the hint")
  }

  test("a failing index probe declines the hint; the delete stays exact") {
    import graft.store.SecondaryIndex
    val root = freshRoot("delw_ix_broken")
    val ixRoot = freshRoot("delw_ix_broken_side")
    ManifestTable.create(
      (1L to 400L).map(i => (i, s"dom${i % 50}", i)).toDF("id", "seg", "v"),
      "id", root, numBuckets = 8)
    SecondaryIndex.create(spark,
      SecondaryIndex.Index(root, schema, "id", ixRoot, "seg", 4))
    val m = ManifestTable.currentManifest(spark, root).get
    assert(SecondaryIndex.hintBuckets(spark, root, schema, m, "seg",
      Seq("dom7")).isDefined, "the intact index serves the hint")
    // the index stays registered and fresh, but its data files are gone
    org.apache.commons.io.FileUtils.listFiles(new java.io.File(ixRoot,
      "data"), Array("parquet"), true).forEach(f => assert(f.delete()))
    assert(SecondaryIndex.hintBuckets(spark, root, schema, m, "seg",
      Seq("dom7")).isEmpty)
    ManifestTable.deleteWhere(spark, root, schema,
      d => d("seg") === "dom7", token = 1L,
      indexProbes = Seq(("seg", Seq("dom7"))))
    assert(ManifestTable.read(spark, root, schema).count() == 392L)
    assert(ManifestTable.read(spark, root, schema)
      .filter(col("seg") === "dom7").count() == 0L)
  }

  test("SQL DELETE derives the zone hint from its own conjuncts") {
    import graft.store.ZoneSkip
    GraftExtensions.register(spark)
    // own catalog NAME: suites share one session and run in parallel,
    // and re-pointing a shared catalog name at a different warehouse
    // races the manager's instance cache — a test owns its name
    spark.conf.set("spark.sql.catalog.graftz", "graft.store.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graftz.warehouse",
      "target/test-tmp/delw_zwh")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftz.z")
    spark.sql("DROP TABLE IF EXISTS graftz.z.t")
    spark.sql("""CREATE TABLE graftz.z.t (id BIGINT, seg STRING, v BIGINT)
      USING graft TBLPROPERTIES ('key'='id', 'numBuckets'='4')""")
    (1L to 2000L).map(i => (i, "s", i * 3)).toDF("id", "seg", "v")
      .createOrReplaceTempView("delw_zsrc")
    spark.sql("INSERT INTO graftz.z.t SELECT * FROM delw_zsrc")
    val root = "target/test-tmp/delw_zwh/z/t"
    ManifestTable.clusterBy(spark, root, schema, "id", "v",
      token = 100L, filesPerBucket = 8)
    ZoneSkip.buildZones(spark, root, schema, Seq("v"))
    spark.sql("DELETE FROM graftz.z.t WHERE v >= 30 AND v <= 300 " +
      "AND seg = 's'")
    assert(spark.table("graftz.z.t").count() == 2000L - 91L)
  }

  test("SQL DELETE with a non-key predicate runs the row-level rewrite; " +
      "key-shaped DELETEs keep the metadata path") {
    GraftExtensions.register(spark)
    spark.conf.set("spark.sql.catalog.graftd", "graft.store.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graftd.warehouse",
      "target/test-tmp/delw_wh")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftd.d")
    spark.sql("DROP TABLE IF EXISTS graftd.d.t")
    spark.sql("""CREATE TABLE graftd.d.t (id BIGINT, seg STRING, v BIGINT)
      USING graft TBLPROPERTIES ('key'='id', 'numBuckets'='8')""")
    (1L to 200L).map(i => (i, if (i % 4 == 0) "HOT" else "COLD", i * 2))
      .toDF("id", "seg", "v").createOrReplaceTempView("delw_src")
    spark.sql("INSERT INTO graftd.d.t SELECT * FROM delw_src")
    val root = "target/test-tmp/delw_wh/d/t"
    // non-key predicate: lands on deleteWhere (graft-sql-delete stream)
    spark.sql("DELETE FROM graftd.d.t WHERE seg = 'HOT' AND v <= 100")
    assert(ManifestTable.currentManifest(spark, root).get
      .lastBatches.contains("graft-sql-delete-where"))
    assert(spark.table("graftd.d.t").count() == 188) // 12 HOT rows with v <= 100
    // key predicate: metadata path — the keyed-delete stream moves,
    // the rewrite stream must not
    val streamTok = ManifestTable.currentManifest(spark, root).get
      .lastBatches("graft-sql-delete-where")
    spark.sql("DELETE FROM graftd.d.t WHERE id IN (1, 2)")
    val m = ManifestTable.currentManifest(spark, root).get
    assert(m.lastBatches("graft-sql-delete-where") == streamTok,
      "a key DELETE must keep the SupportsDelete metadata path")
    assert(m.lastBatches.contains("graft-sql-delete"))
    assert(spark.table("graftd.d.t").count() == 186)
    // unconditional DELETE stays the metadata-only truncate
    spark.sql("DELETE FROM graftd.d.t")
    assert(spark.table("graftd.d.t").count() == 0)
  }

  // ---- TOMBSTONE mode (r14): write cost ∝ matched rows ---------------

  private def digest(path: String): Seq[(String, Long)] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else Seq(f)
    walk(new java.io.File(path)).map(f => (f.getName, f.length()))
      .sortBy(_._1)
  }

  test("tombstone mode: key-sized writes, prior files byte-identical, " +
      "reads/CDC/compact exact, state equals rewrite mode") {
    val rootT = freshRoot("delw_tomb")
    val rootR = freshRoot("delw_tomb_ref")
    val df = mkTable(rootT); mkTable(rootR)
    val pred: DataFrame => org.apache.spark.sql.Column =
      d => d("seg") === "HOT" && d("v") <= 100
    val matched = df.filter(col("seg") === "HOT" && col("v") <= 100)
      .select("id").as[Long].collect().toSet
    assert(matched.nonEmpty)
    val m0 = ManifestTable.currentManifest(spark, rootT).get
    val before = m0.entries
      .map(e => e.relPath -> digest(s"$rootT/${e.relPath}")).toMap

    // WRITE COST: the commit ADDS key-only tombstones and removes
    // nothing — every candidate data file stays live, byte-identical
    // (the rewrite mode rewrites every touched bucket in full)
    val w = ManifestTable.deleteWhere(spark, rootT, schema, pred,
      token = 1L, delta = true)
    assert(w.nonEmpty && w.forall(_.tomb), s"expected tomb entries: $w")
    assert(w.map(_.rows).sum == matched.size,
      s"tombstones must be key-sized: ${w.map(_.rows).sum} rows " +
        s"for ${matched.size} matches")
    val m1 = ManifestTable.currentManifest(spark, rootT).get
    m0.entries.foreach(e => assert(m1.entries.contains(e),
      s"tombstone deleteWhere must keep every prior file live: $e"))
    before.foreach { case (rel, d) =>
      assert(digest(s"$rootT/$rel") == d,
        s"data files must stay byte-identical under a tombstone: $rel")
    }
    // written BYTES are key-scale, not bucket-scale: the tombstone
    // commit writes less than the touched buckets' data footprint
    val touched = w.map(_.bucket).toSet
    val touchedBytes = m0.entries.filter(e => touched(e.bucket))
      .map(_.bytes).sum
    assert(w.map(_.bytes).sum < touchedBytes,
      s"tombstone bytes ${w.map(_.bytes).sum} should undercut the " +
        s"touched buckets' ${touchedBytes}B the rewrite would re-emit")

    // READS + CDC: exact, and the two modes CONVERGE on the same state
    val gotT = ManifestTable.read(spark, rootT, schema)
      .orderBy("id").collect().toSeq
    assert(gotT.map(_.getLong(0)).toSet ==
      (1L to 200L).toSet -- matched)
    ManifestTable.deleteWhere(spark, rootR, schema, pred, token = 1L)
    assert(gotT == ManifestTable.read(spark, rootR, schema)
      .orderBy("id").collect().toSeq,
      "delta and rewrite deleteWhere must produce identical states")
    val feed = ManifestTable.changes(spark, rootT, schema, "id",
      m0.version, m1.version)
      .select(col("id"), col("_change_type")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(feed == matched.map(v => (v, "delete")),
      s"tombstone deleteWhere must feed exactly the deletes: $feed")

    // NULL keep-semantics survive the mode switch: NULL-predicate rows
    // are NOT matched keys, so no tombstone ever names them
    val w2 = ManifestTable.deleteWhere(spark, rootT, schema,
      d => when(d("seg") === "COLD", lit(null)).otherwise(d("v") > 150),
      token = 2L, delta = true)
    val survivors = ManifestTable.read(spark, rootT, schema)
      .select("id").as[Long].collect().toSet
    val want = ((1L to 200L).toSet -- matched)
      .filterNot(i => i % 4 == 0 && i * 2 > 150)
    assert(survivors == want, "NULL-predicate rows must survive")
    assert(w2.map(_.rows).sum == ((1L to 200L).toSet -- matched)
      .count(i => i % 4 == 0 && i * 2 > 150))

    // replay no-ops; compact folds the tombstones away
    assert(ManifestTable.deleteWhere(spark, rootT, schema, pred,
      token = 2L, delta = true).isEmpty)
    ManifestTable.compact(spark, rootT, schema, "id", token = 50L)
    val mc = ManifestTable.currentManifest(spark, rootT).get
    assert(mc.entries.forall(!_.tomb), "compact must fold tombstones")
    assert(ManifestTable.read(spark, rootT, schema)
      .select("id").as[Long].collect().toSet == want)
  }

  test("SQL DELETE opts into tombstone mode via " +
      "spark.graft.deleteWhere.delta") {
    GraftExtensions.register(spark)
    spark.conf.set("spark.sql.catalog.graftdd", "graft.store.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graftdd.warehouse",
      "target/test-tmp/delwd_wh")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftdd.d")
    spark.sql("DROP TABLE IF EXISTS graftdd.d.t")
    spark.sql("""CREATE TABLE graftdd.d.t (id BIGINT, seg STRING, v BIGINT)
      USING graft TBLPROPERTIES ('key'='id', 'numBuckets'='8')""")
    (1L to 200L).map(i => (i, if (i % 4 == 0) "HOT" else "COLD", i * 2))
      .toDF("id", "seg", "v").createOrReplaceTempView("delwd_src")
    spark.sql("INSERT INTO graftdd.d.t SELECT * FROM delwd_src")
    val root = "target/test-tmp/delwd_wh/d/t"
    spark.conf.set("spark.graft.deleteWhere.delta", "true")
    try {
      val before = ManifestTable.currentManifest(spark, root).get
      spark.sql("DELETE FROM graftdd.d.t WHERE seg = 'HOT' AND v <= 100")
      val after = ManifestTable.currentManifest(spark, root).get
      val tombs = after.entries.filterNot(before.entries.contains)
      assert(tombs.nonEmpty && tombs.forall(_.tomb),
        s"conf'd SQL DELETE must write tombstones: $tombs")
      before.entries.foreach(e => assert(after.entries.contains(e)))
      assert(spark.table("graftdd.d.t").count() == 188)
    } finally spark.conf.unset("spark.graft.deleteWhere.delta")
    // conf off: back to the rewrite class
    val b2 = ManifestTable.currentManifest(spark, root).get
    spark.sql("DELETE FROM graftdd.d.t WHERE seg = 'COLD' AND v <= 20")
    val a2 = ManifestTable.currentManifest(spark, root).get
    assert(a2.entries.filterNot(b2.entries.contains).forall(!_.tomb))
    // COLD ids <= 10 (v = 2*id <= 20, id % 4 != 0): 8 rows
    assert(spark.table("graftdd.d.t").count() == 180)
  }

  test("tombstone mode refuses udfKey layouts loudly") {
    val root = freshRoot("delw_tomb_udf")
    val s = StructType(Seq(
      StructField("id", StringType), StructField("v", LongType)))
    val u = org.apache.spark.sql.functions.udf((x: String) => x.trim)
    val mu = new graft.mapping.Mapping() {
      override def keyComparator = c => u(c)
    }
    mu.auto("id"); mu.auto("v")
    mu.complete(s)
    val raw = Seq((Seq("a", "1"), 0L)).toDF("_raw", "_line")
    ManifestTable.merge(mu.project(raw), 0L, mu, root, s, numBuckets = 2)
    val e = intercept[IllegalArgumentException] {
      ManifestTable.deleteWhere(spark, root, s, d => d("v") > 0,
        token = 1L, keyComparator = c => u(c), delta = true)
    }
    assert(e.getMessage.contains("recordable key comparator"))
  }
}
