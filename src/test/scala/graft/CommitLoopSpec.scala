package graft

import java.io.File
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._

import graft.mapping.{ColOpts, Mapping}
import graft.store.ManifestTable

/** Every manifest writer commits through one optimistic-concurrency
  * loop. These specs force one lost commit per operation that the
  * randomized stress (OccStressSpec) and the commit-front specs do not
  * race: just before the operation publishes, a rival merge of a
  * disjoint key wins the version the operation built on. The operation
  * must retry on the new state — it lands one version later, the
  * rival's row survives unless the operation overwrites or rewinds it
  * by contract, its own effect holds, and the losing attempt leaves no
  * directory behind. */
class CommitLoopSpec extends SparkSpec {
  import spark.implicits._

  GraftExtensions.register(spark)

  private val wh = "target/test-tmp/commit_loop_wh"
  org.apache.commons.io.FileUtils.deleteQuietly(new File(wh))
  spark.conf.set("spark.sql.catalog.occcat", "graft.store.GraftCatalog")
  spark.conf.set("spark.sql.catalog.occcat.warehouse", wh)
  spark.sql("CREATE NAMESPACE IF NOT EXISTS occcat.db")

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType),
    StructField("n", IntegerType)))

  private val RivalKey = 100L
  private val baseIds = (1L to 8L).toSet

  private def mapping: Mapping = {
    val m = new Mapping()
    m.auto("id"); m.auto("name"); m.auto("n")
    m.complete(schema)
    m
  }

  /** Merges `(id, name, n)` rows under the spec's schema. */
  private def upsert(root: String, batch: Long, stream: String,
      rows: (Long, String, Int)*): Unit = {
    val m = mapping
    val raw = rows.zipWithIndex.map { case ((id, name, n), i) =>
      (Seq(id.toString, name, n.toString), i.toLong)
    }.toDF("_raw", "_line")
    ManifestTable.merge(m.project(raw), batch, m, root, schema,
      streamId = stream)
  }

  /** Version 0: keys 1..8 in 4 buckets. */
  private def createBase(root: String): Unit =
    ManifestTable.create(spark.createDataFrame(
      java.util.Arrays.asList(
        (1L to 8L).map(i => Row(i, s"n$i", i.toInt)): _*), schema),
      "id", root, numBuckets = 4)

  private def ids(root: String): Set[Long] =
    ManifestTable.read(spark, root).select("id").collect()
      .map(_.getLong(0)).toSet

  private def manifest(root: String) =
    ManifestTable.currentManifest(spark, root).get

  private def recorded(root: String): StructType =
    ManifestTable.recordedSchema(spark, root).get

  /** One operation under a forced commit loss. `setup` builds the table
    * at `root`; `keepsRival` is false where the operation's contract
    * drops the rival's row (an overwrite, a rewind); `writesData` says
    * the losing attempt wrote files the loop must clean up. */
  private case class Case(
      name: String,
      op: String => Unit,
      effect: String => Unit,
      setup: String => Unit = createBase,
      writesData: Boolean = true,
      keepsRival: Boolean = true)

  private def catalogTable(root: String): String = {
    val t = s"occcat.db.${new File(root).getName}"
    spark.sql(s"""CREATE TABLE $t (id BIGINT, name STRING, n INT)
      USING graft TBLPROPERTIES ('key'='id', 'numBuckets'='4')""")
    spark.sql(s"INSERT INTO $t VALUES " +
      (1 to 8).map(i => s"($i, 'n$i', $i)").mkString(", "))
    t
  }

  private val cases = Seq(
    Case("replace",
      op = root => ManifestTable.replace(
        (1L to 3L).map(i => (i, "R", i.toInt)).toDF("id", "name", "n"),
        "id", root),
      effect = root => {
        val rows = ManifestTable.read(spark, root).collect()
        assert(rows.map(_.getAs[Long]("id")).toSet == Set(1L, 2L, 3L))
        assert(rows.forall(_.getAs[String]("name") == "R"))
      },
      keepsRival = false),
    Case("merge_into",
      setup = root => catalogTable(root),
      op = root => spark.sql(
        s"""MERGE INTO occcat.db.${new File(root).getName} t
          USING (SELECT 2L AS id, 'M' AS name, 20 AS n
                 UNION ALL SELECT 50L, 'ins', 50) s
          ON t.id = s.id
          WHEN MATCHED THEN UPDATE SET *
          WHEN NOT MATCHED THEN INSERT *"""),
      effect = root => {
        val byId = ManifestTable.read(spark, root).collect()
          .map(r => r.getAs[Long]("id") -> r.getAs[String]("name")).toMap
        assert(byId(2L) == "M" && byId(50L) == "ins")
        assert(byId.keySet == baseIds + 50L + RivalKey)
      }),
    Case("rebucket",
      op = root => ManifestTable.rebucket(spark, root, schema, "id", 8,
        token = 5L),
      effect = root => assert(manifest(root).numBuckets == 8)),
    Case("split_buckets",
      // every leaf just over the threshold: one split level each
      op = root => assert(ManifestTable.splitBuckets(spark, root, schema,
        token = 5L, maxBytes = manifest(root).entries.map(_.bytes).min - 1)
        .nonEmpty),
      effect = root => assert(manifest(root).splits.nonEmpty)),
    Case("cluster_by",
      op = root => ManifestTable.clusterBy(spark, root, schema, "id", "n",
        token = 5L),
      effect = root => assert(manifest(root).clusterCol == "n")),
    Case("z_order_by",
      op = root => ManifestTable.zOrderBy(spark, root, schema, "id",
        Seq("n", "name"), token = 5L),
      effect = root =>
        assert(manifest(root).clusterCol == "zorder(n,name)")),
    Case("restore",
      setup = root => { createBase(root); upsert(root, 0L, "s", (9L, "x", 9)) },
      op = root => ManifestTable.restore(spark, root, toVersion = 0L,
        token = 5L),
      effect = root => assert(ids(root) == baseIds),
      writesData = false, keepsRival = false),
    Case("evolve_schema",
      op = root => ManifestTable.evolveSchema(spark, root,
        schema.add("tier", StringType)),
      effect = root => {
        assert(recorded(root).fieldNames.toSeq ==
          Seq("id", "name", "n", "tier"))
        assert(ManifestTable.read(spark, root).filter("tier IS NOT NULL")
          .count() == 0L)
      },
      writesData = false),
    Case("drop_column",
      op = root => ManifestTable.dropColumn(spark, root, "name"),
      effect = root =>
        assert(recorded(root).fieldNames.toSeq == Seq("id", "n")),
      writesData = false),
    Case("widen_column",
      op = root => ManifestTable.widenColumn(spark, root, "n", LongType),
      effect = root => {
        assert(recorded(root)("n").dataType == LongType)
        assert(ManifestTable.read(spark, root).filter(s"id = $RivalKey")
          .select("n").head().getLong(0) == 100L)
      },
      writesData = false),
    Case("rename_column",
      op = root => ManifestTable.renameColumn(spark, root, "name", "label"),
      effect = root => {
        assert(recorded(root).fieldNames.toSeq == Seq("id", "label", "n"))
        assert(ManifestTable.read(spark, root).filter(s"id = $RivalKey")
          .select("label").head().getString(0) == "rival")
      },
      writesData = false))

  cases.foreach { c =>
    test(s"${c.name}: a lost commit retries on the rival's state and " +
        "cleans the losing attempt") {
      val root = s"$wh/db/${c.name}"
      org.apache.commons.io.FileUtils.deleteQuietly(new File(root))
      c.setup(root)
      val parent = ManifestTable.currentVersion(spark, root).get
      val tmpPrefix = s".tmp-m${parent + 1}-"
      var fired = false
      var loser = ""
      var loserWroteData = false
      val prev = ManifestTable.testBeforeCommit
      ManifestTable.testBeforeCommit = () =>
        if (!fired) {
          fired = true
          loser = new File(s"$root/manifest").list()
            .collectFirst { case f if f.startsWith(tmpPrefix) =>
              f.stripPrefix(tmpPrefix) }
            .getOrElse("")
          loserWroteData =
            new File(s"$root/data/v${parent + 1}-$loser").exists()
          upsert(root, 0L, "rival", (RivalKey, "rival", 100))
        }
      try c.op(root)
      finally ManifestTable.testBeforeCommit = prev

      assert(fired && loser.nonEmpty, "the rival must race the first publish")
      assert(ManifestTable.currentVersion(spark, root).contains(parent + 2))
      assert(ManifestTable.readAt(spark, root, parent + 1)
        .filter(s"id = $RivalKey").count() == 1L)
      assert(ids(root).contains(RivalKey) == c.keepsRival)
      c.effect(root)
      assert(manifest(root).sideId != loser)
      assert(loserWroteData == c.writesData)
      Seq("data", "history", "stats").foreach { kind =>
        val left = new File(s"$root/$kind/v${parent + 1}-$loser")
        assert(!left.exists(), s"losing attempt left $left")
      }
    }
  }

  /** Descriptions of the Spark jobs `op` starts. */
  private def jobDescriptions(op: => Unit): Seq[String] = {
    val descs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        descs.add(Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    Bridge.waitListenerBus(spark)
    spark.sparkContext.addSparkListener(l)
    try { op; Bridge.waitListenerBus(spark) }
    finally spark.sparkContext.removeSparkListener(l)
    descs.asScala.toSeq
  }

  test("every job of a committing operation carries a graft. label") {
    val root = s"$wh/db/labels"
    org.apache.commons.io.FileUtils.deleteQuietly(new File(root))
    val t = catalogTable(root)
    val history = {
      val m = new Mapping()
      m.auto("id"); m.auto("name", opts = ColOpts(keepHistory = true))
      m.auto("n")
      m.complete(schema)
      m
    }
    val ops: Seq[(String, () => Unit)] = Seq(
      "mergeInto" -> (() => spark.sql(s"""MERGE INTO $t t
        USING (SELECT 2L AS id, 'M' AS name, 20 AS n) s ON t.id = s.id
        WHEN MATCHED THEN UPDATE SET *""")),
      "deleteWhere" -> (() => ManifestTable.deleteWhere(spark, root, schema,
        df => df("n") > 6, token = 1L)),
      "zOrderBy" -> (() => ManifestTable.zOrderBy(spark, root, schema, "id",
        Seq("n", "name"), token = 2L)),
      "merge" -> (() => ManifestTable.merge(history.project(
        Seq((Seq("1", "renamed", "1"), 0L)).toDF("_raw", "_line")), 0L,
        history, root, schema, streamId = "h")))
    ops.foreach { case (op, run) =>
      val descs = jobDescriptions(run())
      assert(descs.exists(_.startsWith(s"graft.$op $root v")),
        s"$op ran: ${descs.mkString(" | ")}")
      assert(descs.forall(_.startsWith("graft.")),
        s"$op ran unlabeled jobs: ${descs.mkString(" | ")}")
    }
    assert(ManifestTable.historyOf(spark, root).count() > 0L)
  }

  /** Source text with block and line comments removed. */
  private def code(p: Path): String =
    Files.readString(p)
      .replaceAll("(?s)/\\*.*?\\*/", "")
      .replaceAll("//[^\n]*", "")

  /** The member of `object ManifestTable` each match of `pattern` sits
    * in (its members are the defs indented by two spaces). */
  private def enclosingDefs(src: String, pattern: String): Seq[String] = {
    val defs = "(?m)^  (?:private(?:\\[\\w+\\])? )?(?:final )?def (\\w+)".r
      .findAllMatchIn(src).map(m => m.start -> m.group(1)).toSeq
    pattern.r.findAllMatchIn(src).map { m =>
      defs.takeWhile(_._1 < m.start).lastOption.fold("")(_._2)
    }.toSeq
  }

  /** Top-level argument count of the call whose `(` is at `open`. */
  private def argCount(src: String, open: Int): Int = {
    var depth = 1
    var commas = 0
    var i = open + 1
    while (depth > 0) {
      src(i) match {
        case '(' | '[' | '{' => depth += 1
        case ')' | ']' | '}' => depth -= 1
        case ',' if depth == 1 => commas += 1
        case _ => ()
      }
      i += 1
    }
    commas + 1
  }

  test("one commit path: the OCC loop and the bootstrap commits are the " +
      "only manifest publishers, and no commit lists Manifest fields") {
    val mainRoot = Paths.get("src/main/scala")
    val table = mainRoot.resolve("graft/store/ManifestTable.scala")
    val src = code(table)
    val callers = Files.walk(mainRoot).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
      .filter(p => p != table && code(p).contains("tryCommitManifest("))
    assert(callers.isEmpty, s"tryCommitManifest called from $callers")
    assert(enclosingDefs(src, "(?<!def )tryCommitManifest\\(").toSet ==
      Set("commitLoop", "create", "cloneAt"))
    assert(enclosingDefs(src, "while \\(true\\)") == Seq("commitLoop"))
    // a Manifest beyond its three required fields (version, numBuckets,
    // entries) is built only by the reader and the create bootstrap;
    // every other state is a copy of the one it derives from
    val ctor = "(?<!class )(?<![\\w.])Manifest\\("
    val builders = ctor.r.findAllMatchIn(src).toSeq
      .zip(enclosingDefs(src, ctor))
      .collect { case (m, d) if argCount(src, m.end - 1) > 3 => d }
    assert(builders.toSet == Set("readManifest", "create"))
  }
}
