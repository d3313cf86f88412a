package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{Parsers => P}
import graft.mapping._
import graft.operators._
import graft.sources.Sources

/** Driver contract — one `queries` entry per operator from SURVEY.md §2,
  * with a DuckDB oracle in `oracleSql` for everything SQL-expressible.
  * Oracles compute the EXPECTED OUTPUT semantically (they never re-simulate
  * Spark mechanics), so agreement is a real two-implementation check.
  */
object SparkEntry {

  /** Directory the fixture-backed queries (manifest tables, derived
    * views and indexes, written sources) build their tables under:
    * cwd-relative by default; `DumpPlans` points it at a fixed
    * absolute directory so the plans it records name the same paths in
    * every checkout. */
  @volatile private[graft] var fixtureDir: String = "target/qtmp"

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** The events fixture's `ts` column has shipped in two physical forms:
    * TIMESTAMP(NANOS) (readable only as INT64 ns via the legacy
    * `nanosAsLong` conf — which this environment's Spark 4.1.2 ignores)
    * and plain TIMESTAMP(MICROS, isAdjustedToUTC=false), which Spark reads
    * as TIMESTAMP_NTZ. Branch on the actual read schema instead of a conf:
    * LongType → integral ns→µs conversion (`div`, ns epochs exceed double
    * precision); TIMESTAMP_NTZ → reinterpret as an instant in the session
    * zone (UTC everywhere in this repo), matching what `timestamp_micros`
    * produced on the long path so downstream queries see one type. */
  private def events(s: SparkSession, dir: String): DataFrame = {
    val raw = t(s, dir, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }

  /** Pick a sample string per row from a literal vector, by key modulo —
    * deterministic and reproducible in DuckDB via list_extract. */
  private def sample(key: Column, vals: Seq[String]): Column =
    try_element_at(
      array(vals.map(lit): _*), (pmod(key, lit(vals.size)) + 1).cast(IntegerType))

  private def sampleSqlList(vals: Seq[String]): String =
    vals.map(v => "'" + v.replace("'", "''") + "'").mkString("[", ", ", "]")

  private def sampleSql(keyExpr: String, vals: Seq[String]): String =
    s"list_extract(${sampleSqlList(vals)}, CAST($keyExpr % ${vals.size} AS BIGINT) + 1)"

  // ------------------------------------------------------------ parse inputs

  private val BoolSamples = Seq("yes", "TRUE", "t", "1", "oui", "VRAI",
    "no", "", "  ", "0", "false", "nope")
  private val IntSamples = Seq("42", " 13 ", "-7", "+5", "42.56",
    "foobar", "", "0012")
  private val FloatSamples = Seq("42", "42.56", "-0.5", ".5", "1e3",
    "foobar", "", " 2.5 ")
  private val AmountEnSamples = Seq("(1,000.0)", "-1,000.0", "1 234.5", "",
    "-", " ", "12,345,678.9", "42")
  private val AmountFrSamples = Seq("1 000,5", "(2,5)", "", "7")
  private val StrSamples = Seq(" foobar ", "", "  ", "abc", "x")
  private val DateSamples = Seq("02/01/2020", "01.24.2020", "2020-01-24",
    "10000-01-01", "", "24/01/2020", "13.13.2020", "03/04/2021")
  // Note: the 10000-01-01 max-datetime sentinel is exercised in
  // ParsersSpec only — year 9999 overflows pandas' ns timestamps in the
  // driver's parquet compare, so it stays out of the oracle sample set.
  private val DateTimeSamples = Seq("02/01/2020 03:04:05",
    "01.24.2020 03:04:05", "2020-01-24 03:04:05", "31.12.1999 23:59:59",
    "", "24/01/2020 13:59:01")
  private val TimeSamples = Seq("01:02:03", "", "23:59:59", "07:08:09")
  private val DumpStrSamples = Seq("x", "", " ", "ok")
  /** formatList inputs and their hand-derived expected outputs (pipe-joined
    * token lists; the semantics mirror tests/formatting_test.py). */
  private val FormatListSamples = Seq(
    "a, b, c",
    "a; b; c",
    "x et y and z",
    "'a, b', c",
    "\"x, y\", z",
    "(1, 2), 3",
    " foo ",
    "")
  private val FormatListExpected = Seq(
    "a|b|c",
    "a|b|c",
    "x|y|z",
    "a, b|c",
    "x, y|z",
    "(1, 2)|3",
    "foo",
    "")

  /** Shared 30-token banner for the exact-substring dedup query. */
  private val SubstringBanner =
    (1 to 30).map(i => s"banner$i").mkString(" ")

  // --------------------------------------------------------- upsert fixtures

  /** Target state derived from `customer`: rows with custkey%3!=0 exist,
    * acctbal drifted +100 when custkey%5==0, segment LEGACY, nation null
    * when custkey%4==0 else 99. */
  private def upsertTarget(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    c.filter(col("c_custkey") % 3 =!= 0).select(
      col("c_custkey").as("id"),
      col("c_name").as("name"),
      (col("c_acctbal") +
        when(col("c_custkey") % 5 === 0, 100.0).otherwise(0.0)).as("acctbal"),
      lit("LEGACY").as("segment"),
      when(col("c_custkey") % 4 === 0, lit(null).cast(LongType))
        .otherwise(lit(99L)).as("nation"))
  }

  /** CSV-shaped source: all customers with custkey%7!=1 as raw strings.
    * blankNames additionally blanks the name for custkey%11==0 (for the
    * non-nullable rejection query). `keyMod` keeps only custkey%keyMod==0
    * — the SMALL-batch shape for the delta-vs-rewrite merge queries. */
  private def upsertSource(
      s: SparkSession, dir: String, blankNames: Boolean = false,
      keyMod: Option[Long] = None): DataFrame = {
    val c = keyMod.foldLeft(
      t(s, dir, "customer").filter(col("c_custkey") % 7 =!= 1))(
      (df, m) => df.filter(col("c_custkey") % m === 0))
    val nameCol =
      if (blankNames)
        when(col("c_custkey") % 11 === 0, lit("")).otherwise(col("c_name"))
      else col("c_name")
    Sources.fromColumns(c,
      Seq(col("c_custkey"), nameCol, col("c_acctbal"), lit("NEW"),
        col("c_nationkey")),
      order = col("c_custkey"))
  }

  /** Fixed-change batch for the scale-validation family
    * (`*_fixed` queries): an ABSOLUTE key range, so the batch is the
    * same ~120 rows at EVERY scale factor (the scaled data's copy 0 is
    * byte-identical to its source). acctbal shifts +7.5 so every row is
    * a real change against both fixture states (base-only and
    * full-merged). */
  private val FixedBatchMax = 140L
  private def upsertSourceFixed(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
      .filter(col("c_custkey") % 7 =!= 1 &&
        col("c_custkey") <= FixedBatchMax)
    Sources.fromColumns(c,
      Seq(col("c_custkey"), col("c_name"), col("c_acctbal") + 7.5,
        lit("NEW"), col("c_nationkey")),
      order = col("c_custkey"))
  }

  /** Bucket count for the scale-validation fixtures: grows with the
    * table so bucket BYTES stay ~constant (the production layout — at
    * 100 TB you size buckets, not bucket COUNT). Fixed-change
    * maintenance then touches a byte volume bounded by the change:
    * ~120 batch keys hash into ≤120 buckets of constant size, so the
    * touched fraction FALLS as the table grows (all 32 at sf0.1, ≈1/3
    * of 320 at sf1, ~0 at 1000×). The proportional-batch fixtures keep
    * their fixed 32 — their batch grows with the table, so constant
    * bucket bytes would only multiply commit file counts. */
  private val bucketCache = scala.collection.mutable.HashMap.empty[String, Int]
  private def scaledBuckets(s: SparkSession, dir: String): Int =
    synchronized {
      bucketCache.getOrElseUpdate(dir, {
        val rows = t(s, dir, "customer").count()
        math.max(32, (32 * math.round(rows / 15000.0)).toInt)
      })
    }

  private def upsertMapping: Mapping = {
    val m = new Mapping()
    m.auto("id")
    m.auto("name")
    m.auto("acctbal", opts = ColOpts(keepHistory = true))
    m.auto("segment", opts = ColOpts(shouldUpdate = false))
    m.auto("nation", opts = ColOpts(shouldUpdateOnlyIfNull = true))
    m
  }

  private val upsertSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("name", StringType),
    StructField("acctbal", DoubleType),
    StructField("segment", StringType),
    StructField("nation", LongType)))

  private def runUpsert(
      s: SparkSession, dir: String, mode: ImportMode = CreateAndUpdate,
      blankNames: Boolean = false,
      nonNullable: Seq[String] = Nil,
      ignoreWhen: Option[Column] = None): UpsertResult = {
    val m = upsertMapping
    val projected = m.complete(upsertSchema)
      .project(upsertSource(s, dir, blankNames))
    Upsert(upsertTarget(s, dir), projected, m, mode, nonNullable,
      ignoreWhen = ignoreWhen)
  }

  /** Fixtures already (re)built in THIS process — keyed by name@sfDir so
    * a query's closure can skip its own fixture bootstrap when
    * [[benchSetups]] (or an earlier call) already built it. Without this,
    * the bench's timed region measures fixture I/O, not the operation. */
  private val fixtureReady = scala.collection.mutable.HashSet.empty[String]

  /** Deletes and rebuilds the named manifest-table fixture: a 32-bucket
    * table bootstrapped from the upsert target (32 so the 10-key targeted
    * delete demonstrates pruning — ≤10/32 buckets rewrite — instead of
    * touching every bucket). `withMerge` additionally applies the upsert
    * source as a committed MERGE (token 0) — the pre-state the delete
    * query operates on. Bench calls this OUTSIDE its timed region before
    * every rep, so each rep measures a real MERGE/DELETE against a fresh
    * table, never a replay and never the fixture's own create(). */
  private def resetManifestFixture(
      s: SparkSession, dir: String, name: String,
      withMerge: Boolean, numBuckets: Int = 32): String = synchronized {
    val root = s"$fixtureDir/$name"
    val p = new org.apache.hadoop.fs.Path(root)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    graft.store.ManifestTable.create(
      upsertTarget(s, dir), "id", root, numBuckets = numBuckets)
    if (withMerge) {
      val m = upsertMapping
      val projected = m.complete(upsertSchema).project(upsertSource(s, dir))
      graft.store.ManifestTable.merge(projected, 0L, m, root, upsertSchema)
    }
    fixtureReady += s"$name@$dir"
    root
  }

  /** The declared-ROW-TTL fixture's schema: the upsert target's shape
    * with a `ts` epoch-millis column the TTL policy judges. */
  private val ttlSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("name", StringType),
    StructField("acctbal", DoubleType),
    StructField("ts", LongType)))

  /** Deletes and rebuilds the manifest_ttl fixture: customers with a
    * planted `ts` — far-past (2000-01-01) on custkey%3==1 rows,
    * far-future (2090-01-01) on the rest — so a 30-day TTL cutoff
    * lands between them for any conceivable run date and the expiry
    * set is closed-form for DuckDB. */
  private def resetTtlFixture(s: SparkSession, dir: String): String =
    synchronized {
      val root = s"$fixtureDir/manifest_ttl"
      val p = new org.apache.hadoop.fs.Path(root)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val c = t(s, dir, "customer")
      graft.store.ManifestTable.create(
        c.select(
          col("c_custkey").as("id"),
          col("c_name").as("name"),
          col("c_acctbal").as("acctbal"),
          when(col("c_custkey") % 3 === 1, lit(946684800000L))
            .otherwise(lit(3786825600000L)).as("ts")),
        "id", root, numBuckets = 8)
      fixtureReady += s"manifest_ttl@$dir"
      root
    }

  private def ttlFixture(s: SparkSession, dir: String): String =
    synchronized {
      if (fixtureReady(s"manifest_ttl@$dir")) s"$fixtureDir/manifest_ttl"
      else resetTtlFixture(s, dir)
    }

  /** Deletes and returns a derived-table root (view/index side tables):
    * ONE definition shared by each query closure and its benchSetups
    * entry, so the reset and the query can never target different
    * paths. */
  private def resetSideRoot(s: SparkSession, name: String): String = {
    val root = s"$fixtureDir/$name"
    val p = new org.apache.hadoop.fs.Path(root)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    root
  }

  /** Derived tables bootstrapped in THIS process — the [[fixtureReady]]
    * discipline for view/index side tables: a query closure must
    * rebuild its side table unless this process already did (a side
    * table surviving from an EARLIER process is stale garbage — its
    * base fixture has been reset under it). */
  private val sideReady = scala.collection.mutable.HashSet.empty[String]

  /** The manifest_mv / manifest_index derived-table definitions —
    * shared by the query closures and their benchSetups bootstraps. */
  private def mvViewDef = graft.store.MaterializedView.View(
    baseRoot = s"$fixtureDir/manifest_mv", baseSchema = upsertSchema,
    baseKey = "id", viewRoot = s"$fixtureDir/manifest_mv_view",
    groupCols = Seq("segment"), sumCols = Seq("acctbal_d"),
    minMaxCols = Seq("acctbal"),
    prep = df => df.withColumn("acctbal_d",
      col("acctbal").cast("decimal(30,2)")),
    numBuckets = 8)

  private def ixDef = graft.store.SecondaryIndex.Index(
    baseRoot = s"$fixtureDir/manifest_index", baseSchema = upsertSchema,
    baseKey = "id", indexRoot = s"$fixtureDir/manifest_index_idx",
    valueCols = Seq("segment"), numBuckets = 4)

  /** The AUTO probe-join leg's index: NAME is near-unique, so a
    * selective dim's values resolve to a small base-key set — the
    * shape the optimizer rule prunes on. */
  private def ixAutoDef = graft.store.SecondaryIndex.Index(
    baseRoot = s"$fixtureDir/manifest_index_probe_auto",
    baseSchema = upsertSchema, baseKey = "id",
    indexRoot = s"$fixtureDir/manifest_index_probe_auto_idx",
    valueCols = Seq("name"), numBuckets = 4)

  /** AutoIndexFilter's fixture index (same shape, own roots). */
  private def ixFilterDef = graft.store.SecondaryIndex.Index(
    baseRoot = s"$fixtureDir/manifest_index_filter_auto",
    baseSchema = upsertSchema, baseKey = "id",
    indexRoot = s"$fixtureDir/manifest_index_filter_auto_idx",
    valueCols = Seq("name"), numBuckets = 4)

  /** HOT-VALUE sharded variant: `segment` has ~2 values over the whole
    * customer table — exactly the skew that would otherwise pack every
    * key into two unbounded array rows. 8 shards per value keep each
    * stored row at ~1/8 of its value's keys and let refresh touch only
    * a changed key's own (value, shard) row. */
  private def ixShardedDef = graft.store.SecondaryIndex.Index(
    baseRoot = s"$fixtureDir/manifest_index_sharded",
    baseSchema = upsertSchema, baseKey = "id",
    indexRoot = s"$fixtureDir/manifest_index_sharded_idx",
    valueCols = Seq("segment"), numBuckets = 4, numShards = 8)

  /** The `*_fixed` scale-validation variants: sum-only view (so the
    * refresh has NO suspect-group recompute path and its cost is purely
    * feed-bounded) and a near-unique value column for the index (name:
    * value lists stay O(copies), so a 10-key delete touches 10 bounded
    * index rows — a low-cardinality index like `segment` has value
    * lists proportional to the TABLE, which is the anti-pattern the
    * fixed variant must not measure). */
  private def mvFixedViewDef = graft.store.MaterializedView.View(
    baseRoot = s"$fixtureDir/manifest_mv_fixed", baseSchema = upsertSchema,
    baseKey = "id", viewRoot = s"$fixtureDir/manifest_mv_fixed_view",
    groupCols = Seq("segment"), sumCols = Seq("acctbal_d"), minMaxCols = Nil,
    prep = df => df.withColumn("acctbal_d",
      col("acctbal").cast("decimal(30,2)")),
    numBuckets = 8)

  private def ixFixedDef = graft.store.SecondaryIndex.Index(
    baseRoot = s"$fixtureDir/manifest_index_fixed", baseSchema = upsertSchema,
    baseKey = "id", indexRoot = s"$fixtureDir/manifest_index_fixed_idx",
    valueCols = Seq("name"), numBuckets = 8)

  /** RANGE-layout index on the near-unique `name` column: bucket
    * boundaries are sampled from the bootstrap value distribution, each
    * index bucket holds a contiguous name slice, and
    * `name BETWEEN lo AND hi` becomes a bucket-PRUNED index scan
    * ([[graft.store.SecondaryIndex.lookupRange]]). The probe interval
    * is ABSOLUTE (~200 names at every SF): a range lookup's cost must
    * be bounded by the hits, never the table — the classic sorted
    * secondary index contract. */
  private def ixRangeDef = graft.store.SecondaryIndex.Index(
    baseRoot = s"$fixtureDir/manifest_index_range", baseSchema = upsertSchema,
    baseKey = "id", indexRoot = s"$fixtureDir/manifest_index_range_idx",
    valueCols = Seq("name"), numBuckets = 8, rangeLayout = true)

  private val RangeProbeLo = "Customer#000000100"
  private val RangeProbeHi = "Customer#000000299"

  /** MULTI-column group view: (segment, nation) rollup, with NULL
    * nations pre-coalesced in prep (the documented path — a manifest
    * table cannot key on NULL, and the composite key must be total).
    * The view table keys on the injective encoded (segment, nation_g)
    * tuple; refresh cost is unchanged — still ∝ feed-touched groups. */
  private def mvMultiViewDef = graft.store.MaterializedView.View(
    baseRoot = s"$fixtureDir/manifest_mv_multi", baseSchema = upsertSchema,
    baseKey = "id", viewRoot = s"$fixtureDir/manifest_mv_multi_view",
    groupCols = Seq("segment", "nation_g"), sumCols = Seq("acctbal_d"),
    minMaxCols = Seq("acctbal"),
    prep = df => df
      .withColumn("nation_g", coalesce(col("nation"), lit(-1L)))
      .withColumn("acctbal_d", col("acctbal").cast("decimal(30,2)")),
    numBuckets = 4)

  /** The manifest fixture's root, building it only if this process hasn't
    * yet (Verify's single pass builds it inside the query; Bench builds it
    * via [[benchSetups]] so the build is never timed). The committed table
    * state after the query's MERGE must equal the one-shot upsert's merged
    * output — so the DuckDB oracle for the manifest format is exactly
    * `upsert_basic`'s SQL, making the table format itself hash-verified
    * end-to-end, not just spec-tested. */
  private def manifestFixture(
      s: SparkSession, dir: String, name: String,
      withMerge: Boolean, numBuckets: Int = 32): String = synchronized {
    if (fixtureReady(s"$name@$dir")) s"$fixtureDir/$name"
    else resetManifestFixture(s, dir, name, withMerge, numBuckets)
  }

  /** Deletes each segment's top-3 acctbal rows from the named manifest
    * table — the manifest_incr_minmax fixture's guaranteed lost
    * extremum. Ids derive deterministically from the committed state
    * (row_number by acctbal DESC, id — ties broken by id, NULLs
    * excluded). The fixture's version sequence is deterministic
    * (create=0, merge=1, this delete=2), so a re-issue after
    * [[benchSetups]] already applied it returns BEFORE the id-derivation
    * scan — the bench's timed region must measure the view maintenance,
    * not a redundant read+window (the delete itself would replay-no-op
    * on its token, but only after paying that scan). */
  private def deleteTopAcctbal(s: SparkSession, root: String): Unit = {
    if (graft.store.ManifestTable.currentVersion(s, root).exists(_ >= 2L))
      return
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("segment").orderBy(desc("acctbal"), col("id"))
    val topIds = graft.store.ManifestTable.read(s, root, upsertSchema)
      .filter(col("acctbal").isNotNull)
      .select(col("id"), row_number().over(w).as("rn"))
      .filter(col("rn") <= 3).select("id")
      .collect().map(_.getLong(0)).toSeq // ≤ 3 × |segments|, bounded
    graft.store.ManifestTable.delete(s, root, upsertSchema, "id",
      topIds, token = 2L)
  }

  /** The jsonl_source fixture (documents re-dumped as JSON-lines), built
    * once per process — rebuilding per call made the bench time the dump,
    * not the source read. */
  private def jsonlFixture(s: SparkSession, dir: String): String =
    synchronized {
      val root = s"$fixtureDir/jsonl_source"
      if (!fixtureReady(s"jsonl_source@$dir")) {
        val p = new org.apache.hadoop.fs.Path(root)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        t(s, dir, "documents")
          .select(col("doc_id"),
            struct(col("lang"), col("source")).as("meta"), col("n_chars"))
          .write.json(root)
        fixtureReady += s"jsonl_source@$dir"
      }
      root
    }

  private def avroFixture(s: SparkSession, dir: String): String =
    synchronized {
      val root = s"$fixtureDir/avro_source"
      if (!fixtureReady(s"avro_source@$dir")) {
        graft.sources.Avro.write(
          t(s, dir, "documents")
            .select(col("doc_id"),
              struct(col("lang"), col("source")).as("meta"),
              col("n_chars")),
          root)
        fixtureReady += s"avro_source@$dir"
      }
      root
    }

  private def orcFixture(s: SparkSession, dir: String): String =
    synchronized {
      val root = s"$fixtureDir/orc_source"
      if (!fixtureReady(s"orc_source@$dir")) {
        val p = new org.apache.hadoop.fs.Path(root)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        t(s, dir, "documents")
          .select(col("doc_id"),
            struct(col("lang"), col("source")).as("meta"), col("n_chars"))
          .write.orc(root)
        fixtureReady += s"orc_source@$dir"
      }
      root
    }

  /** The write-face fixture: bootstrap via `df.write.format("graft")`,
    * then one typed append batch (plain last-wins upsert under the
    * writer's auto mapping — no column policies). Built once per
    * process; the query then times the format read-back. */
  private def writeFormatFixture(s: SparkSession, dir: String): String =
    synchronized {
      val key = s"manifest_write_format@$dir"
      val root = s"$fixtureDir/manifest_write_format"
      if (!fixtureReady(key)) {
        val p = new org.apache.hadoop.fs.Path(root)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        upsertTarget(s, dir).write.format("graft")
          .option("key", "id").option("numBuckets", "32").save(root)
        t(s, dir, "customer")
          .filter(col("c_custkey") % 7 =!= 1)
          .select(col("c_custkey").as("id"), col("c_name").as("name"),
            col("c_acctbal").as("acctbal"), lit("NEW").as("segment"),
            col("c_nationkey").cast(LongType).as("nation"))
          .write.format("graft").mode("append").option("key", "id")
          .save(root)
        fixtureReady += key
      }
      root
    }

  /** Per-customer orders rollup stored as a manifest table CO-BUCKETED
    * with the customer fixtures (same key name, same 32 buckets), for
    * the shuffle-free bucketed-join query. Decimal-summed so the stored
    * total is partitioning-independent. */
  private def ordersSideTable(s: SparkSession, dir: String): String =
    synchronized {
      val key = s"manifest_scan_orders@$dir"
      val root = s"$fixtureDir/manifest_scan_orders"
      if (!fixtureReady(key)) {
        val p = new org.apache.hadoop.fs.Path(root)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        val agg = t(s, dir, "orders")
          .groupBy(col("o_custkey").as("id"))
          .agg(count(lit(1)).as("n_orders"),
            sum(col("o_totalprice").cast("decimal(30,2)")).as("total_d"))
        graft.store.ManifestTable.create(agg, "id", root, numBuckets = 32)
        fixtureReady += key
      }
      root
    }

  /** Per-query fixture hooks Bench invokes OUTSIDE the timed region
    * before each rep, so the rep times the operation (a real incremental
    * MERGE / targeted DELETE against a fresh table), not fixture creation
    * or an idempotent replay. Verify ignores this map — the query
    * closures are self-contained (they build a missing fixture
    * themselves). */
  def benchSetups: Map[String, (SparkSession, String) => Unit] = Map(
    "manifest_merge" -> ((s, dir) =>
      resetManifestFixture(s, dir, "manifest_merge", withMerge = false)),
    "manifest_merge_delta" -> ((s, dir) =>
      resetManifestFixture(s, dir, "manifest_merge_delta",
        withMerge = false)),
    "manifest_evolve" -> ((s, dir) =>
      resetManifestFixture(s, dir, "manifest_evolve", withMerge = false)),
    "manifest_rename" -> ((s, dir) =>
      resetManifestFixture(s, dir, "manifest_rename", withMerge = false)),
    "manifest_incr_agg" -> ((s, dir) =>
      resetManifestFixture(s, dir, "manifest_incr_agg",
        withMerge = true)),
    "manifest_incr_minmax" -> ((s, dir) => {
      val root = resetManifestFixture(s, dir, "manifest_incr_minmax",
        withMerge = true)
      deleteTopAcctbal(s, root)
    }),
    "manifest_count" -> ((s, dir) =>
      resetManifestFixture(s, dir, "manifest_count", withMerge = true)),
    "manifest_delete_where" -> ((s, dir) =>
      resetManifestFixture(s, dir, "manifest_delete_where",
        withMerge = true)),
    "manifest_ttl" -> ((s, dir) => resetTtlFixture(s, dir)),
    "manifest_minmax" -> ((s, dir) => {
      // fixture + zone build OUTSIDE the timed region: the rep times
      // the metadata-only count/min/max answer itself.
      val root = resetManifestFixture(s, dir, "manifest_minmax",
        withMerge = true)
      graft.store.ZoneSkip.buildZones(s, root, upsertSchema,
        Seq("acctbal"))
    }),
    "manifest_probe_join" -> ((s, dir) =>
      resetManifestFixture(s, dir, "manifest_probe_join",
        withMerge = true)),
    "manifest_probe_join_auto" -> ((s, dir) =>
      resetManifestFixture(s, dir, "manifest_probe_join_auto",
        withMerge = true)),
    "manifest_mv" -> ((s, dir) => {
      resetManifestFixture(s, dir, "manifest_mv", withMerge = false)
      resetSideRoot(s, "manifest_mv_view")
      graft.store.MaterializedView.create(s, mvViewDef)
      sideReady += "manifest_mv_view"
    }),
    "manifest_index" -> ((s, dir) => {
      resetManifestFixture(s, dir, "manifest_index", withMerge = true)
      resetSideRoot(s, "manifest_index_idx")
      graft.store.SecondaryIndex.create(s, ixDef)
      sideReady += "manifest_index_idx"
    }),
    "manifest_index_probe_auto" -> ((s, dir) => {
      resetManifestFixture(s, dir, "manifest_index_probe_auto",
        withMerge = true)
      resetSideRoot(s, "manifest_index_probe_auto_idx")
      graft.store.SecondaryIndex.create(s, ixAutoDef)
      sideReady += "manifest_index_probe_auto_idx"
    }),
    "manifest_index_filter_auto" -> ((s, dir) => {
      val root = resetManifestFixture(s, dir, "manifest_index_filter_auto",
        withMerge = true)
      resetSideRoot(s, "manifest_index_filter_auto_idx")
      graft.store.SecondaryIndex.create(s, ixFilterDef)
      graft.store.ManifestTable.autoMaintain(s, root, derived = true)
      sideReady += "manifest_index_filter_auto_idx"
    }),
    "manifest_index_sharded" -> ((s, dir) => {
      resetManifestFixture(s, dir, "manifest_index_sharded",
        withMerge = true)
      resetSideRoot(s, "manifest_index_sharded_idx")
      graft.store.SecondaryIndex.create(s, ixShardedDef)
      sideReady += "manifest_index_sharded_idx"
    }),
    "manifest_bloom" -> ((s, dir) => {
      val root = resetManifestFixture(s, dir, "manifest_bloom",
        withMerge = true)
      graft.store.BloomSkip.buildBlooms(s, root, upsertSchema,
        Seq("name"))
      sideReady += "manifest_bloom_blooms"
    }),
    "manifest_index_range" -> ((s, dir) => {
      // create + merge + index bootstrap + base DELETE + refresh all
      // land here, OUTSIDE the timed region: the query then times ONLY
      // the bucket-pruned range lookup itself.
      val root = resetManifestFixture(s, dir, "manifest_index_range",
        withMerge = true)
      resetSideRoot(s, "manifest_index_range_idx")
      graft.store.SecondaryIndex.create(s, ixRangeDef)
      sideReady += "manifest_index_range_idx"
      graft.store.ManifestTable.delete(s, root, upsertSchema, "id",
        (1 to 10).map(_ * 13L), token = 5L)
      graft.store.SecondaryIndex.refresh(s, ixRangeDef)
    }),
    "manifest_merge_fixed" -> ((s, dir) =>
      resetManifestFixture(s, dir, "manifest_merge_fixed",
        withMerge = false, numBuckets = scaledBuckets(s, dir))),
    "manifest_delta_fixed" -> ((s, dir) =>
      resetManifestFixture(s, dir, "manifest_delta_fixed",
        withMerge = false, numBuckets = scaledBuckets(s, dir))),
    "manifest_mv_fixed" -> ((s, dir) => {
      resetManifestFixture(s, dir, "manifest_mv_fixed", withMerge = true,
        numBuckets = scaledBuckets(s, dir))
      resetSideRoot(s, "manifest_mv_fixed_view")
      graft.store.MaterializedView.create(s, mvFixedViewDef)
      sideReady += "manifest_mv_fixed_view"
    }),
    "manifest_index_fixed" -> ((s, dir) => {
      val root = resetManifestFixture(s, dir, "manifest_index_fixed",
        withMerge = true, numBuckets = scaledBuckets(s, dir))
      resetSideRoot(s, "manifest_index_fixed_idx")
      // index covers the merged state; the fixed 10-key delete is part
      // of the FIXTURE (the refresh is the timed operation) — the query
      // closure re-issues it as a token replay no-op
      graft.store.SecondaryIndex.create(s, ixFixedDef)
      sideReady += "manifest_index_fixed_idx"
      graft.store.ManifestTable.delete(s, root, upsertSchema, "id",
        (1 to 10).map(_ * 13L), token = 1L)
    }),
    "manifest_mv_multi" -> ((s, dir) => {
      resetManifestFixture(s, dir, "manifest_mv_multi", withMerge = false)
      resetSideRoot(s, "manifest_mv_multi_view")
      graft.store.MaterializedView.create(s, mvMultiViewDef)
      sideReady += "manifest_mv_multi_view"
    }),
    "manifest_merge_small" -> ((s, dir) =>
      resetManifestFixture(s, dir, "manifest_merge_small",
        withMerge = false)),
    "manifest_delta_small" -> ((s, dir) =>
      resetManifestFixture(s, dir, "manifest_delta_small",
        withMerge = false)),
    "manifest_delete" -> ((s, dir) =>
      resetManifestFixture(s, dir, "manifest_delete", withMerge = true)),
    "manifest_delete_delta" -> ((s, dir) =>
      resetManifestFixture(s, dir, "manifest_delete_delta",
        withMerge = true)),
    "manifest_auto_compact" -> ((s, dir) => {
      // fixture + the compaction DECLARATION outside the timed region:
      // the rep times one tombstone-delete commit whose hook folds the
      // touched buckets' chains back to single files, + the read.
      val root = resetManifestFixture(s, dir, "manifest_auto_compact",
        withMerge = true)
      graft.store.ManifestTable.autoMaintain(s, root, compactFiles = 2)
      sideReady += "manifest_auto_compact_decl"
    }),
    "manifest_tag" -> ((s, dir) => {
      // fixture + tag + churn (delete, vacuum) outside the timed
      // region: the rep times the tag resolve + the pinned-snapshot
      // read — directly comparable to manifest_read's current-state
      // read cost.
      val root = resetManifestFixture(s, dir, "manifest_tag",
        withMerge = true)
      graft.store.ManifestTable.tag(s, root, "corpus_cut")
      graft.store.ManifestTable.delete(s, root, upsertSchema, "id",
        (1 to 10).map(_ * 13L), token = 1L)
      graft.store.ManifestTable.vacuum(s, root, keepLast = 1)
      sideReady += "manifest_tag_decl"
    }),
    "manifest_constraint" -> ((s, dir) => {
      // fixture + the constraint declaration (which validates the
      // current state) outside the timed region: the rep times the
      // rejected-update probe + the committed read.
      val root = resetManifestFixture(s, dir, "manifest_constraint",
        withMerge = true)
      graft.store.ManifestTable.addConstraint(s, root, "seg_nn",
        "segment IS NOT NULL")
      sideReady += "manifest_constraint_decl"
    }),
    "manifest_merge_branch" -> ((s, dir) => {
      // fixture + clone + the branch's erasure outside the timed
      // region: the rep times the merge-back (first rep real, later
      // reps the ledger replay) + the committed read.
      val root = resetManifestFixture(s, dir, "manifest_merge_branch",
        withMerge = true)
      val br = resetSideRoot(s, "manifest_merge_branch_br")
      graft.store.ManifestTable.cloneAt(s, root, br, pin = false)
      graft.store.ManifestTable.delete(s, br, upsertSchema, "id",
        (1 to 10).map(_ * 13L), token = 1L)
      sideReady += "manifest_merge_branch_br"
    }),
    "manifest_analyze" -> ((s, dir) => {
      // fixture + the per-file stats build outside the timed region:
      // the rep times the covered-check (one sidecar read, zero
      // builds) + the metadata-only table fold.
      val root = resetManifestFixture(s, dir, "manifest_analyze",
        withMerge = true)
      graft.store.ColStats.buildStats(s, root, upsertSchema,
        Seq("segment", "nation"))
    }),
    "manifest_clone" -> ((s, dir) => {
      // fixture + the zero-copy clone outside the timed region: the
      // rep times the keyed delete ON THE CLONE (a bucket rewrite
      // whose base files resolve into the SOURCE tree) + the read —
      // the manifest_delete cost class paid through ext resolution.
      val root = resetManifestFixture(s, dir, "manifest_clone",
        withMerge = true)
      val dst = resetSideRoot(s, "manifest_clone_dst")
      graft.store.ManifestTable.cloneAt(s, root, dst, pin = false)
      sideReady += "manifest_clone_dst"
    }),
    "manifest_bucket_split" -> ((s, dir) =>
      resetManifestFixture(s, dir, "manifest_bucket_split",
        withMerge = true, numBuckets = 4)),
    "manifest_read" -> ((s, dir) => {
      // create + merge + DELETE all land here, OUTSIDE the timed region:
      // the query then times ONLY the committed read-back, splitting
      // manifest_delete's delete-vs-read cost in the artifact itself.
      val root = resetManifestFixture(s, dir, "manifest_read",
        withMerge = true)
      graft.store.ManifestTable.delete(s, root, upsertSchema, "id",
        (1 to 10).map(_ * 13L), token = 1L)
    }),
    "manifest_zone_range" -> ((s, dir) => {
      // fixture + zone build OUTSIDE the timed region: the rep times
      // the covered-check (one sidecar read) + the pruned range read.
      val root = resetManifestFixture(s, dir, "manifest_zone_range",
        withMerge = true)
      graft.store.ZoneSkip.buildZones(s, root, upsertSchema,
        Seq("acctbal"))
    }),
    "manifest_auto_maintain" -> ((s, dir) => {
      // fixture + declaration OUTSIDE the timed region: the rep times
      // a maintained COMMIT (delete + auto zone refresh) + the pruned
      // range read.
      resetManifestFixture(s, dir, "manifest_auto_maintain",
        withMerge = true)
      graft.store.ManifestTable.autoMaintain(s,
        s"$fixtureDir/manifest_auto_maintain", zones = Seq("acctbal"))
      sideReady += "manifest_auto_maintain_decl"
    }),
    "manifest_zone_clustered" -> ((s, dir) => {
      // fixture + clusterBy + zone build OUTSIDE the timed region: the
      // rep times the replayed-token no-op + covered-check + the
      // file-granular pruned range read over the clustered layout —
      // directly comparable to manifest_zone_range's bucket-wide read.
      val root = resetManifestFixture(s, dir, "manifest_zone_clustered",
        withMerge = true)
      graft.store.ManifestTable.clusterBy(s, root, upsertSchema, "id",
        "acctbal", token = 2L, filesPerBucket = 4)
      graft.store.ZoneSkip.buildZones(s, root, upsertSchema,
        Seq("acctbal"))
    }),
    "manifest_recluster" -> ((s, dir) => {
      // fixture + layout bootstrap + zone build OUTSIDE the timed
      // region: the rep times the drift delete + the INCREMENTAL
      // recluster (rewrites only the drifted buckets) + the
      // covered-check zone refresh + the file-granular pruned read.
      val root = resetManifestFixture(s, dir, "manifest_recluster",
        withMerge = true)
      graft.store.ManifestTable.clusterBy(s, root, upsertSchema, "id",
        "acctbal", token = 2L, filesPerBucket = 4)
      graft.store.ZoneSkip.buildZones(s, root, upsertSchema,
        Seq("acctbal"))
      sideReady += "manifest_recluster_layout"
    }),
    "manifest_auto_recluster" -> ((s, dir) => {
      // fixture + layout + the maintenance DECLARATION outside the
      // timed region: the rep times one maintained delete commit
      // (auto recluster + auto zone refresh ride the commit hook) +
      // the pruned read.
      val root = resetManifestFixture(s, dir, "manifest_auto_recluster",
        withMerge = true)
      graft.store.ManifestTable.clusterBy(s, root, upsertSchema, "id",
        "acctbal", token = 2L, filesPerBucket = 4)
      graft.store.ManifestTable.autoMaintain(s, root,
        zones = Seq("acctbal"), reclusterDrift = 1)
      sideReady += "manifest_auto_recluster_decl"
    }),
    "manifest_zorder" -> ((s, dir) => {
      // fixture + zOrderBy + zone build OUTSIDE the timed region: the
      // rep times the replayed-token no-op + covered-check + the
      // two-dimension box-pruned read over the Morton layout.
      val root = resetManifestFixture(s, dir, "manifest_zorder",
        withMerge = true)
      graft.store.ManifestTable.zOrderBy(s, root, upsertSchema, "id",
        Seq("acctbal", "name"), token = 2L, filesPerBucket = 4)
      graft.store.ZoneSkip.buildZones(s, root, upsertSchema,
        Seq("acctbal", "name"))
    }),
    "manifest_restore" -> ((s, dir) => {
      // create + merge + delete OUTSIDE the timed region: the rep times
      // the metadata-only rewind + the committed read. Compared against
      // manifest_read (same final read, no rewind) the bench artifact
      // shows restore's own cost ≈ one manifest write.
      val root = resetManifestFixture(s, dir, "manifest_restore",
        withMerge = true)
      graft.store.ManifestTable.delete(s, root, upsertSchema, "id",
        (1 to 10).map(_ * 13L), token = 1L)
    }),
    "jsonl_source" -> ((s, dir) => jsonlFixture(s, dir)),
    // the ORC/Avro dumps happen OUTSIDE the timed region too — without
    // this the first rep times the fixture write, not the read
    "orc_source" -> ((s, dir) => orcFixture(s, dir)),
    "avro_source" -> ((s, dir) => avroFixture(s, dir)))

  /** Planted-neighbor recovery harness for the approximate ANN paths: the
    * corpus gains a positively-scaled copy of every query vector (cosine
    * 1.0, same LSH bucket / IVF cell by construction), so each query MUST
    * report its plant at rank 1 — which the oracle can state exactly
    * without simulating the index. */
  private def annPlantedRecovery(
      s: SparkSession, dir: String,
      ann: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val e = t(s, dir, "embeddings").select("vec_id", "embedding")
    val queries = e.filter(col("vec_id") % 100 === 0)
    val plants = queries.select(
      (col("vec_id") + 10000000L).as("vec_id"),
      transform(col("embedding"), x => x * lit(1.1f)).as("embedding"))
    ann(e.union(plants), queries)
      .filter(col("vec_id") === col("query_id") + 10000000L)
      .select(col("query_id"), col("rank"))
  }

  /** Flagship: the reference's whole purpose end-to-end on sf0.001 — raw
    * CSV-shaped strings → typed mapping (parser inference) → key-matched
    * upsert with per-column policies → merged state. */
  def entry(spark: SparkSession): DataFrame =
    runUpsert(spark, "/root/testdata/sf0.001").merged

  // ----------------------------------------------------------------- queries

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- parser / formatter library ---
    "parse_bools" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val raw = sample(col("c_custkey"), BoolSamples)
      c.select(col("c_custkey"), raw.as("raw"),
        P.str2bool(raw).as("b"), P.str2boolnullable(raw).as("bn"))
    }),
    "parse_ints" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val raw = sample(col("c_custkey"), IntSamples)
      c.select(col("c_custkey"), raw.as("raw"),
        P.str2intnullable(raw).as("i"))
    }),
    "parse_floats" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val raw = sample(col("c_custkey"), FloatSamples)
      c.select(col("c_custkey"), raw.as("raw"),
        P.str2floatnullable(raw).as("f"))
    }),
    "parse_amounts" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val rawEn = sample(col("c_custkey"), AmountEnSamples)
      val rawFr = sample(col("c_custkey"), AmountFrSamples)
      c.select(col("c_custkey"), rawEn.as("raw_en"), rawFr.as("raw_fr"),
        P.formatMontant(rawEn).as("montant_en"),
        P.formatMontant(rawFr, "fr_FR").as("montant_fr"),
        P.str2intamount(rawEn).as("amount_int"),
        P.str2floatamount(rawEn).as("amount_float"),
        P.str2floatamount(rawFr, "fr_FR").as("amount_float_fr"))
    }),
    "parse_strings" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val raw = sample(col("c_custkey"), StrSamples)
      c.select(col("c_custkey"), raw.as("raw"),
        P.str2strnullable(raw).as("s"),
        P.str2strnullable(raw, Some(2)).as("s2"))
    }),
    "parse_dates" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val raw = sample(col("c_custkey"), DateSamples)
      // dates exported as ISO strings: parquet DATE → pandas object vs
      // DuckDB DATE → datetime64 would make strict dtype compares flaky
      c.select(col("c_custkey"), raw.as("raw"),
        date_format(P.parseShittyDateAsDate(raw), "yyyy-MM-dd").as("d_fr"),
        date_format(P.parseShittyDateAsDate(raw, "en_US"), "yyyy-MM-dd")
          .as("d_en"))
    }),
    "parse_datetimes" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val raw = sample(col("c_custkey"), DateTimeSamples)
      c.select(col("c_custkey"), raw.as("raw"),
        P.parseShittyDateTime(raw).as("ts_en"),
        P.parseShittyDateTime(raw, "fr_FR").as("ts_fr"))
    }),
    "parse_times" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val raw = sample(col("c_custkey"), TimeSamples)
      c.select(col("c_custkey"), raw.as("raw"),
        P.parseShittyTime(raw).as("seconds"))
    }),
    "dump_formats" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      o.select(col("o_orderkey"),
        P.dumpDatetime(col("o_orderdate")).as("dt_json"),
        P.dumpDatetime(col("o_orderdate"), "gs").as("dt_gs"),
        P.dumpInt(col("o_totalprice")).as("di"),
        P.dumpPercentage((col("o_orderkey") % 100).cast(DoubleType) / 100.0)
          .as("dp"),
        P.dumpStr(sample(col("o_orderkey"), DumpStrSamples)).as("ds"))
    }),
    "format_list" -> ((s, dir) => {
      // Literal raw samples (incl. quote/paren/"et"/"and" cases); joined to
      // a pipe string so the driver harness can sort/hash the result. The
      // oracle carries the hand-derived expected tokenization (mirroring
      // the reference's formatting_test.py vectors) for the same samples.
      val c = t(s, dir, "customer")
      val raw = sample(col("c_custkey"), FormatListSamples)
      c.select(col("c_custkey"), raw.as("raw"),
        concat_ws("|", P.formatList(raw)).as("items"))
    }),

    // --- mapping DSL + sources ---
    "mapping_project" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val raw = Sources.fromColumns(o, Seq(
        col("o_orderkey"),
        date_format(col("o_orderdate"), "dd/MM/yyyy"),
        regexp_replace(col("o_totalprice").cast(StringType), "\\.", ","),
        col("o_orderpriority"),
        col("o_orderstatus")), col("o_orderkey"))
      val m = new Mapping()
      m.auto("id")
      m.auto("odate", c => P.parseShittyDateAsDate(c))
      m.auto("total", c => P.str2floatamount(c, "fr_FR"))
      m.auto("prio")
      m.auto("status")
      val schema = StructType(Seq(
        StructField("id", LongType),
        StructField("odate", DateType),
        StructField("total", DoubleType),
        StructField("prio", StringType,
          metadata = new MetadataBuilder().putLong("maxlength", 5).build()),
        StructField("status", StringType)))
      m.complete(schema).project(raw).drop(Mapping.LineCol)
        .withColumn("odate", date_format(col("odate"), "yyyy-MM-dd"))
    }),
    "csv_source" -> ((s, dir) => {
      // Materialize nation as a real CSV file (quoted names), then read it
      // back through the header-skipping CSV source + typed mapping.
      val rows = t(s, dir, "nation")
        .orderBy("n_nationkey")
        .collect()
      val csv = "nationkey,name,regionkey\n" + rows.map { r =>
        s"""${r.get(0)},"${r.get(1)}",${r.get(2)}"""
      }.mkString("\n") + "\n"
      val dirPath = java.nio.file.Paths.get(s"$fixtureDir/csv")
      java.nio.file.Files.createDirectories(dirPath)
      val f = dirPath.resolve("nation.csv")
      java.nio.file.Files.writeString(f, csv)
      val m = new Mapping()
      m.auto("id"); m.auto("name"); m.auto("region")
      val schema = StructType(Seq(
        StructField("id", LongType),
        StructField("name", StringType),
        StructField("region", LongType)))
      m.complete(schema)
        .project(Sources.csv(s, f.toString, headerLines = 0))
        .drop(Mapping.LineCol)
    }),
    "csv_multiline" -> ((s, dir) => {
      // Records whose quoted name field embeds a NEWLINE — the case the
      // line-split mode rejects loudly and multiline=true parses exactly
      // (reference csv.reader spans physical lines, importsource.py:168).
      val rows = t(s, dir, "nation")
        .orderBy("n_nationkey")
        .collect()
      val csv = "nationkey,name,regionkey\n" + rows.map { r =>
        s"""${r.get(0)},"${r.get(1)}\n${r.get(1)}",${r.get(2)}"""
      }.mkString("\n") + "\n"
      val dirPath = java.nio.file.Paths.get(s"$fixtureDir/csv")
      java.nio.file.Files.createDirectories(dirPath)
      val f = dirPath.resolve("nation_multiline.csv")
      java.nio.file.Files.writeString(f, csv)
      val m = new Mapping()
      m.auto("id"); m.auto("name"); m.auto("region")
      val schema = StructType(Seq(
        StructField("id", LongType),
        StructField("name", StringType),
        StructField("region", LongType)))
      m.complete(schema)
        .project(Sources.csv(s, f.toString, headerLines = 0,
          multiline = true))
        .drop(Mapping.LineCol)
    }),
    "table_source" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val m = new Mapping()
      m.field("id", path = "c_custkey")
      m.field("name", path = "c_name", parser = upper _)
      val fa = FieldCol(Some("c_acctbal"))
      m.computedField("acct2", Seq(fa), cs => cs(0) * 2)
      val schema = StructType(Seq(
        StructField("id", LongType),
        StructField("name", StringType),
        StructField("acct2", DoubleType)))
      m.complete(schema).project(Sources.table(c, Some(col("c_custkey"))))
        .drop(Mapping.LineCol)
    }),

    "csv_export" -> ((s, dir) => {
      // CSV export direction: French decimal-comma amounts force the
      // quoting path, the note field forces quote-doubling; DuckDB
      // applies the identical RFC-4180 quoting CASE.
      val o = t(s, dir, "orders")
      val amount = regexp_replace(
        format_string("%.2f", col("o_totalprice")), "\\.", ",")
      val note = concat(lit("note \""), col("o_orderstatus"), lit("\""))
      o.select(col("o_orderkey").as("id"),
        Sources.toCsvLine(Seq(col("o_orderkey").cast(StringType),
          amount, note)).as("line"))
    }),
    "orc_source" -> ((s, dir) => {
      // ORC round-trip (Sources.orc — the other columnar lake format,
      // served by Spark's built-in reader): documents → ORC files
      // (nested meta struct) → dotted-path Field mapping + a selective
      // filter back to typed rows. The filter and the column set reach
      // the ORC stripe reader (pushdown spec-asserted in SourcesSpec);
      // the oracle reads the same attributes straight off parquet.
      val root = orcFixture(s, dir)
      val oschema = StructType(Seq(
        StructField("doc_id", LongType),
        StructField("meta", StructType(Seq(
          StructField("lang", StringType),
          StructField("source", StringType)))),
        StructField("n_chars", LongType)))
      val m = new Mapping()
      m.field("id", path = "doc_id")
      m.field("lang", path = "meta.lang")
      m.field("src", path = "meta.source")
      m.field("n_chars", path = "n_chars")
      val schema = StructType(Seq(
        StructField("id", LongType),
        StructField("lang", StringType),
        StructField("src", StringType),
        StructField("n_chars", LongType)))
      m.complete(schema).project(Sources.orc(s, root, oschema))
        .drop(Mapping.LineCol)
        .filter(col("n_chars") >= 200L)
    }),
    "avro_source" -> ((s, dir) => {
      // Avro round-trip (Sources.avro — the row-major lake format,
      // served by graft's own sync-split container reader over the
      // avro core library): documents → Avro container files (nested
      // meta struct, graft's own staged writer) → dotted-path Field
      // mapping + a selective filter back to typed rows. The pinned
      // schema is the Avro READER schema (decode-level pruning;
      // split-exactness and projection legs live in AvroSpec); the
      // oracle reads the same attributes straight off parquet.
      val root = avroFixture(s, dir)
      val aschema = StructType(Seq(
        StructField("doc_id", LongType),
        StructField("meta", StructType(Seq(
          StructField("lang", StringType),
          StructField("source", StringType)))),
        StructField("n_chars", LongType)))
      val m = new Mapping()
      m.field("id", path = "doc_id")
      m.field("lang", path = "meta.lang")
      m.field("src", path = "meta.source")
      m.field("n_chars", path = "n_chars")
      val schema = StructType(Seq(
        StructField("id", LongType),
        StructField("lang", StringType),
        StructField("src", StringType),
        StructField("n_chars", LongType)))
      m.complete(schema).project(Sources.avro(s, root, aschema))
        .drop(Mapping.LineCol)
        .filter(col("n_chars") < 400L)
    }),
    "jsonl_source" -> ((s, dir) => {
      // JSONL round-trip: documents → json-lines files (nested meta
      // struct) → Sources.jsonl + dotted-path Field mapping back to
      // typed rows; the oracle reads the same attributes straight off
      // the parquet table.
      val root = jsonlFixture(s, dir)
      val jschema = StructType(Seq(
        StructField("doc_id", LongType),
        StructField("meta", StructType(Seq(
          StructField("lang", StringType),
          StructField("source", StringType)))),
        StructField("n_chars", LongType)))
      val m = new Mapping()
      m.field("id", path = "doc_id")
      m.field("lang", path = "meta.lang")
      m.field("src", path = "meta.source")
      m.field("n_chars", path = "n_chars")
      val schema = StructType(Seq(
        StructField("id", LongType),
        StructField("lang", StringType),
        StructField("src", StringType),
        StructField("n_chars", LongType)))
      m.complete(schema).project(Sources.jsonl(s, root, jschema))
        .drop(Mapping.LineCol)
    }),

    "mapping_export" -> ((s, dir) => {
      // Export direction: model → formatted strings (headers renamed).
      val o = t(s, dir, "orders")
      val m = new Mapping(keyColumnName = "id")
      m.field("id", path = "o_orderkey")
      m.field("total", path = "o_totalprice",
        opts = ColOpts(formatter = Some(P.dumpInt),
          header = Some("Total")))
      m.field("when", path = "o_orderdate",
        opts = ColOpts(formatter = Some(c => P.dumpDatetime(c, "gs")),
          header = Some("Date")))
      m.field("status", path = "o_orderstatus",
        opts = ColOpts(formatter = Some(P.dumpStr)))
      m.complete(o.schema
        .add("id", LongType).add("total", DoubleType)
        .add("when", TimestampType).add("status", StringType))
      m.export(o.select(
        col("o_orderkey").as("id"), col("o_totalprice").as("total"),
        col("o_orderdate").as("when"), col("o_orderstatus").as("status")))
    }),
    "mapping_diagnostics" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val raw = Sources.fromColumns(c,
        Seq(sample(col("c_custkey"), IntSamples),
          sample(col("c_custkey"), StrSamples)),
        order = col("c_custkey"))
      val m = new Mapping()
      m.auto("id")
      m.auto("s", opts = ColOpts(warnIfEmpty = true))
      val schema = StructType(Seq(
        StructField("id", LongType), StructField("s", StringType)))
      m.complete(schema).diagnostics(raw)
    }),

    // --- upsert family ---
    "upsert_basic" -> ((s, dir) => runUpsert(s, dir).merged),
    "upsert_create_only" -> ((s, dir) => runUpsert(s, dir, Create).merged),
    "upsert_update_only" -> ((s, dir) => runUpsert(s, dir, Update).merged),
    "upsert_history" -> ((s, dir) => runUpsert(s, dir).history),
    "upsert_skew" -> ((s, dir) => {
      // Adversarial hot key: 10% of ALL source rows share key 42. The
      // dedup policy aggregate collapses them to one row per key with
      // map-side partials BEFORE the exchange (a window dedup would
      // sort-shuffle every dup row), and the post-dedup join keys are
      // unique on both sides — nothing left for salting to fix.
      val o = t(s, dir, "orders")
      val skewKey = when(col("o_orderkey") % 10 === 0, lit(42L))
        .otherwise(col("o_orderkey"))
      val target = o.filter(col("o_orderkey") % 3 =!= 0).select(
        col("o_orderkey").as("id"),
        col("o_totalprice").as("price"),
        col("o_orderstatus").as("status"))
      val source = Sources.fromColumns(o,
        Seq(skewKey, col("o_totalprice"), col("o_orderstatus")),
        order = col("o_orderkey"))
      val m = new Mapping()
      m.auto("id"); m.auto("price"); m.auto("status")
      val schema = StructType(Seq(
        StructField("id", LongType),
        StructField("price", DoubleType),
        StructField("status", StringType)))
      val projected = m.complete(schema).project(source)
      Upsert(target, projected, m).merged
    }),
    "upsert_not_found" -> ((s, dir) => runUpsert(s, dir).notFound),
    // --- parquet-manifest table format (incremental MERGE ≡ upsert) ---
    "manifest_merge" -> ((s, dir) => {
      // Timed region = the incremental MERGE + committed read; the table
      // bootstrap happens in benchSetups/first-call, never per-rep.
      val root = manifestFixture(s, dir, "manifest_merge", withMerge = false)
      val m = upsertMapping
      val projected = m.complete(upsertSchema).project(upsertSource(s, dir))
      graft.store.ManifestTable.merge(projected, 0L, m, root, upsertSchema)
      graft.store.ManifestTable.read(s, root, upsertSchema)
    }),
    "manifest_rename" -> ((s, dir) => {
      // COLUMN RENAME through column mapping (manifest format 10): the
      // bootstrap commits under the 5-column schema, the rename is ONE
      // metadata-only commit (acctbal -> balance: no data file moves —
      // the column keeps its physical on-file name), then the standard
      // source MERGES under the RENAMED schema. The read-back is
      // schema-less, so the values must land in the renamed column
      // consistently across pre-rename bootstrap files and post-rename
      // merge files — the oracle is manifest_merge's with the column
      // renamed.
      val root = manifestFixture(s, dir, "manifest_rename",
        withMerge = false)
      graft.store.ManifestTable.renameColumn(s, root, "acctbal", "balance")
      val renamedSchema = StructType(Seq(
        StructField("id", LongType),
        StructField("name", StringType),
        StructField("balance", DoubleType),
        StructField("segment", StringType),
        StructField("nation", LongType)))
      val m = new Mapping()
      m.auto("id")
      m.auto("name")
      m.auto("balance", opts = ColOpts(keepHistory = true))
      m.auto("segment", opts = ColOpts(shouldUpdate = false))
      m.auto("nation", opts = ColOpts(shouldUpdateOnlyIfNull = true))
      val projected = m.complete(renamedSchema).project(upsertSource(s, dir))
      graft.store.ManifestTable.merge(projected, 0L, m, root, renamedSchema)
      graft.store.ManifestTable.read(s, root)
    }),
    "manifest_evolve" -> ((s, dir) => {
      // Add-only SCHEMA EVOLUTION under the driver gate: the table
      // bootstraps at the 5-column schema; the merge carries a NEW vip
      // column (evolveSchema = true) — untouched old rows NULL-fill it,
      // created/updated rows take source values — and the read-back is
      // SCHEMA-LESS, resolved from the manifest-recorded (format 7)
      // schema the evolution just widened.
      val root = manifestFixture(s, dir, "manifest_evolve",
        withMerge = false)
      val m = upsertMapping
      m.auto("vip")
      val evolved = upsertSchema.add(StructField("vip", StringType))
      val src = t(s, dir, "customer").filter(col("c_custkey") % 7 =!= 1)
      val source = Sources.fromColumns(src,
        Seq(col("c_custkey"), col("c_name"), col("c_acctbal"), lit("NEW"),
          col("c_nationkey"),
          when(col("c_custkey") % 2 === 0, "Y").otherwise("N")),
        order = col("c_custkey"))
      val projected = m.complete(evolved).project(source)
      graft.store.ManifestTable.merge(projected, 0L, m, root, evolved,
        evolveSchema = true)
      graft.store.ManifestTable.read(s, root)
    }),
    "manifest_evolve_drop" -> ((s, dir) => {
      // The r14 lifecycle half of schema evolution: TYPE WIDENING and
      // DROP COLUMN, both metadata-only commits. A table bootstraps
      // with narrow columns (int nation, float balance); widening
      // re-records them long/double (old files read back wide
      // natively — zero rewrite); a post-widen merge inserts values
      // beyond the narrow types' range; DROP then sheds the name
      // column logically (files stay put, reads stop projecting it).
      // DuckDB recomputes the surviving (id, nation_i, bal_f) state —
      // the float->double widening is bit-exact in both engines, so
      // the hash check covers the value path, not just the shapes.
      val root = resetSideRoot(s, "manifest_evolve_drop")
      val c = t(s, dir, "customer")
      val narrow = c.select(col("c_custkey").as("id"),
        col("c_name").as("name"),
        col("c_nationkey").cast("int").as("nation_i"),
        col("c_acctbal").cast("float").as("bal_f"))
      graft.store.ManifestTable.create(narrow, "id", root,
        numBuckets = 16)
      graft.store.ManifestTable.widenColumn(s, root, "nation_i",
        LongType)
      graft.store.ManifestTable.widenColumn(s, root, "bal_f",
        DoubleType)
      val wide = StructType(Seq(
        StructField("id", LongType), StructField("name", StringType),
        StructField("nation_i", LongType),
        StructField("bal_f", DoubleType)))
      val m = new Mapping(keyColumnName = "id")
      wide.fieldNames.foreach(m.auto(_))
      val ins = c.filter(col("c_custkey") % 3 === 0)
      val source = Sources.fromColumns(ins,
        Seq(col("c_custkey") + 10000000L,
          concat(lit("new-"), col("c_custkey")),
          col("c_nationkey").cast("long") + 3000000000L,
          col("c_acctbal")),
        order = col("c_custkey"))
      graft.store.ManifestTable.merge(m.complete(wide).project(source),
        1L, m, root, wide)
      graft.store.ManifestTable.dropColumn(s, root, "name")
      graft.store.ManifestTable.read(s, root)
    }),
    "manifest_merge_delta" -> ((s, dir) => {
      // The LSM write path: the same MERGE as manifest_merge but in
      // delta mode — only the batch's post-merge rows are written, the
      // base files stay live, and the returned read RECONCILES
      // last-version-wins per key. Hash-equal to the full-rewrite merge
      // (same oracle), so the delta + reconcile path is driver-verified
      // end-to-end, not just spec-tested.
      val root =
        manifestFixture(s, dir, "manifest_merge_delta", withMerge = false)
      val m = upsertMapping
      val projected = m.complete(upsertSchema).project(upsertSource(s, dir))
      graft.store.ManifestTable.merge(projected, 0L, m, root, upsertSchema,
        delta = true)
      graft.store.ManifestTable.read(s, root, upsertSchema)
    }),
    "manifest_merge_fixed" -> ((s, dir) => {
      // Scale-validation, rewrite side: a FIXED ~120-row batch merged
      // into a constant-bucket-bytes layout (scaledBuckets). The write
      // rewrites only the batch's touched buckets whole — a byte volume
      // bounded by the change (≤120 buckets × constant bytes), so the
      // BENCH_SF1 artifact expects this ~flat as the table grows 10×
      // while scan-bound queries grow ~10×. Read-back restricted to the
      // batch's key range keeps the returned frame fixed-size too.
      val root = manifestFixture(s, dir, "manifest_merge_fixed",
        withMerge = false, numBuckets = scaledBuckets(s, dir))
      val m = upsertMapping
      val projected =
        m.complete(upsertSchema).project(upsertSourceFixed(s, dir))
      graft.store.ManifestTable.merge(projected, 0L, m, root, upsertSchema)
      graft.store.ManifestTable.read(s, root, upsertSchema)
        .filter(col("id") <= FixedBatchMax)
    }),
    "manifest_delta_fixed" -> ((s, dir) => {
      // ...LSM side: the same fixed batch in delta mode writes ONLY its
      // own rows (write cost ∝ batch, independent of both bucket bytes
      // and table size). Same oracle as manifest_merge_fixed.
      val root = manifestFixture(s, dir, "manifest_delta_fixed",
        withMerge = false, numBuckets = scaledBuckets(s, dir))
      val m = upsertMapping
      val projected =
        m.complete(upsertSchema).project(upsertSourceFixed(s, dir))
      graft.store.ManifestTable.merge(projected, 0L, m, root, upsertSchema,
        delta = true)
      graft.store.ManifestTable.read(s, root, upsertSchema)
        .filter(col("id") <= FixedBatchMax)
    }),
    "manifest_mv_fixed" -> ((s, dir) => {
      // Scale-validation for view maintenance: base is FULLY merged in
      // the fixture; the timed region is a fixed-batch DELTA commit +
      // the view refresh + the (5-row) view read. Sum-only view — no
      // min/max suspect recompute — so refresh cost is purely
      // feed-bounded: the CDC diff reads only the delta commit's
      // touched buckets (constant bytes each) and every downstream
      // input is ∝ the change. Hash-equal to DuckDB's full group-by of
      // the final state.
      val root = manifestFixture(s, dir, "manifest_mv_fixed",
        withMerge = true, numBuckets = scaledBuckets(s, dir))
      val vd = mvFixedViewDef
      if (!sideReady.contains("manifest_mv_fixed_view")) {
        resetSideRoot(s, "manifest_mv_fixed_view")
        graft.store.MaterializedView.create(s, vd)
        sideReady += "manifest_mv_fixed_view"
      }
      val m = upsertMapping
      val projected =
        m.complete(upsertSchema).project(upsertSourceFixed(s, dir))
      graft.store.ManifestTable.merge(projected, 1L, m, root, upsertSchema,
        delta = true)
      graft.store.MaterializedView.refresh(s, vd)
      graft.store.MaterializedView.read(s, vd)
        .select(col("segment"), col("n_rows"),
          col("sum_acctbal_d").cast(DoubleType).as("sum_acctbal"))
    }),
    "manifest_index_fixed" -> ((s, dir) => {
      // Scale-validation for index maintenance: the index is on the
      // near-unique `name` column, so the fixture's fixed 10-key delete
      // touches 10 bounded value rows and the refresh cost tracks the
      // change (feed diff over ≤10 constant-byte buckets + 10 index-row
      // rewrites). The read-back is a pruned 20-name probe (deleted
      // names answer through their surviving scaled-copy ids only).
      val root = manifestFixture(s, dir, "manifest_index_fixed",
        withMerge = true, numBuckets = scaledBuckets(s, dir))
      val ix = ixFixedDef
      if (!sideReady.contains("manifest_index_fixed_idx")) {
        resetSideRoot(s, "manifest_index_fixed_idx")
        graft.store.SecondaryIndex.create(s, ix)
        sideReady += "manifest_index_fixed_idx"
      }
      graft.store.ManifestTable.delete(s, root, upsertSchema, "id",
        (1 to 10).map(_ * 13L), token = 1L)
      graft.store.SecondaryIndex.refresh(s, ix)
      val probeIds = (1 to 10).map(_ * 13L) ++ (1 to 10).map(_ * 17L)
      val probeNames = t(s, dir, "customer")
        .filter(col("c_custkey").isin(probeIds: _*))
        .select("c_name").collect().map(_.getString(0)).toSeq.distinct
      graft.store.SecondaryIndex.lookupValues(s, ix, probeNames)
    }),
    "manifest_incr_agg" -> ((s, dir) => {
      // Materialized-view maintenance: the per-segment rollup is
      // bootstrapped at v0 and maintained to the current version purely
      // from the CHANGE FEED — the base table is never re-read, so
      // refresh cost tracks the change rate (the feed itself reads only
      // commit-touched buckets). The result must equal a full recompute
      // over the merged state, which is what the DuckDB oracle states.
      // Sums go through DECIMAL so incremental addition is exact. The
      // MERGE producing the changes is part of the fixture (its cost is
      // manifest_merge's number); the timed region is the maintenance
      // itself: bootstrap agg at v0 + feed read + view algebra.
      val root =
        manifestFixture(s, dir, "manifest_incr_agg", withMerge = true)
      val cur = graft.store.ManifestTable.currentVersion(s, root).get
      val prep = (df: DataFrame) =>
        df.withColumn("acctbal_d", col("acctbal").cast("decimal(30,2)"))
      graft.store.IncrementalAgg.maintainedView(s, root, upsertSchema,
          "id", Seq("segment"), Seq("acctbal_d"), 0L, cur, prep)
        .select(col("segment"), col("n_rows"),
          col("sum_acctbal_d").cast(DoubleType).as("sum_acctbal"))
    }),
    "manifest_incr_minmax" -> ((s, dir) => {
      // Min/max view maintenance under a guaranteed LOST EXTREMUM: the
      // fixture deletes each segment's top-3 acctbal rows, so the
      // maintained min/max CANNOT come from the feed alone — the
      // suspect-group partial recompute (IncrementalAgg.applyChanges:
      // re-read ONLY the groups that lost an extremal row, broadcast
      // semi-join) must run and still hash-equal the DuckDB full
      // recompute. Deleted ids derive deterministically from the merged
      // state (row_number by acctbal DESC, id); after benchSetups
      // pre-applied the delete, the version guard returns before even
      // the id-derivation scan, so the timed region is the maintenance
      // itself.
      val root =
        manifestFixture(s, dir, "manifest_incr_minmax", withMerge = true)
      deleteTopAcctbal(s, root)
      val cur = graft.store.ManifestTable.currentVersion(s, root).get
      val prep = (df: DataFrame) =>
        df.withColumn("acctbal_d", col("acctbal").cast("decimal(30,2)"))
      graft.store.IncrementalAgg.maintainedView(s, root, upsertSchema,
          "id", Seq("segment"), Seq("acctbal_d"), 0L, cur, prep,
          minMaxCols = Seq("acctbal"))
        .select(col("segment"), col("n_rows"),
          col("sum_acctbal_d").cast(DoubleType).as("sum_acctbal"),
          col("min_acctbal"), col("max_acctbal"))
    }),
    "manifest_merge_small" -> ((s, dir) => {
      // The rewrite-vs-delta comparison pair, rewrite side: a SMALL batch
      // (custkey%97==0, ~1% of keys) merged in full-rewrite mode — every
      // touched bucket rewrites whole even though the batch grazes it.
      // Same oracle as manifest_delta_small; the bench medians of the
      // pair put a driver-visible number on the LSM write-path claim.
      val root =
        manifestFixture(s, dir, "manifest_merge_small", withMerge = false)
      val m = upsertMapping
      val projected = m.complete(upsertSchema)
        .project(upsertSource(s, dir, keyMod = Some(97L)))
      graft.store.ManifestTable.merge(projected, 0L, m, root, upsertSchema)
      graft.store.ManifestTable.read(s, root, upsertSchema)
    }),
    "manifest_delta_small" -> ((s, dir) => {
      // ...delta side: the same small batch writes only its own rows.
      val root =
        manifestFixture(s, dir, "manifest_delta_small", withMerge = false)
      val m = upsertMapping
      val projected = m.complete(upsertSchema)
        .project(upsertSource(s, dir, keyMod = Some(97L)))
      graft.store.ManifestTable.merge(projected, 0L, m, root, upsertSchema,
        delta = true)
      graft.store.ManifestTable.read(s, root, upsertSchema)
    }),
    "manifest_delete" -> ((s, dir) => {
      // targeted GDPR-style erasure of a FIXED key list (bounded, not a
      // data-dependent collect): only those keys' buckets rewrite. The
      // fixture (create + merge) is pre-built; the timed region is the
      // DELETE itself + committed read.
      val root = manifestFixture(s, dir, "manifest_delete", withMerge = true)
      graft.store.ManifestTable.delete(s, root, upsertSchema, "id",
        (1 to 10).map(_ * 13L), token = 1L)
      graft.store.ManifestTable.read(s, root, upsertSchema)
    }),
    "manifest_bucket_split" -> ((s, dir) => {
      // ONLINE BUCKET SPLIT under the driver gate: the table
      // bootstraps COARSE (4 buckets — the "created at 1 TB, grown to
      // 100 TB" shape), the upsert merges, then splitBuckets rewrites
      // only the over-median leaves into children (manifest-recorded
      // split tree), and a targeted DELETE afterwards must address the
      // SPLIT leaves exactly — hash-equal to manifest_delete's result
      // on a flat layout under the same DuckDB oracle. At 100 TB this
      // is the op that keeps every touched-bucket cost bounded by the
      // split threshold instead of growing with the table.
      val root = manifestFixture(s, dir, "manifest_bucket_split",
        withMerge = true, numBuckets = 4)
      val m0 = graft.store.ManifestTable.currentManifest(s, root).get
      val leafBytes = m0.entries.groupBy(_.bucket).values
        .map(_.map(_.bytes).sum).toSeq.sorted
      val threshold = leafBytes(leafBytes.size / 2)
      graft.store.ManifestTable.splitBuckets(s, root, upsertSchema,
        token = 1L, maxBytes = math.max(1L, threshold))
      graft.store.ManifestTable.delete(s, root, upsertSchema, "id",
        (1 to 10).map(_ * 13L), token = 2L)
      graft.store.ManifestTable.read(s, root, upsertSchema)
    }),
    "manifest_delete_delta" -> ((s, dir) => {
      // The same GDPR-style erasure in TOMBSTONE mode: the commit
      // writes one key-only tombstone file per touched bucket instead
      // of rewriting the buckets — delete cost ∝ deleted keys, never
      // bucket bytes (at 100 TB: kilobytes written where the rewrite
      // path writes the touched buckets whole). The read-back
      // reconciles tombstones exactly, hash-equal to manifest_delete's
      // full-rewrite result under the same DuckDB oracle.
      val root = manifestFixture(s, dir, "manifest_delete_delta",
        withMerge = true)
      graft.store.ManifestTable.delete(s, root, upsertSchema, "id",
        (1 to 10).map(_ * 13L), token = 1L, delta = true)
      graft.store.ManifestTable.read(s, root, upsertSchema)
    }),
    "manifest_tag" -> ((s, dir) => {
      // NAMED SNAPSHOT under GC churn: tag the merged state, erase 10
      // keys on top, vacuum at keepLast=1 — then read the TAG. The
      // pinned snapshot stays fully addressable (vacuum retains the
      // tagged manifest AND its data files; the untagged intermediate
      // versions are gone), hash-equal to manifest_merge's
      // merged-state oracle. This is the reproducible-training-cut
      // primitive at 100 TB: the exact bytes a corpus was cut from
      // stay readable by name while later commits, compaction and GC
      // churn the table.
      val root = manifestFixture(s, dir, "manifest_tag",
        withMerge = true)
      if (!sideReady.contains("manifest_tag_decl")) {
        graft.store.ManifestTable.tag(s, root, "corpus_cut")
        graft.store.ManifestTable.delete(s, root, upsertSchema, "id",
          (1 to 10).map(_ * 13L), token = 1L)
        graft.store.ManifestTable.vacuum(s, root, keepLast = 1)
        sideReady += "manifest_tag_decl"
      }
      graft.store.ManifestTable.readAt(s, root, "corpus_cut")
    }),
    "manifest_merge_branch" -> ((s, dir) => {
      // BRANCH MERGE-BACK: the experiment loop's other half. The
      // fixture clones the merged table (zero copy), the BRANCH runs
      // the standard 10-key erasure, and mergeBranch lands the
      // branch's net edits on the untouched source — one idempotent
      // upsert + one bounded delete on the graft-merge-branch ledger
      // (conflicts would refuse; here the source never moved). The
      // source read back hash-equals manifest_delete's oracle: the
      // same erasure, arrived via a branch instead of in place. At
      // 100 TB: curate on a branch, measure, merge what worked —
      // cost ∝ both sides' change since the bind, never table size.
      val root = manifestFixture(s, dir, "manifest_merge_branch",
        withMerge = true)
      val br = s"$fixtureDir/manifest_merge_branch_br"
      if (!sideReady.contains("manifest_merge_branch_br")) {
        resetSideRoot(s, "manifest_merge_branch_br")
        graft.store.ManifestTable.cloneAt(s, root, br, pin = false)
        graft.store.ManifestTable.delete(s, br, upsertSchema, "id",
          (1 to 10).map(_ * 13L), token = 1L)
        sideReady += "manifest_merge_branch_br"
      }
      graft.store.ManifestTable.mergeBranch(s, root, br, token = 99L)
      graft.store.ManifestTable.read(s, root, upsertSchema)
    }),
    "manifest_constraint" -> ((s, dir) => {
      // DECLARED CHECK CONSTRAINTS: declare once (validated against
      // the current state), then EVERY writer's rows pass the check
      // inline at the shared write funnel — no extra scan, no second
      // job, a quality gate cheap enough to leave on at 100 TB. The
      // closure asserts the enforcement in-query: an UPDATE that
      // would null a protected column must fail BEFORE anything
      // commits (same version after), and the table read back
      // hash-equals the untouched merged state.
      val root = manifestFixture(s, dir, "manifest_constraint",
        withMerge = true)
      if (!sideReady.contains("manifest_constraint_decl")) {
        graft.store.ManifestTable.addConstraint(s, root, "seg_nn",
          "segment IS NOT NULL")
        sideReady += "manifest_constraint_decl"
      }
      val v0 = graft.store.ManifestTable.currentVersion(s, root).get
      val threw =
        try {
          graft.store.ManifestTable.updateWhere(s, root, upsertSchema,
            _ => Seq("segment" ->
              lit(null).cast(org.apache.spark.sql.types.StringType)),
            df => df("id") === 42L, token = 777L)
          false
        } catch { case _: Throwable => true }
      require(threw, "the constraint must reject the violating UPDATE")
      require(graft.store.ManifestTable.currentVersion(s, root)
        .contains(v0), "a rejected write must not commit")
      graft.store.ManifestTable.read(s, root, upsertSchema)
    }),
    "manifest_analyze" -> ((s, dir) => {
      // INCREMENTAL ANALYZE: per-file column stats (row/null counts +
      // a mergeable HLL distinct sketch) build once per immutable
      // file — covered files never rescan, so ANALYZE cost rides the
      // change rate, and the table-level fold (counts sum, sketches
      // union) reads ZERO data files. At 100 TB stats become a
      // maintained byproduct of writing instead of a weekly full-scan
      // job. The gate hash-checks the EXACT halves (per-column
      // row/null counts over the merged state) against DuckDB's
      // recompute; the NDV estimate and the coverage facts are
      // ColStatsSpec's (10% envelope, incremental no-op, clone
      // coverage honesty).
      val root = manifestFixture(s, dir, "manifest_analyze",
        withMerge = true)
      graft.store.ColStats.analyze(s, root, upsertSchema,
        Seq("segment", "nation"))
        .select(col("column").as("col_name"), col("row_count"),
          col("null_count"))
    }),
    "manifest_clone" -> ((s, dir) => {
      // SHALLOW CLONE as a first-class table: clone the merged fixture
      // (zero data copied — the clone's manifest references the source
      // files in place), then run the standard 10-key erasure ON THE
      // CLONE and read it back. The delete's bucket rewrite reads ext
      // (source-tree) base files and writes clone-local ones —
      // copy-on-write divergence — and must hash-equal
      // manifest_delete's flat-table result under the same DuckDB
      // oracle. At 100 TB this is the branch-the-corpus primitive:
      // experiment on a mutable branch of a petabyte table for the
      // cost of one manifest write.
      val root = manifestFixture(s, dir, "manifest_clone",
        withMerge = true)
      val dst = s"$fixtureDir/manifest_clone_dst"
      if (!sideReady.contains("manifest_clone_dst")) {
        resetSideRoot(s, "manifest_clone_dst")
        graft.store.ManifestTable.cloneAt(s, root, dst, pin = false)
        sideReady += "manifest_clone_dst"
      }
      graft.store.ManifestTable.delete(s, dst, upsertSchema, "id",
        (1 to 10).map(_ * 13L), token = 1L)
      graft.store.ManifestTable.read(s, dst, upsertSchema)
    }),
    "manifest_auto_compact" -> ((s, dir) => {
      // DECLARED COMPACTION on the commit path: autoMaintain
      // (compactFiles = 2) once, then the SAME tombstone erasure as
      // manifest_delete_delta — but here the commit hook folds every
      // touched bucket's chain (base + tombstone) straight back to one
      // reconcile-free file, so the read below pays NO reconcile join.
      // This is the LSM read-amplification bound at 100 TB: deltas and
      // tombstones accumulate at write cost ∝ change, and the declared
      // threshold folds them at cost ∝ the chains, never the table —
      // no follower loop, no operator. Values hash-equal
      // manifest_delete_delta's (same DuckDB oracle): folding is a
      // pure layout change.
      val root = manifestFixture(s, dir, "manifest_auto_compact",
        withMerge = true)
      if (!sideReady.contains("manifest_auto_compact_decl")) {
        graft.store.ManifestTable.autoMaintain(s, root,
          compactFiles = 2)
        sideReady += "manifest_auto_compact_decl"
      }
      graft.store.ManifestTable.delete(s, root, upsertSchema, "id",
        (1 to 10).map(_ * 13L), token = 1L, delta = true)
      graft.store.ManifestTable.read(s, root, upsertSchema)
    }),
    "manifest_read" -> ((s, dir) => {
      // the read-back HALF of manifest_delete, timed alone: benchSetups
      // pre-applies create + merge + delete, so the bench number is the
      // committed-snapshot read cost and manifest_delete minus this is
      // the delete cost — both halves hash-green against the same
      // oracle. (Verify runs this closure standalone: the guarded
      // fixture build + token-replayed delete make it self-contained.)
      val root = manifestFixture(s, dir, "manifest_read", withMerge = true)
      graft.store.ManifestTable.delete(s, root, upsertSchema, "id",
        (1 to 10).map(_ * 13L), token = 1L) // replay no-op after setup
      graft.store.ManifestTable.read(s, root, upsertSchema)
    }),
    "manifest_probe_join" -> ((s, dir) => {
      // DIM-DRIVEN DYNAMIC FILE PRUNING: join the merged manifest table
      // (the fact) against a selective orders-derived dim. probeJoin
      // collects the dim's bounded distinct keys and reads ONLY their
      // hash buckets' files before joining — the I/O shape Spark's own
      // DPP cannot give a non-partitioned layout. Values must equal the
      // plain join (the oracle recomputes it from scratch), which makes
      // this gate the correctness half; the pruning evidence
      // (inputFiles strictly fewer) is ProbeJoinSpec's.
      val root = manifestFixture(s, dir, "manifest_probe_join",
        withMerge = true)
      val dim = t(s, dir, "orders")
        .filter(col("o_custkey") % 97 === 0)
        .select(col("o_custkey").as("cust"),
          col("o_orderkey").as("okey"),
          col("o_totalprice").as("oprice"))
      graft.store.ManifestTable
        .probeJoin(s, root, upsertSchema, dim, "cust")
        .select(col("id"), col("name"), col("acctbal"), col("segment"),
          col("nation"), col("okey"), col("oprice"))
    }),
    "manifest_probe_join_auto" -> ((s, dir) => {
      // The AUTOMATIC face of the same pruning (graft.store
      // .AutoProbeJoin): a PLAIN DataFrame join over the v2 read — no
      // API call — and the optimizer rule injects the bounded key-IN
      // filter itself (selective file-backed dim, under the size/key
      // caps). Values must equal the explicit probeJoin's (same
      // oracle); the plan-shape evidence is AutoProbeJoinSpec's.
      GraftExtensions.register(s) // the rule rides the extension set
      // measurable at EVERY sf: the sf1 dim (orders, ~26 MB) sits over
      // the 10 MB default exactly like a real deployment's dims sit
      // over autoBroadcastJoinThreshold — raise the knob as a tuned
      // cluster would (probe cost is bounded by maxKeys either way)
      s.conf.set(graft.store.AutoProbeJoin.MaxDimBytesKey,
        (64L * 1024 * 1024).toString)
      val root = manifestFixture(s, dir, "manifest_probe_join_auto",
        withMerge = true)
      val dim = t(s, dir, "orders")
        .filter(col("o_custkey") % 97 === 0)
        .select(col("o_custkey").as("cust"),
          col("o_orderkey").as("okey"),
          col("o_totalprice").as("oprice"))
      s.read.format("graft").load(root)
        .join(dim, col("id") === col("cust"))
        .select(col("id"), col("name"), col("acctbal"), col("segment"),
          col("nation"), col("okey"), col("oprice"))
    }),
    "manifest_index_probe_auto" -> ((s, dir) => {
      // The INDEX leg of AutoProbeJoin: a plain v2-face join on a
      // NON-key column carrying a registered, FRESH secondary index.
      // The rule resolves the dim's names to base keys through one
      // pruned index lookup, pins the scan to the applied version, and
      // reads only those keys' buckets. Values must equal the plain
      // join (the oracle recomputes it); the plan/pruning evidence is
      // AutoProbeJoinSpec's.
      GraftExtensions.register(s)
      s.conf.set(graft.store.AutoProbeJoin.MaxDimBytesKey,
        (64L * 1024 * 1024).toString) // see manifest_probe_join_auto
      val root = manifestFixture(s, dir, "manifest_index_probe_auto",
        withMerge = true)
      if (!sideReady.contains("manifest_index_probe_auto_idx")) {
        resetSideRoot(s, "manifest_index_probe_auto_idx")
        graft.store.SecondaryIndex.create(s, ixAutoDef)
        sideReady += "manifest_index_probe_auto_idx"
      }
      val dim = t(s, dir, "customer")
        .filter(col("c_custkey") % 97 === 0)
        .select(col("c_name").as("dname"), col("c_custkey").as("dkey"))
      s.read.format("graft").load(root)
        .join(dim, col("name") === col("dname"))
        .select(col("id"), col("name"), col("acctbal"), col("segment"),
          col("nation"), col("dkey"))
    }),
    "manifest_index_filter_auto" -> ((s, dir) => {
      // AutoIndexFilter under DECLARED derived maintenance: the index
      // is created once and NEVER explicitly refreshed — the
      // autoMaintain(derived = true) declaration makes every base
      // commit (the probed-row delete below) advance it through the
      // commit hook's exactly-once ledger, so the rule's freshness
      // gate stays open with no follower loop. The rule then turns the
      // plain literal IN predicate on the indexed NAME column — no API
      // call — into a bounded index probe + version-pinned key-pruned
      // scan. Hash-equals DuckDB's filter over the merged-minus-
      // deleted state; rewrite-fires evidence is AutoMaintainSpec's.
      GraftExtensions.register(s)
      val root = manifestFixture(s, dir, "manifest_index_filter_auto",
        withMerge = true)
      if (!sideReady.contains("manifest_index_filter_auto_idx")) {
        resetSideRoot(s, "manifest_index_filter_auto_idx")
        graft.store.SecondaryIndex.create(s, ixFilterDef)
        graft.store.ManifestTable.autoMaintain(s, root, derived = true)
        sideReady += "manifest_index_filter_auto_idx"
      }
      // a data commit with NO explicit index refresh: deletes a PROBED
      // row, so a stale-index wrong answer would hash-mismatch
      graft.store.ManifestTable.delete(s, root, upsertSchema, "id",
        Seq(97L), token = 7L) // replays no-op on later runs
      val probes = (1 to 10).map(i => f"Customer#${i * 97}%09d")
      s.read.format("graft").load(root)
        .filter(col("name").isin(probes: _*))
        .select(col("id"), col("name"), col("acctbal"), col("segment"),
          col("nation"))
    }),
    "manifest_zone_range" -> ((s, dir) => {
      // Per-file min/max ZONE MAPS — the range-predicate complement to
      // bloom skipping: build the acctbal sidecar (incremental no-op
      // once covered), then the zone-pruned BETWEEN read. The driver
      // gate is the VALUES (hash-equal to DuckDB's merged-state
      // recompute restricted to the range); on this hash-bucketed
      // fixture every bucket spans most of the acctbal domain, so the
      // pruning evidence lives in ZoneSkipSpec's clustered fixtures.
      val root =
        manifestFixture(s, dir, "manifest_zone_range", withMerge = true)
      graft.store.ZoneSkip.buildZones(s, root, upsertSchema,
        Seq("acctbal"))
      graft.store.ZoneSkip.lookupRange(s, root, upsertSchema, "acctbal",
        1000.0, 5000.0)
    }),
    "manifest_auto_maintain" -> ((s, dir) => {
      // DECLARED sidecar maintenance on the commit path: autoMaintain
      // once, then a data commit (a targeted delete here) refreshes
      // the acctbal zone sidecar as part of committing — the pruned
      // BETWEEN read below never calls buildZones. Values hash-equal
      // DuckDB's merged-state recompute minus the deleted key,
      // restricted to the range.
      val root = manifestFixture(s, dir, "manifest_auto_maintain",
        withMerge = true)
      if (!sideReady.contains("manifest_auto_maintain_decl")) {
        graft.store.ManifestTable.autoMaintain(s, root,
          zones = Seq("acctbal"))
        sideReady += "manifest_auto_maintain_decl"
      }
      graft.store.ManifestTable.delete(s, root, upsertSchema, "id",
        Seq(42L), token = 7L) // replays no-op on later runs
      graft.store.ZoneSkip.lookupRange(s, root, upsertSchema, "acctbal",
        1000.0, 5000.0)
    }),
    "manifest_zone_clustered" -> ((s, dir) => {
      // clusterBy + zones: the companion maintenance op that makes zone
      // maps prune PRODUCTION layouts. The hash-bucketed fixture spreads
      // acctbal over every bucket (manifest_zone_range reads ~all
      // buckets); clusterBy re-lays each bucket's rows into files
      // holding disjoint acctbal ranges — content identical, key layout
      // intact — and the single-seq buckets upgrade zone pruning to
      // FILE granularity. Same probe, same oracle as
      // manifest_zone_range: the VALUES gate proves the re-layout
      // changed nothing; the file-count evidence lives in ClusterBySpec.
      val root = manifestFixture(s, dir, "manifest_zone_clustered",
        withMerge = true)
      graft.store.ManifestTable.clusterBy(s, root, upsertSchema, "id",
        "acctbal", token = 2L, filesPerBucket = 4)
      graft.store.ZoneSkip.buildZones(s, root, upsertSchema,
        Seq("acctbal"))
      graft.store.ZoneSkip.lookupRange(s, root, upsertSchema, "acctbal",
        1000.0, 5000.0)
    }),
    "manifest_recluster" -> ((s, dir) => {
      // INCREMENTAL re-clustering (the Delta OPTIMIZE shape): at 100 TB
      // a layout refresh must cost the CHANGE RATE, not a table-sized
      // rewrite, so the timed region is a 10-key delete (drifts <= 10
      // of 32 buckets — their rewritten files drop the format-12
      // `sorted` claim), ManifestTable.recluster (rewrites ONLY those
      // buckets; every other bucket's files carry verbatim), the
      // covered-check zone refresh (only the rewritten files scan) and
      // the file-granular pruned range read. The VALUES gate proves the
      // refresh changed nothing but layout: DuckDB recomputes the
      // post-delete state under the same BETWEEN. Bucket-locality
      // evidence lives in ClusterBySpec.
      val root = manifestFixture(s, dir, "manifest_recluster",
        withMerge = true)
      if (!sideReady.contains("manifest_recluster_layout")) {
        graft.store.ManifestTable.clusterBy(s, root, upsertSchema, "id",
          "acctbal", token = 2L, filesPerBucket = 4)
        graft.store.ZoneSkip.buildZones(s, root, upsertSchema,
          Seq("acctbal"))
        sideReady += "manifest_recluster_layout"
      }
      graft.store.ManifestTable.delete(s, root, upsertSchema, "id",
        (1 to 10).map(_ * 13L), token = 3L)
      graft.store.ManifestTable.recluster(s, root, upsertSchema,
        token = 4L, filesPerBucket = 4)
      graft.store.ZoneSkip.buildZones(s, root, upsertSchema,
        Seq("acctbal"))
      graft.store.ZoneSkip.lookupRange(s, root, upsertSchema, "acctbal",
        1000.0, 5000.0)
    }),
    "manifest_auto_recluster" -> ((s, dir) => {
      // The DECLARED layout-maintenance loop (rows 157+158 composed):
      // autoMaintain(zones, reclusterDrift=1) was declared in
      // benchSetups, so the timed region is ONE keyed delete whose
      // commit hook re-clusters the drifted buckets and refreshes the
      // zone sidecars over the fresh files — no recluster or
      // buildZones call anywhere in this closure — plus the
      // file-granular pruned read. Hash-equals manifest_recluster's
      // oracle: the hook must land exactly the explicit call's state.
      val root = manifestFixture(s, dir, "manifest_auto_recluster",
        withMerge = true)
      if (!sideReady.contains("manifest_auto_recluster_decl")) {
        graft.store.ManifestTable.clusterBy(s, root, upsertSchema, "id",
          "acctbal", token = 2L, filesPerBucket = 4)
        graft.store.ManifestTable.autoMaintain(s, root,
          zones = Seq("acctbal"), reclusterDrift = 1)
        sideReady += "manifest_auto_recluster_decl"
      }
      graft.store.ManifestTable.delete(s, root, upsertSchema, "id",
        (1 to 10).map(_ * 13L), token = 3L)
      graft.store.ZoneSkip.lookupRange(s, root, upsertSchema, "acctbal",
        1000.0, 5000.0)
    }),
    "manifest_zorder" -> ((s, dir) => {
      // Z-ORDER multi-column clustering: one Morton re-layout makes a
      // BOX probe (acctbal range AND name range) zone-prunable in BOTH
      // dimensions — single-column clusterBy serves exactly one. Same
      // content-identity discipline as manifest_zone_clustered: the
      // VALUES gate (DuckDB recomputes the merged state under both
      // predicates) proves the re-layout changed nothing; the per-
      // dimension file-count evidence lives in ZOrderSpec.
      val root = manifestFixture(s, dir, "manifest_zorder",
        withMerge = true)
      graft.store.ManifestTable.zOrderBy(s, root, upsertSchema, "id",
        Seq("acctbal", "name"), token = 2L, filesPerBucket = 4)
      graft.store.ZoneSkip.buildZones(s, root, upsertSchema,
        Seq("acctbal", "name"))
      graft.store.ZoneSkip.lookupRanges(s, root, upsertSchema,
        Seq(("acctbal", 1000.0, 5000.0),
          ("name", "Customer#000000030", "Customer#000000899")))
    }),
    "manifest_restore" -> ((s, dir) => {
      // Point-in-time RESTORE: erase 10 keys, then rewind the table to
      // the pre-delete version. The restore commit is METADATA-ONLY —
      // one manifest write re-referencing v1's files, no data read or
      // rewritten, same cost at 100 TB as at 100 rows — and the bench
      // number pins it: benchSetups pre-applies create + merge + delete,
      // so the timed region is the rewind + committed read (the delete
      // here replays into a no-op after setup; standalone in Verify it
      // applies and the restore undoes it). Hash-equal to the merged
      // state as if the delete never happened.
      val root =
        manifestFixture(s, dir, "manifest_restore", withMerge = true)
      graft.store.ManifestTable.delete(s, root, upsertSchema, "id",
        (1 to 10).map(_ * 13L), token = 1L)
      graft.store.ManifestTable.restore(s, root, toVersion = 1L,
        token = 2L, tokenStream = Some("__restore"))
      graft.store.ManifestTable.read(s, root, upsertSchema)
    }),
    "manifest_scan_pruned" -> ((s, dir) => {
      // The batch-read FORMAT face (`spark.read.format("graft")`) with a
      // plain DataFrame key filter: the filter reaches GraftFileIndex at
      // plan time, so only the probe keys' bucket files are read — the
      // declarative twin of the lookup() API. Values hash-equal the
      // DuckDB merged-state recompute restricted to the same keys; the
      // file-count evidence lives in GraftFormatSpec/GraftFileIndexSpec.
      val root = manifestFixture(s, dir, "manifest_scan", withMerge = true)
      GraftExtensions.register(s) // Verify's session has no extensions
      s.read.format("graft").load(root)
        .filter(col("id").isin(2L, 5L, 170L, 1202L))
        .select(col("id"), col("name"), col("acctbal"), col("segment"),
          col("nation"))
    }),
    "manifest_write_format" -> ((s, dir) => {
      // The batch WRITE face (`df.write.format("graft")`): bootstrap +
      // typed append-merge through the writer, read back through the
      // format — the full df.read/df.write symmetry, hash-checked
      // against DuckDB's last-wins recompute. (The append's auto
      // mapping carries no column policies, unlike the upsert_basic
      // family — source values win wholesale.)
      GraftExtensions.register(s)
      val root = writeFormatFixture(s, dir)
      s.read.format("graft").load(root)
    }),
    "manifest_catalog" -> ((s, dir) => {
      // The DSv2 TableCatalog face: NAMED tables over the same manifest
      // state (`CREATE TABLE graft.ns.t USING graft` / `INSERT INTO` /
      // `SELECT`), no path or DDL strings in the user surface. The
      // timed region is the whole named-table lifecycle: create, bulk
      // INSERT (bootstrap merge), a second INSERT of a drifted slice
      // (key-matched UPSERT — this is a keyed table), and the committed
      // read back by name. Values hash-equal DuckDB's last-wins
      // recompute; the pruning/rename/time-travel evidence lives in
      // GraftCatalogSpec.
      GraftExtensions.register(s)
      s.conf.set("spark.sql.catalog.graft", "graft.store.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft.warehouse",
        s"$fixtureDir/graft_warehouse")
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft.bench")
      s.sql("DROP TABLE IF EXISTS graft.bench.customers")
      s.sql("""CREATE TABLE graft.bench.customers
        (id BIGINT, name STRING, acctbal DOUBLE) USING graft
        TBLPROPERTIES ('key'='id', 'numBuckets'='16')""")
      s.read.parquet(s"$dir/customer.parquet")
        .selectExpr("c_custkey AS id", "c_name AS name",
          "CAST(c_acctbal AS DOUBLE) AS acctbal")
        .createOrReplaceTempView("catalog_src")
      s.sql("INSERT INTO graft.bench.customers SELECT * FROM catalog_src")
      s.sql("""INSERT INTO graft.bench.customers
        SELECT id, name, acctbal + 1000 FROM catalog_src
        WHERE id % 10 = 0""")
      // SQL DELETE by key: a bucket-local rewrite through SupportsDelete
      s.sql("DELETE FROM graft.bench.customers WHERE id IN (3, 7, 13)")
      s.sql("SELECT * FROM graft.bench.customers")
    }),
    "manifest_stream_sink" -> ((s, dir) => {
      // DSv2 streaming catch-up (CDC source -> table sink, the
      // declarative follower — no foreachBatch): the base fixture's two
      // commits (bootstrap + upsert merge) replay from `earliest`
      // through `graft-cdc` into a FRESH graft-table sink in one
      // catch-up run; versionColumn nets per key, deleteWhen routes
      // deletes (none here), dropColumns keeps the CDC columns out of
      // the sink. The timed region is the whole catch-up — staging,
      // netting, sink merges — and the sink's committed state must
      // hash-equal the BASE table's oracle (a follower is correct iff
      // it converges to its source).
      val base = manifestFixture(s, dir, "manifest_stream_sink",
        withMerge = true)
      val sink = resetSideRoot(s, "manifest_stream_sink_out")
      val ckpt = resetSideRoot(s, "manifest_stream_sink_ckpt")
      val q = graft.streaming.CdcSource.readStream(s, base,
          Map("startingVersion" -> "earliest"))
        .filter(col("_change_type") =!= "update_preimage")
        .writeStream.format("graft-table")
        .option("root", sink).option("key", "id")
        .option("numBuckets", "32")
        .option("versionColumn", "_version")
        .option("deleteWhen", "_change_type = 'delete'")
        .option("dropColumns", "_change_type,_version")
        .option("checkpointLocation", ckpt)
        .start()
      try q.processAllAvailable() finally q.stop()
      graft.store.ManifestTable.read(s, sink)
    }),
    "manifest_sql_merge" -> ((s, dir) => {
      // SQL UPDATE + MERGE INTO on a catalog table (GraftDmlStrategy):
      // bulk insert, a predicate UPDATE, then a three-clause MERGE —
      // conditional DELETE of matched negatives, UPDATE referencing
      // both sides, INSERT of genuinely-new keys. The timed region is
      // the whole lifecycle; the read back hash-equals DuckDB's direct
      // recompute of the final state. Both statements are key-matched
      // merges underneath: cost ∝ touched buckets, one OCC commit per
      // statement (bucket-locality evidence in GraftDmlSpec).
      GraftExtensions.register(s)
      s.conf.set("spark.sql.catalog.graft", "graft.store.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft.warehouse",
        s"$fixtureDir/graft_warehouse")
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft.bench")
      s.sql("DROP TABLE IF EXISTS graft.bench.cust_dml")
      s.sql("""CREATE TABLE graft.bench.cust_dml
        (id BIGINT, name STRING, acctbal DOUBLE) USING graft
        TBLPROPERTIES ('key'='id', 'numBuckets'='16')""")
      s.read.parquet(s"$dir/customer.parquet")
        .selectExpr("c_custkey AS id", "c_name AS name",
          "CAST(c_acctbal AS DOUBLE) AS acctbal")
        .createOrReplaceTempView("dml_src")
      s.sql("INSERT INTO graft.bench.cust_dml SELECT * FROM dml_src")
      s.sql("""UPDATE graft.bench.cust_dml SET acctbal = acctbal + 100
        WHERE id % 7 = 0""")
      s.sql("""MERGE INTO graft.bench.cust_dml t
        USING (
          SELECT id, concat(name, '+') AS name, acctbal * 2 AS acctbal
          FROM dml_src WHERE id % 10 = 4
          UNION ALL
          SELECT id + 1000000 AS id, name, acctbal
          FROM dml_src WHERE id % 10 = 7) s
        ON t.id = s.id
        WHEN MATCHED AND t.acctbal < 0 THEN DELETE
        WHEN MATCHED THEN UPDATE SET name = s.name,
          acctbal = s.acctbal + t.acctbal
        WHEN NOT MATCHED THEN INSERT *""")
      s.sql("SELECT * FROM graft.bench.cust_dml")
    }),
    "manifest_sql_merge_path" -> ((s, dir) => {
      // The SAME DML lifecycle through the PATH faces — no catalog
      // registration of the table itself: the root rides a Delta-style
      // ``graft.`/path` `` identifier (UPDATE/MERGE resolve through the
      // one GraftDmlStrategy), and the UPDATE leg runs once through
      // graft_update, the catalog-free explicit-token table function
      // (its replay ledger makes the statement idempotent — the second
      // call must report applied=false). Hash-equals manifest_sql_merge's
      // oracle: two faces, one engine path, one final state.
      GraftExtensions.register(s)
      s.conf.set("spark.sql.catalog.graft", "graft.store.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft.warehouse",
        s"$fixtureDir/graft_warehouse")
      val root = s"$fixtureDir/graft_path_dml"
      resetSideRoot(s, "graft_path_dml")
      val t = s"graft.`$root`"
      s.sql(s"""CREATE TABLE $t (id BIGINT, name STRING, acctbal DOUBLE)
        USING graft TBLPROPERTIES ('key'='id', 'numBuckets'='16')""")
      s.read.parquet(s"$dir/customer.parquet")
        .selectExpr("c_custkey AS id", "c_name AS name",
          "CAST(c_acctbal AS DOUBLE) AS acctbal")
        .createOrReplaceTempView("dml_src_path")
      s.sql(s"INSERT INTO $t SELECT * FROM dml_src_path")
      val ddl = "id BIGINT, name STRING, acctbal DOUBLE"
      val applied = s.sql("SELECT * FROM graft_update(" +
        s"'$root', '$ddl', 'id % 7 = 0', 1, " +
        "'acctbal', 'acctbal + 100')").head.getBoolean(1)
      val replayed = s.sql("SELECT * FROM graft_update(" +
        s"'$root', '$ddl', 'id % 7 = 0', 1, " +
        "'acctbal', 'acctbal + 100')").head.getBoolean(1)
      require(applied && !replayed,
        "graft_update replay ledger must apply once")
      s.sql(s"""MERGE INTO $t t
        USING (
          SELECT id, concat(name, '+') AS name, acctbal * 2 AS acctbal
          FROM dml_src_path WHERE id % 10 = 4
          UNION ALL
          SELECT id + 1000000 AS id, name, acctbal
          FROM dml_src_path WHERE id % 10 = 7) s
        ON t.id = s.id
        WHEN MATCHED AND t.acctbal < 0 THEN DELETE
        WHEN MATCHED THEN UPDATE SET name = s.name,
          acctbal = s.acctbal + t.acctbal
        WHEN NOT MATCHED THEN INSERT *""")
      s.sql(s"SELECT * FROM $t")
    }),
    "manifest_bucket_join" -> ((s, dir) => {
      // CO-BUCKETED join: two manifest tables laid out on the same key
      // with the same bucket count join WITHOUT a shuffle (the format-8
      // bucket-id file names let the scan report Spark's own BucketSpec
      // — GraftFileIndexSpec pins the zero-Exchange plan). The driver
      // gate here is the VALUES: join of the merged customer state with
      // a per-customer orders rollup, hash-equal to DuckDB's join.
      val rootA = manifestFixture(s, dir, "manifest_scan", withMerge = true)
      val rootB = ordersSideTable(s, dir)
      GraftExtensions.register(s)
      val a = s.read.format("graft").load(rootA)
      val b = s.read.format("graft").load(rootB)
      a.join(b, "id")
        .select(col("id"), col("name"), col("segment"), col("n_orders"),
          col("total_d").cast(DoubleType).as("total_price"))
    }),
    "manifest_mv" -> ((s, dir) => {
      // PERSISTENT materialized view: the timed region is the base
      // MERGE + the view refresh + the committed view read — the
      // refresh reads the feed's touched buckets, prune-looks-up the
      // touched groups, and merges only their view buckets, with the
      // marker riding the view table's replay ledger. The bootstrap
      // (base fixture + view create) is benchSetups' job, guarded here
      // so Verify's standalone run stays self-contained. The committed
      // view hash-equals DuckDB's full group-by of the merged base
      // state (update preimages remove old values, so the min/max
      // lost-extremum path runs too).
      val root = manifestFixture(s, dir, "manifest_mv", withMerge = false)
      val vd = mvViewDef
      if (!sideReady.contains("manifest_mv_view")) {
        resetSideRoot(s, "manifest_mv_view")
        graft.store.MaterializedView.create(s, vd)
        sideReady += "manifest_mv_view"
      }
      val m = upsertMapping
      val projected = m.complete(upsertSchema).project(upsertSource(s, dir))
      graft.store.ManifestTable.merge(projected, 0L, m, root, upsertSchema)
      graft.store.MaterializedView.refresh(s, vd)
      graft.store.MaterializedView.read(s, vd)
        .select(col("segment"), col("n_rows"),
          col("sum_acctbal_d").cast(DoubleType).as("sum_acctbal"),
          col("min_acctbal"), col("max_acctbal"))
    }),
    "manifest_mv_multi" -> ((s, dir) => {
      // MULTI-column-group materialized view: same timed shape as
      // manifest_mv (base MERGE + refresh + committed read), but the
      // view groups by (segment, nation_g) — the view table keys on
      // the injective tuple encoding, and NULL nations take the
      // documented prep-coalesce path (-1). Hash-equals DuckDB's
      // two-column group-by of the merged base state.
      val root = manifestFixture(s, dir, "manifest_mv_multi",
        withMerge = false)
      val vd = mvMultiViewDef
      if (!sideReady.contains("manifest_mv_multi_view")) {
        resetSideRoot(s, "manifest_mv_multi_view")
        graft.store.MaterializedView.create(s, vd)
        sideReady += "manifest_mv_multi_view"
      }
      val m = upsertMapping
      val projected = m.complete(upsertSchema).project(upsertSource(s, dir))
      graft.store.ManifestTable.merge(projected, 0L, m, root, upsertSchema)
      graft.store.MaterializedView.refresh(s, vd)
      graft.store.MaterializedView.read(s, vd)
        .select(col("segment"), col("nation_g"), col("n_rows"),
          col("sum_acctbal_d").cast(DoubleType).as("sum_acctbal"),
          col("min_acctbal"), col("max_acctbal"))
    }),
    "manifest_index" -> ((s, dir) => {
      // Secondary index maintained from the CDC feed: the timed region
      // is the base DELETE + the index refresh + the committed index
      // read (bootstrap in benchSetups, guarded for Verify). The
      // refresh reads only the feed + the touched index rows and
      // rewrites only their buckets; the exploded (segment, id) result
      // hash-equals DuckDB's recompute of the post-delete state.
      val root = manifestFixture(s, dir, "manifest_index", withMerge = true)
      val ix = ixDef
      if (!sideReady.contains("manifest_index_idx")) {
        resetSideRoot(s, "manifest_index_idx")
        graft.store.SecondaryIndex.create(s, ix)
        sideReady += "manifest_index_idx"
      }
      graft.store.ManifestTable.delete(s, root, upsertSchema, "id",
        (1 to 10).map(_ * 13L), token = 5L)
      graft.store.SecondaryIndex.refresh(s, ix)
      graft.store.SecondaryIndex.read(s, ix)
        .select(col("segment"), explode(col("keys")).as("id"))
    }),
    "manifest_index_sharded" -> ((s, dir) => {
      // Same maintenance shape as manifest_index, but the index is
      // HOT-VALUE SHARDED (segment ≈ 2 values over the whole table →
      // two unbounded array rows without sharding): the timed region is
      // the base DELETE + feed refresh (touching only the deleted keys'
      // (value, shard) rows) + the shard-merged read-back. Result is
      // shard-transparent, so the oracle is manifest_index's.
      val root = manifestFixture(s, dir, "manifest_index_sharded",
        withMerge = true)
      val ix = ixShardedDef
      if (!sideReady.contains("manifest_index_sharded_idx")) {
        resetSideRoot(s, "manifest_index_sharded_idx")
        graft.store.SecondaryIndex.create(s, ix)
        sideReady += "manifest_index_sharded_idx"
      }
      graft.store.ManifestTable.delete(s, root, upsertSchema, "id",
        (1 to 10).map(_ * 13L), token = 5L)
      graft.store.SecondaryIndex.refresh(s, ix)
      graft.store.SecondaryIndex.read(s, ix)
        .select(col("segment"), explode(col("keys")).as("id"))
    }),
    "manifest_bloom" -> ((s, dir) => {
      // Bloom FILE SKIPPING on a non-key column: per-file xxhash64
      // Bloom sidecars over `name` let a point predicate read only the
      // buckets whose filters cannot rule the value out — no secondary
      // index table, no maintenance, just a build pass over new files.
      // benchSetups pre-builds fixture + filters, so the timed region
      // is the pruned point read alone. (Pruning is BUCKET-granular on
      // purpose: dropping one file of an LSM bucket could resurrect an
      // overridden row — see BloomSkip.)
      val root = manifestFixture(s, dir, "manifest_bloom",
        withMerge = true)
      if (!sideReady.contains("manifest_bloom_blooms")) {
        graft.store.BloomSkip.buildBlooms(s, root, upsertSchema,
          Seq("name"))
        sideReady += "manifest_bloom_blooms"
      }
      graft.store.BloomSkip.lookupByColumn(s, root, upsertSchema,
        "name", "Customer#000000042")
    }),
    "manifest_index_range" -> ((s, dir) => {
      // BETWEEN on a RANGE-layout index: benchSetups pre-applies
      // create + merge + index bootstrap + base delete + refresh, so
      // the bench number is the bucket-pruned range lookup alone —
      // index buckets overlapping [lo, hi] plus the matched base
      // buckets, never a full scan of either table. (Verify runs this
      // closure standalone: the guarded fixture build, token-replayed
      // delete and no-op refresh make it self-contained.)
      val root = manifestFixture(s, dir, "manifest_index_range",
        withMerge = true)
      val ix = ixRangeDef
      if (!sideReady.contains("manifest_index_range_idx")) {
        resetSideRoot(s, "manifest_index_range_idx")
        graft.store.SecondaryIndex.create(s, ix)
        sideReady += "manifest_index_range_idx"
      }
      graft.store.ManifestTable.delete(s, root, upsertSchema, "id",
        (1 to 10).map(_ * 13L), token = 5L) // replay no-op after setup
      graft.store.SecondaryIndex.refresh(s, ix) // no-op after setup
      graft.store.SecondaryIndex.lookupRange(s, ix,
        RangeProbeLo, RangeProbeHi)
        .select(col("id"), col("name"))
    }),
    "manifest_count" -> ((s, dir) => {
      // Metadata-only aggregate pushdown, through the DECLARATIVE face:
      // a plain `SELECT count(*)` over the DSv2 relation plans onto
      // GraftAggScan (SupportsPushDownAggregates) and answers from
      // the manifest's per-file row counts — zero data files read on
      // this all-compacted fixture, asserted here by plan shape (the
      // null-semantics / filter / grouping non-push legs live in
      // AggPushdownSpec). Hash-checked against DuckDB's count of the
      // same merged state.
      val root = manifestFixture(s, dir, "manifest_count", withMerge = true)
      GraftExtensions.register(s)
      val cnt = s.read.format("graft").load(root)
        .groupBy().count().select(col("count").as("n_rows"))
      require(cnt.queryExecution.executedPlan.toString
          .contains("GraftAggScan"),
        "count(*) must take the aggregate-pushdown scan")
      cnt
    }),
    "manifest_ttl" -> ((s, dir) => {
      // Declared ROW TTL (autoMaintain ttlColumn/ttlMs — r14): the
      // fixture plants far-past (2000) timestamps on id%3==1 rows and
      // far-future (2090) on the rest; declaring the policy expires
      // the over-age rows THROUGH THE COMMIT HOOK as key tombstones
      // (write ∝ expired rows) and the declared compaction folds them
      // in the same pass. The timed region prices the declaration
      // (expiry + fold + sidecar builds) plus the reconciled read;
      // DuckDB recomputes the surviving state closed-form. No-churn,
      // time-travel, CDC and refusal legs live in AutoTtlSpec.
      val root = ttlFixture(s, dir)
      graft.store.ManifestTable.autoMaintain(s, root,
        zones = Seq("ts"), compactFiles = 2,
        ttlColumn = "ts", ttlMs = 30L * 24 * 3600 * 1000)
      graft.store.ManifestTable.read(s, root, ttlSchema)
    }),
    "manifest_delete_where" -> ((s, dir) => {
      // Row-level DELETE by ARBITRARY predicate (deleteWhere — the SQL
      // `DELETE FROM t WHERE <non-key>` path), in the TOMBSTONE cost
      // class (r14): one pruned discovery scan reduces the predicate
      // to its matched keys, and the commit writes slim key-only
      // tombstone deltas instead of rewriting every candidate file —
      // write cost ∝ matched rows (the GDPR-erasure shape at 100 TB).
      // The read reconciles tombstones away; values hash-equal
      // DuckDB's recompute of the merged state minus the predicate's
      // rows. Locality/NULL/replay + the rewrite-mode legs live in
      // DeleteWhereSpec.
      val root = manifestFixture(s, dir, "manifest_delete_where",
        withMerge = true)
      graft.store.ManifestTable.deleteWhere(s, root, upsertSchema,
        d => d("segment") === "NEW" && d("acctbal") < 3000.0,
        token = 2L, delta = true)
      graft.store.ManifestTable.read(s, root, upsertSchema)
    }),
    "manifest_minmax" -> ((s, dir) => {
      // MIN/MAX aggregate pushdown from ZONE sidecars: after one zone
      // build, `SELECT count(*), min(acctbal), max(acctbal)` answers
      // entirely from metadata (plan-asserted GraftAggScan — zero data
      // files), hash-checked against DuckDB's real aggregation of the
      // merged state. The refusal legs (no zones, deltas, filters,
      // count(col) nulls) live in AggPushdownSpec.
      val root = manifestFixture(s, dir, "manifest_minmax",
        withMerge = true)
      graft.store.ZoneSkip.buildZones(s, root, upsertSchema,
        Seq("acctbal"))
      GraftExtensions.register(s)
      val df = s.read.format("graft").load(root)
        .agg(count(lit(1)).as("n_rows"),
          min(col("acctbal")).as("min_bal"),
          max(col("acctbal")).as("max_bal"))
      require(df.queryExecution.executedPlan.toString
          .contains("GraftAggScan"),
        "count/min/max must take the aggregate-pushdown scan")
      df
    }),
    "upsert_reject_nonnull" -> ((s, dir) =>
      runUpsert(s, dir, blankNames = true,
        nonNullable = Seq("name")).merged),
    // should_import-style ignore on id%13==2 exercises the `ignored`
    // counter (importtask.py:236-238,:303).
    "upsert_stats" -> ((s, dir) =>
      runUpsert(s, dir, ignoreWhen = Some(col("id") % 13 === 2)).stats),

    // --- dedup ---
    "dedup_exact" -> ((s, dir) => Dedup.exact(t(s, dir, "documents"))),
    "dedup_minhash" -> ((s, dir) => {
      val d = t(s, dir, "documents").select("doc_id", "text")
      // Guarantee near-dups exist: append perturbed copies (drop last word).
      // Plants are restricted to docs >=30 tokens: a drop-one-word pair
      // then shares >=96% of its shingles and b=8/r=8 banding recovers it
      // with certainty at any tested scale, while short docs sit on the
      // probabilistic recall boundary (at sf1, five 11-16-token plants
      // with J 0.89-0.93 land in no common band — correct LSH behavior,
      // not a recall bug, so they are out of the exactness contract).
      val copies = d
        .filter(col("doc_id") % 10 === 0 &&
          size(split(col("text"), " ")) >= 30)
        .select(
        (col("doc_id") + 10000000L).as("doc_id"),
        regexp_replace(col("text"), "\\s+\\S+$", "").as("text"))
      // r=8 rows/band: these synthetic docs share a tiny vocabulary, so
      // base pairwise Jaccard is ~0.2-0.3 and short bands would flood the
      // buckets (J^2 collisions); J^8 keeps candidates ~ true near-dups.
      // Planted-recovery projection: the oracle recomputes each planted
      // pair's EXACT shingle Jaccard in SQL, so a green row proves both
      // 100% LSH recall on the plants and exact verify agreement.
      Dedup.minhashLsh(d.union(copies), bands = 8, rowsPerBand = 8,
        threshold = 0.5)
        .filter(col("id_b") === col("id_a") + 10000000L)
        .select(col("id_a"), col("id_b"), col("jaccard"))
    }),
    "dedup_simhash" -> ((s, dir) => {
      val d = t(s, dir, "documents").select("doc_id", "text")
      // Normalization-invariant plants: uppercasing + trailing punctuation
      // leave the token sequence unchanged, so the planted copy's simhash
      // is bit-identical (hamming 0) and chunk banding MUST recover it —
      // an exactly checkable invariant (raw texts differ, so exact dedup
      // would not catch these).
      val copies = d.filter(col("doc_id") % 10 === 0).select(
        (col("doc_id") + 10000000L).as("doc_id"),
        concat(upper(col("text")), lit(" ... !!!")).as("text"))
      Dedup.simhashDups(d.union(copies), maxHamming = 3)
        .filter(col("id_b") === col("id_a") + 10000000L)
        .select(col("id_a"), col("id_b"), col("hamming"))
    }),

    "curate_corpus" -> ((s, dir) =>
      Curate(t(s, dir, "documents"), minQuality = 0.6, langs = Seq("en"))),
    "dedup_substrings" -> ((s, dir) => {
      // Exact-substring dedup: every doc_id%40==0 doc gets the same
      // 30-token banner prepended — longer than k=10, so its overlapping
      // duplicate windows must cut it everywhere except the first
      // occurrence; natural cross-doc repeats in the synthetic corpus
      // dedup the same way on both sides (the oracle replays the
      // mechanism by true window text, making the 64-bit window hash
      // collision-checked too).
      val d = t(s, dir, "documents").filter(col("doc_id") % 20 === 0)
        .select(col("doc_id"),
          when(col("doc_id") % 40 === 0,
            concat(lit(SubstringBanner + " "), col("text")))
            .otherwise(col("text")).as("text"))
      Curate.dedupSubstrings(d, k = 10)
    }),
    "revenue_by_region" -> ((s, dir) => {
      // TPC-H Q5-shaped star join: facts shuffle once on the customer
      // key; the nation/region dimensions BROADCAST (explicitly — at
      // 100 TB they are KBs while orders is the 100 TB side). DECIMAL
      // accumulation for cross-engine bit-stable sums.
      val r = t(s, dir, "region"); val n = t(s, dir, "nation")
      val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
      val price = col("o_totalprice").cast(DecimalType(18, 2))
      o.join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(sum(price).cast(DoubleType).as("revenue"),
          count(lit(1)).as("n_orders"))
    }),
    "orders_moving_sum" -> ((s, dir) => {
      // RANGE-frame window: per-customer trailing-7-day revenue. The
      // frame is a TIME range over the order timestamp (peers included),
      // not a row count — Spark's interval RANGE frame via expr (the
      // Scala Window API only takes numeric offsets).
      t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
        expr("""CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
            PARTITION BY o_custkey ORDER BY o_orderdate
            RANGE BETWEEN INTERVAL 7 DAYS PRECEDING AND CURRENT ROW)
          AS DOUBLE)""").as("mv_sum"))
    }),
    "text_repetition" -> ((s, dir) => {
      // Plant line structure deterministically (the synthetic docs are
      // single-line): every third doc gains a repeated BOILER line, a
      // blank separator, and a repeated body paragraph; others a unique
      // suffix line. DuckDB reconstructs the identical text and signals.
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val planted = when(col("doc_id") % 3 === 0,
        concat(col("text"), lit("\nBOILER\nBOILER\n\n"), col("text")))
        .otherwise(concat(col("text"), lit("\nuq-"),
          col("doc_id").cast(StringType)))
      TextAnalysis.repetition(d.withColumn("text", planted))
        .filter(col("doc_id") % 10 === 0)
    }),
    "text_chunk" -> ((s, dir) => {
      // Context-window chunking: 16-token windows, 4-token overlap
      // (stride 12); DuckDB rebuilds the identical windows from the same
      // whitespace split.
      val d = t(s, dir, "documents").filter(col("doc_id") % 20 === 0)
        .select(col("doc_id"), col("text"))
      TextAnalysis.chunk(d, chunkTokens = 16, overlapTokens = 4)
    }),
    "dsir_score" -> ((s, dir) => {
      // DSIR importance vs the English slice: target = lang='en' docs,
      // background = the whole corpus. Bucketed integer log-ratio
      // weights; scores are exact integer sums, so DuckDB reproduces
      // them bit-for-bit.
      val d = t(s, dir, "documents")
      val w = Dsir.weights(d.filter(col("lang") === "en"), d)
      Dsir.score(d, w)
    }),
    "bpe_encode" -> ((s, dir) => {
      // BPE subword encoding under a FIXED literal merge table (rank =
      // list position), so DuckDB can replay the exact merge semantics
      // with a recursive CTE: per word, repeatedly merge the FIRST
      // occurrence of the lowest-ranked adjacent pair. The merges chain
      // ("table" resolves e</w> → le</w> → ta → tab → table</w>), so a
      // green hash proves rank priority, first-occurrence choice, and
      // the chained-merge fixpoint all match. Training itself is
      // driver-side over a bounded word dict (BpeSpec pins the classic
      // Sennrich merge sequence).
      val model = Bpe.BpeModel(Seq(("e", "</w>"), ("l", "e</w>"),
        ("t", "a"), ("ta", "b"), ("tab", "le</w>"), ("a", "t")))
      t(s, dir, "documents")
        .select(col("doc_id"), Bpe.encode(col("text"), model).as("_t"))
        .select(col("doc_id"),
          size(col("_t")).cast(LongType).as("n_bpe"),
          concat_ws(" ", col("_t")).as("bpe_text"))
    }),
    "lm_score" -> ((s, dir) => {
      // CCNet-style perplexity gate: a bigram stupid-backoff LM trained
      // on the src0 slice scores the whole corpus. Bucketed counts +
      // integer milli-nat costs (the DSIR discipline), so DuckDB
      // reproduces every score bit-for-bit.
      val d = t(s, dir, "documents")
      val model = NgramLm.train(d.filter(col("source") === "src0"))
      NgramLm.score(d, model)
    }),
    "dedup_lines" -> ((s, dir) => {
      // Plant cross-document boilerplate: every doc gains a SHARED
      // HEADER line and a footer shared by its doc_id%5 class. Only the
      // first occurrence of each distinct line (smallest doc, position)
      // survives; DuckDB recomputes by true line equality.
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val planted = concat(lit("SHARED HEADER\n"), col("text"),
        lit("\nFOOTER-"), (col("doc_id") % 5).cast(StringType))
      Curate.dedupLines(d.withColumn("text", planted))
    }),
    "mixture_sample" -> ((s, dir) => {
      // Training-mix draw: even-numbered sources weighted 8%, odd 2%,
      // sources 18/19 left out of the mix entirely; 20k-char budget
      // filled per source in md5 order — engine-independent, so DuckDB
      // reproduces the identical sample.
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
      val weights = (0 until 18)
        .map(i => s"src$i" -> (if (i % 2 == 0) 0.08 else 0.02)).toMap
      Curate.mixtureSample(d, weights, budget = 20000L, salt = "mix1")
    }),
    "cap_per_source" -> ((s, dir) => {
      // Per-domain cap: at most 5 docs per source, largest first — the
      // window ranks a slim (id, source, n_chars) frame; text joins back
      // by id (same discipline as mixture_sample, plan-asserted there).
      Curate.capPerKey(
        t(s, dir, "documents").select("doc_id", "source", "n_chars"),
        n = 5)
    }),
    "hash_split" -> ((s, dir) => {
      // Deterministic 90/10 train/validation split: a doc's fate depends
      // only on md5(doc_id || salt), reproducible in any engine — DuckDB
      // recomputes the identical assignment.
      val d = t(s, dir, "documents").select(col("doc_id"))
      Curate.hashSplit(d, 0.0, 0.9, salt = "v1")
        .withColumn("split", lit("train"))
        .union(Curate.hashSplit(d, 0.9, 1.0, salt = "v1")
          .withColumn("split", lit("valid")))
    }),
    "decontaminate" -> ((s, dir) => {
      // Benchmark decontamination: every doc sharing a word 3-gram with
      // the "evaluation set" (doc_id%17==3) is dropped; DuckDB recomputes
      // the contaminated set exactly from the same shingle definition.
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val bench = d.filter(col("doc_id") % 17 === 3)
      Curate.decontaminate(d, bench, n = 3).select("doc_id")
    }),
    "decontaminate_bloom" -> ((s, dir) => {
      // Same contamination semantics through the bloom-prefilter scale
      // path (false positives killed by the exact verify join), so the
      // oracle is decontaminate's — at a deliberately high 20% fpp to
      // prove false positives cannot leak into the result.
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val bench = d.filter(col("doc_id") % 17 === 3)
      Curate.decontaminateBloom(d, bench, n = 3, fpp = 0.2)
        .select("doc_id")
    }),
    "source_overlap" -> ((s, dir) => {
      // The minhash estimate (the scale path) is checked against the EXACT
      // per-source shingle-set Jaccard, which DuckDB recomputes
      // independently; est_ok bounds the estimator error (64 hashes →
      // σ ≤ 0.0625, tolerance 0.2 > 3σ).
      val d = t(s, dir, "documents")
      val est = Dedup.groupOverlap(d, "source", numHashes = 64)
      val exact = Dedup.groupOverlapExact(d, "source")
      exact.join(est, Seq("group_a", "group_b"))
        .select(col("group_a"), col("group_b"), col("exact_jaccard"),
          (abs(col("est_jaccard") - col("exact_jaccard")) <= 0.2)
            .as("est_ok"))
    }),
    "dedup_best" -> ((s, dir) => {
      // Quality-aware cluster representative: same exact-dup components
      // as dedup_canonical, scored by a deterministic pseudo-quality
      // (doc_id mod 7) so the copies outrank their originals in some
      // clusters and DuckDB can recompute the identical arg-max.
      val d = t(s, dir, "documents").select("doc_id", "text")
      val copies = d.filter(col("doc_id") % 10 === 0).select(
        (col("doc_id") + 10000000L).as("doc_id"), col("text"))
      val all = d.union(copies)
      val groups = all.groupBy(md5(col("text")).as("h"))
        .agg(min(col("doc_id")).as("keep_id"))
      val pairs = all.join(groups, md5(col("text")) === col("h"))
        .filter(col("doc_id") =!= col("keep_id"))
        .select(col("keep_id").as("id_a"), col("doc_id").as("id_b"),
          lit(1.0).as("jaccard"))
      val assign = Dedup.canonicalizeFixpoint(all, pairs)
      // integer score so the (score, tie-break) ordering is exact in
      // both engines: bestPerCluster's struct ordering on Spark's side,
      // the equivalent packed q*1e9 - doc_id on DuckDB's
      val scores = all.select(col("doc_id"),
        pmod(col("doc_id"), lit(7L)).as("quality_score"))
      Dedup.bestPerCluster(assign, scores)
        .filter(col("cluster_size") > 1)
    }),
    "dedup_canonical" -> ((s, dir) => {
      // Exact-duplicate components: docs plus verbatim copies; pairs from
      // the content-hash groups; transitive canonical assignment.
      val d = t(s, dir, "documents").select("doc_id", "text")
      val copies = d.filter(col("doc_id") % 10 === 0).select(
        (col("doc_id") + 10000000L).as("doc_id"), col("text"))
      val all = d.union(copies)
      val groups = all.groupBy(md5(col("text")).as("h"))
        .agg(min(col("doc_id")).as("keep_id"))
      val pairs = all.join(groups, md5(col("text")) === col("h"))
        .filter(col("doc_id") =!= col("keep_id"))
        .select(col("keep_id").as("id_a"), col("doc_id").as("id_b"),
          lit(1.0).as("jaccard"))
      Dedup.canonicalizeFixpoint(all, pairs)
    }),
    "dup_components" -> ((s, dir) => {
      // TRUE connected components over an adversarial pair plant: each
      // 10-doc block is a path visited in scrambled residue order
      // (0→5→2→7→4→9→1→6→3→8), so the edge list is full of V-shapes
      // where a node's every partner is larger than itself — the shape
      // banding emits and the min-partner pointer chase canonicalize()
      // cannot close. DuckDB recomputes reachability from the SAME edge
      // rule with a recursive CTE; expected label = the block minimum.
      val d = t(s, dir, "documents").select(col("doc_id"))
      val r = col("doc_id") % 10
      val nxt = when(r === 0, 5).when(r === 5, 2).when(r === 2, 7)
        .when(r === 7, 4).when(r === 4, 9).when(r === 9, 1)
        .when(r === 1, 6).when(r === 6, 3).when(r === 3, 8)
      val edges = d.filter(r =!= 8).select(
        col("doc_id").as("id_a"),
        (col("doc_id") - r + nxt).cast("long").as("id_b"))
      ConnectedComponents.components(edges)
    }),

    // --- similarity ---
    "ann_brute" -> ((s, dir) => {
      // Exact top-k is fully SQL-semantic: the DuckDB oracle recomputes
      // the same cosine ranking (ranks only — float-vs-double cosine
      // values are engine-specific, the ORDER is not at these gaps).
      val e = t(s, dir, "embeddings")
      Similarity.bruteTopK(e, e.filter(col("vec_id") % 100 === 0), k = 5)
        .select("query_id", "vec_id", "rank")
    }),
    "ann_lsh" -> ((s, dir) => annPlantedRecovery(s, dir,
      (c, q) => Similarity.lshTopK(c, q, k = 5, planes = 6))),
    "ann_multiprobe" -> ((s, dir) => annPlantedRecovery(s, dir,
      (c, q) => Similarity.lshTopKMultiProbe(c, q, k = 5, planes = 6))),
    "ann_ivf" -> ((s, dir) => annPlantedRecovery(s, dir,
      (c, q) => Similarity.ivfTopK(c, q, k = 5, nlist = 16, nprobe = 4))),
    "ann_pq" -> ((s, dir) => {
      // Product-quantization pipeline end-to-end with exactly-checkable
      // invariants: PQ codes are computed on the L2-NORMALIZED vector, so
      // a positively-scaled plant encodes to byte-identical codes as its
      // query (codes_match TRUE for every query), and ADC top-k over the
      // corpus+plants returns exactly k rows per query.
      val e = t(s, dir, "embeddings").select("vec_id", "embedding")
      val queries = e.filter(col("vec_id") % 100 === 0)
      val plants = queries.select(
        (col("vec_id") + 10000000L).as("vec_id"),
        transform(col("embedding"), x => x * lit(1.1f)).as("embedding"))
      val cb = Pq.train(e, m = 8, ksub = 16, iters = 1)
      val qCodes = Pq.encode(queries, cb)
        .select(col("vec_id").as("query_id"), col("codes").as("qc"))
      val pCodes = Pq.encode(plants, cb)
        .select((col("vec_id") - 10000000L).as("query_id"),
          col("codes").as("pc"))
      val top = Pq.topK(e.union(plants), queries, cb, k = 5)
        .groupBy("query_id").agg(count(lit(1)).as("n_results"))
      qCodes.join(pCodes, "query_id").join(top, "query_id")
        .select(col("query_id"),
          (col("qc") === col("pc")).as("codes_match"),
          col("n_results"))
    }),
    "ann_ivfpq" -> ((s, dir) => {
      // Composed IVF×PQ with exactly-checkable invariants: both the
      // coarse cell (cosine argmax) and the PQ codes are computed on the
      // normalized vector, so a positively-scaled plant lands in its
      // query's cell with its query's codes; and the probed cells always
      // hold >= k candidates at these SFs, so ADC top-k is exactly k rows.
      val e = t(s, dir, "embeddings").select("vec_id", "embedding")
      val queries = e.filter(col("vec_id") % 100 === 0)
      val plants = queries.select(
        (col("vec_id") + 10000000L).as("vec_id"),
        transform(col("embedding"), x => x * lit(1.1f)).as("embedding"))
      val cb = Pq.train(e, m = 8, ksub = 16, iters = 1)
      val centroids = e.orderBy(xxhash64(col("vec_id")), col("vec_id"))
        .limit(16)
        .select(col("vec_id").as("cid"), col("embedding").as("cemb"))
      val (cids, cents) = Similarity.collectCentroids(centroids)
      def cellOf(df: DataFrame, idShift: Long): DataFrame = df.select(
        (col("vec_id") - idShift).as("query_id"),
        element_at(Similarity.nearestCells(col("embedding"), cids, cents, 1),
          1).as(if (idShift == 0L) "qcell" else "pcell"),
        Pq.codesCol(col("embedding"), cb)
          .as(if (idShift == 0L) "qc" else "pc"))
      val top = Pq.ivfPqTopK(e.union(plants), queries, cb, k = 5,
          nlist = 16, nprobe = 4, trainedCentroids = Some(centroids))
        .groupBy("query_id").agg(count(lit(1)).as("n_results"))
      cellOf(queries, 0L).join(cellOf(plants, 10000000L), "query_id")
        .join(top, "query_id")
        .select(col("query_id"),
          (col("qcell") === col("pcell")).as("cell_match"),
          (col("qc") === col("pc")).as("codes_match"),
          col("n_results"))
    }),
    "embed_dups" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").select("vec_id", "embedding")
      // Guarantee near-dups: scaled copies (cosine 1.0 with originals;
      // positive scaling preserves hyperplane signs, so LSH recovery of
      // every plant is deterministic). Max natural pair cosine in this
      // table is ~0.51, so the planted pairs are exactly the rows above
      // the 0.999 threshold — an exhaustively checkable output.
      val copies = e.filter(col("vec_id") % 20 === 0).select(
        (col("vec_id") + 10000000L).as("vec_id"),
        transform(col("embedding"), x => x * lit(1.1f)).as("embedding"))
      // planes self-scale (⌈log₂N⌉−4, Similarity.autoPlanes) — recovery
      // of the scaled plants is deterministic at ANY plane count (sign
      // patterns are scale-invariant), so the oracle is planes-free
      Similarity.cosineDups(e.union(copies), threshold = 0.999)
        .select("id_a", "id_b")
    }),
    "semdedup" -> ((s, dir) => {
      // SemDeDup (cluster-then-compare) planted oracle: a positively
      // scaled copy is cosine-1.0 with its original AND lands in the
      // original's k-means cell (the assignment argmax is
      // scale-invariant), so with the max natural pair at ~0.51 the
      // near-dup components are exactly {original, plant} and the min-id
      // canonical of every plant is its original; every other vector
      // keeps itself.
      val e = t(s, dir, "embeddings").select("vec_id", "embedding")
      val copies = e.filter(col("vec_id") % 20 === 0).select(
        (col("vec_id") + 10000000L).as("vec_id"),
        transform(col("embedding"), x => x * lit(1.1f)).as("embedding"))
      Similarity.semDedup(e.union(copies), threshold = 0.999, nlist = 16)
    }),

    // --- text analysis ---
    "text_tokens" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      d.select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_ws_tokens"),
        TextAnalysis.bpeTokenCount(col("text")).as("n_bpe_tokens"))
    }),
    "text_langid" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      d.select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_pred"))
    }),
    "text_quality" -> ((s, dir) =>
      TextAnalysis.quality(t(s, dir, "documents"), col("text"))),
    "warc_source" -> ((s, dir) => {
      // WARC ingestion end-to-end in the COMMON CRAWL layout (r15:
      // record-gzipped members — WarcParse.gzip/members/member →
      // records → HtmlExtract): each document is planted as a
      // two-member warc.gz (a gzipped warcinfo record + a gzipped
      // response whose body wraps the sanitized text in HTML); the
      // member INDEX delimits the compressed ranges, each member
      // inflates independently (the per-record bound replacing the
      // whole-file cap), and the response member's record flows
      // through the HTML kernel. Everything the oracle sees is
      // closed-form from the document text — DuckDB recomputes it
      // without parsing anything. Malformed-input, bomb-cap and
      // member-boundary vectors live in WarcParseSpec.
      val d = t(s, dir, "documents")
      val id = col("doc_id").cast("string")
      val safe = regexp_replace(col("text"), "[<>&]", " ")
      val html = concat(lit("<html><body><h1>Doc "), id,
        lit("</h1><p>"), safe, lit("</p></body></html>"))
      val info = lit("WARC/1.0\r\nWARC-Type: warcinfo\r\nWARC-Record-ID: " +
        "<urn:uuid:info>\r\nContent-Type: application/warc-fields" +
        "\r\nContent-Length: 9\r\n\r\nversion 1\r\n\r\n").cast("binary")
      val resp = concat(
        lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: " +
          "http://example.com/doc/"), id,
        lit("\r\nWARC-Record-ID: <urn:uuid:"), id,
        lit(">\r\nContent-Type: text/html\r\nContent-Length: "),
        octet_length(html).cast("string"),
        lit("\r\n\r\n"), html, lit("\r\n\r\n")).cast("binary")
      // the record-gzip plant: two members, one record each. The warc
      // bytes, the member index, the inflated response member and its
      // parsed record each materialize as their OWN projection, so
      // every downstream face references a bound attribute instead of
      // re-running the interpreted kernel per reference (the HOF
      // re-evaluation discipline).
      val staged = d
        .select(col("doc_id"),
          concat(WarcParse.gzip(info), WarcParse.gzip(resp)).as("_warc"))
        .select(col("doc_id"), col("_warc"),
          WarcParse.members(col("_warc")).as("_members"))
        .select(col("doc_id"), col("_members"),
          WarcParse.member(col("_warc"), element_at(col("_members"), 2))
            .as("_respm"))
        .select(col("doc_id"), col("_members"), col("_respm"),
          element_at(WarcParse.records(col("_respm")), 1).as("_rec"))
      staged.select(col("doc_id"),
        size(col("_members")).cast("long").as("n_members"),
        col("_rec").getField("target_uri").as("uri"),
        HtmlExtract.text(col("_respm")
            .substr(col("_rec").getField("offset").cast("int") + lit(1),
              col("_rec").getField("length").cast("int"))
            .cast("string")).as("page_text"))
    }),
    "text_html" -> ((s, dir) => {
      // HTML → text extraction (HtmlExtract — the web-corpus ingestion
      // staple): markup is PLANTED around each document's body in
      // closed form (title/h1/p/script/style/comments/entities/an
      // anchor), so DuckDB recomputes the expected extraction with
      // string functions alone. The body is sanitized of [<>&] first —
      // that is what makes the oracle closed-form, not a kernel
      // limitation (malformed-markup vectors live in HtmlExtractSpec).
      // Link-density evidence rides as raw per-block char counts
      // (integers hash exactly; a rounded ratio would not).
      val d = t(s, dir, "documents")
      val id = col("doc_id").cast("string")
      val safe = regexp_replace(col("text"), "[<>&]", " ")
      val html = concat(
        lit("<html><head><title>Doc "), id,
        lit("</title><style>p { 1 < 2 }</style></head>"),
        lit("<!-- planted <p>markup</p> --><body><h1>Heading "), id,
        lit("</h1>\n<p>"), safe,
        lit("</p><script>var x = 1 < 2;</script><div><a href=\"/d?id="),
        id, lit("&amp;v=1\">see &quot;doc&quot; "), id,
        lit("</a> &amp; more</div></body></html>"))
      val blocks = HtmlExtract.blocks(html)
      val last = element_at(blocks, -1)
      d.select(col("doc_id"),
        size(blocks).cast("long").as("n_blocks"),
        HtmlExtract.text(html).as("extracted"),
        last.getField("link_chars").as("nav_link_chars"),
        last.getField("chars").as("nav_chars"))
    }),
    "sitemap_source" -> ((s, dir) => {
      // Sitemap parse (Sitemap — the crawl-frontier complement to
      // robots_gate, whose Sitemap: lines point here): docs plant a
      // sitemapindex (doc_id%7==0: two child-sitemap entries, the
      // recurse signal) or a urlset with doc_id%3+1 url entries
      // carrying lastmod/priority — every field closed-form for
      // DuckDB. Entity/CDATA/malformed vectors live in SitemapSpec.
      val d = t(s, dir, "documents")
      val id = col("doc_id").cast("string")
      def urlEntry(k: Int): Column =
        when(col("doc_id") % 3 >= lit(k),
          concat(lit("<url><loc>https://x.test/d"), id,
            lit(s"/p$k</loc><lastmod>2025-01-0${k + 1}</lastmod>" +
              s"<priority>0.$k</priority></url>")))
          .otherwise(lit(""))
      val xml = when(col("doc_id") % 7 === 0,
        concat(lit("<sitemapindex><sitemap><loc>https://x.test/sm"), id,
          lit("-a.xml</loc><lastmod>2025-02-01</lastmod></sitemap>" +
            "<sitemap><loc>https://x.test/sm"), id,
          lit("-b.xml</loc></sitemap></sitemapindex>")))
        .otherwise(concat(lit("<urlset>"),
          urlEntry(0), urlEntry(1), urlEntry(2), lit("</urlset>")))
      val staged = d.select(col("doc_id"),
        Sitemap.entries(xml).as("_e"))
      staged.select(col("doc_id"),
        size(col("_e")).cast("long").as("n_entries"),
        element_at(col("_e"), 1).getField("kind").as("kind"),
        element_at(col("_e"), 1).getField("loc").as("first_loc"),
        element_at(col("_e"), 1).getField("priority").as("first_prio"))
    }),
    "html_links" -> ((s, dir) => {
      // Outlink extraction (LinkExtract — the crawl-edge emitter): each
      // doc plants a page at a doc_id-derived base URL whose markup
      // exercises every resolution class (absolute with &amp; entity,
      // scheme-relative, root-relative, ../ climb, sibling+query,
      // rel=nofollow) plus three NON-edges (javascript:, fragment-only,
      // bare <a name>) that must not emit. Six links per doc, every
      // field closed-form for DuckDB. Malformed-markup vectors live in
      // LinkExtractSpec.
      val d = t(s, dir, "documents")
      val id = col("doc_id").cast("string")
      val base = concat(lit("https://h"), (col("doc_id") % 5).cast("string"),
        lit(".example.com/dir/page"), id, lit(".html?s=1"))
      val html = concat(
        lit("<p>Pre <a href=\"https://abs.test/x?b=2&amp;a=1\">Abs " +
          "<b>Link</b></a> <a href='//cdn.test/lib'>proto</a> " +
          "<a href=\"/root/doc"), id,
        lit(".html\">root</a> <a href=\"../up/"), id,
        lit("\">up</a> <a href=\"sib"), id,
        lit("?x=2\">sib</a> <a rel=\"nofollow ugc\" href=\"spon"), id,
        lit("\">spon</a> <a href=\"javascript:void(0)\">js</a> " +
          "<a href=\"#frag\">frag</a> <a name=\"x\">bare</a></p>"))
      d.select(col("doc_id"),
          posexplode(LinkExtract.links(html, base)).as(Seq("pos", "l")))
        .select(col("doc_id"), (col("pos") + 1).cast("long").as("link_no"),
          col("l.url").as("url"), col("l.anchor").as("anchor"),
          col("l.nofollow").as("nofollow"))
    }),
    "blocklist_gate" -> ((s, dir) => {
      // Aho–Corasick blocklist gate (MultiMatch): ONE scan for the whole
      // phrase list instead of one contains() pass per pattern. Planted
      // suffixes exercise multi-hit counting and the phrase (space)
      // pattern; patterns are borderless (no proper prefix = suffix), so
      // occurrences cannot self-overlap and DuckDB's non-overlapping
      // replace-count equals the automaton's all-occurrences count.
      // Overlap/failure-link vectors live in MultiMatchSpec.
      val pats = Seq("casino", "lottery", "free money")
      val d = t(s, dir, "documents")
      val planted = concat(col("text"),
        when(col("doc_id") % 3 === 0, lit(" casino free money casino"))
          .when(col("doc_id") % 3 === 1, lit(" lottery"))
          .otherwise(lit("")))
      d.select(col("doc_id"),
        MultiMatch.count(planted, pats).as("n_hits"),
        MultiMatch.any(planted, pats).as("blocked"))
    }),
    "crawl_frontier" -> ((s, dir) => {
      // THE FRONT-DOOR RECIPE, pinned as a driver gate: outlink
      // extraction (LinkExtract) → per-HOST robots.txt gate (parse once
      // per host, broadcast to URLs — the RobotsTxt engine shape) →
      // URL canonicalization (UrlOps.normalize) → global URL dedup →
      // per-registered-domain cap (Curate.capPerKey, md5-priority so
      // both engines rank identically). Same page plant as html_links;
      // hosts h0/h2/h4 disallow /up/ so the robots leg provably drops
      // rows; every surviving URL is closed-form for DuckDB.
      val d = t(s, dir, "documents")
      val id = col("doc_id").cast("string")
      val base = concat(lit("https://h"), (col("doc_id") % 5).cast("string"),
        lit(".example.com/dir/page"), id, lit(".html?s=1"))
      val html = concat(
        lit("<p><a href=\"https://abs.test/x?b=2&amp;a=1\">Abs</a> " +
          "<a href='//cdn.test/lib'>proto</a> " +
          "<a href=\"/root/doc"), id,
        lit(".html\">root</a> <a href=\"../up/"), id,
        lit("\">up</a> <a href=\"sib"), id,
        lit("?x=2\">sib</a> <a rel=\"nofollow\" href=\"spon"), id,
        lit("\">spon</a></p>"))
      val links = d
        .select(explode(LinkExtract.links(html, base)).as("l"))
        .filter(!col("l.nofollow"))
        .select(col("l.url").as("raw_url"))
      val robots = links
        .select(UrlOps.host(col("raw_url")).as("thost")).distinct()
        .withColumn("robots_txt",
          when(col("thost").rlike("^h[024]\\.example\\.com$"),
            lit("User-agent: *\nDisallow: /up/\n")).otherwise(lit("")))
        .select(col("thost"),
          RobotsTxt.rules(col("robots_txt"), lit("graftbot")).as("r"))
      val gated = links
        .select(col("raw_url"), UrlOps.host(col("raw_url")).as("thost"),
          UrlOps.parts(col("raw_url")).getField("path").as("tpath"))
        .join(broadcast(robots), "thost")
        .filter(RobotsTxt.allowed(col("r"), col("tpath")))
      val normed = gated.select(
          UrlOps.normalize(col("raw_url")).as("url"),
          UrlOps.registeredDomain(col("raw_url")).as("domain"))
        .dropDuplicates("url")
        .withColumn("pri", md5(col("url")))
      Curate.capPerKey(normed, n = 100, keyCol = "domain",
          orderCol = "pri", idCol = "url")
        .select(col("url"), col("domain"), col("rank"))
    }),
    "pagerank_hosts" -> ((s, dir) => {
      // Exact fixed-point PageRank (LinkGraph) over a deterministic
      // planted host graph: hosts = doc_id%40, two affine edge families
      // (7d+3, 13d+11 mod 40), hosts ≡7 (mod 10) stripped of out-edges
      // so the dangling-mass teleport is exercised. Integer micro-unit
      // arithmetic end to end — DuckDB replays the identical update
      // chain unrolled 4 iterations and the hashes must match BITWISE
      // (the reason this operator refuses floating point).
      val d = t(s, dir, "documents").select(col("doc_id"))
      val e = d.select((col("doc_id") % 40).as("src"),
          ((col("doc_id") * 7 + 3) % 40).as("dst"))
        .union(d.select((col("doc_id") % 40).as("src"),
          ((col("doc_id") * 13 + 11) % 40).as("dst")))
        .filter(col("src") % 10 =!= 7)
      LinkGraph.pagerank(e, iters = 4)
        .select(col("node").as("host"), col("rank"))
    }),
    "text_clean" -> ((s, dir) => {
      // Unicode normalization (UnicodeClean — the hash-honest pre-step
      // before exact/near dedup): every doc gains a planted suffix of
      // byte-distinct-but-equivalent spellings (NFD e+combining-acute,
      // curly quotes, em dash, ellipsis, NBSP, zero-width) whose
      // cleaned form is one closed-form ASCII+é literal for DuckDB.
      // The document text itself is printable ASCII (NFC fast path) so
      // it passes through byte-identical.
      val d = t(s, dir, "documents")
      val planted = concat(col("text"),
        lit(" cafe\u0301 \u201Cq\u201D\u2026 \u2014 a\u200B\u00A0b"))
      d.select(col("doc_id"),
        UnicodeClean.clean(planted).as("cleaned"))
    }),
    "content_sniff" -> ((s, dir) => {
      // Content sniffing (ContentSniff — the byte-honest front of the
      // WARC path): each document plants leading bytes for a different
      // MIME family by doc_id%6 (magic table, tag prescan, plain-text
      // fallthrough) plus a windows-1252 body whose declared charset
      // must recover é (0xE9) and € (0x80 — absent from latin1, real
      // in cp1252). The documents text is pure printable ASCII (its
      // UTF-8 bytes are their own cp1252 decode), so DuckDB recomputes
      // both columns closed-form. Byte vectors live in
      // ContentSniffSpec.
      val d = t(s, dir, "documents")
      val txt = encode(col("text"), "UTF-8")
      def b(xs: Int*): Column = lit(xs.map(_.toByte).toArray)
      val planted = when(col("doc_id") % 6 === 0,
          concat(b(0xFF, 0xD8, 0xFF, 0xE0), txt))
        .when(col("doc_id") % 6 === 1,
          concat(b(0x89, 'P', 'N', 'G', '\r', '\n', 0x1A, 0x0A), txt))
        .when(col("doc_id") % 6 === 2,
          concat(encode(lit("%PDF-1.4 "), "UTF-8"), txt))
        .when(col("doc_id") % 6 === 3,
          encode(concat(lit("<html><body>"), col("text")), "UTF-8"))
        .when(col("doc_id") % 6 === 4,
          encode(concat(lit("T: "), col("text")), "UTF-8"))
        .otherwise(concat(b(0x1F, 0x8B, 0x08, 0x00), txt))
      val cpBody = concat(
        encode(concat(lit("<meta charset=windows-1252><p>"), col("text")),
          "UTF-8"),
        b(0xE9, 0x80))
      d.select(col("doc_id"),
        ContentSniff.mime(planted).as("mime"),
        ContentSniff.decodeText(cpBody).as("decoded"))
    }),
    "robots_gate" -> ((s, dir) => {
      // robots.txt gate (RobotsTxt — RFC 9309, the pre-fetch politeness
      // complement to html_noindex): each document plants a robots.txt
      // exercising group selection (specific agent over *), rule
      // precedence (longest wins, $ anchor) and crawl-delay, plus a
      // doc-derived path hitting a different branch by doc_id%4 — all
      // closed-form for DuckDB. Pattern/bound vectors live in
      // RobotsTxtSpec.
      val d = t(s, dir, "documents")
      val dig = (col("doc_id") % 10).cast("string")
      val robots = concat(
        lit("User-agent: graftbot\nDisallow: /private/\nAllow: " +
          "/private/doc"), dig, lit("$\nCrawl-delay: "),
        (col("doc_id") % 3 + 1).cast("string"),
        lit("\nSitemap: https://x.test/s.xml\n" +
          "User-agent: *\nDisallow: /\n"))
      val path = when(col("doc_id") % 4 === 0,
          concat(lit("/private/doc"), dig))
        .when(col("doc_id") % 4 === 1,
          concat(lit("/private/doc"), ((col("doc_id") + 1) % 10)
            .cast("string")))
        .when(col("doc_id") % 4 === 2, lit("/public/x"))
        .otherwise(lit("/private/sub/q"))
      // parse ONCE into its own projection (the per-domain discipline:
      // the matcher references the bound struct, not a re-parse)
      d.select(col("doc_id"),
          RobotsTxt.rules(robots, lit("graftbot-1.0")).as("_r"),
          path.as("_p"))
        .select(col("doc_id"),
          RobotsTxt.allowed(col("_r"), col("_p")).as("allowed"),
          col("_r").getField("crawl_delay_ms").as("crawl_ms"),
          size(col("_r").getField("sitemaps")).cast("long")
            .as("n_sitemaps"))
    }),
    "html_noindex" -> ((s, dir) => {
      // Robots-meta gate (HtmlExtract.metaRobots/noindex — the
      // crawl-politeness fact applied BEFORE content processing):
      // doc_id%7==0 pages plant a noindex directive, alternating the
      // attribute order and case by doc_id%2 so both parse paths carry
      // weight; %7==1 pages plant an index,follow directive (present
      // but allowed — must NOT gate); the rest carry no robots meta.
      // The planted-recovery oracle is closed-form; directive parsing
      // vectors (token boundaries, quoting, junk) live in
      // HtmlExtractSpec.
      val d = t(s, dir, "documents")
      val id = col("doc_id").cast("string")
      val metaTag = when(col("doc_id") % 7 === 0,
        when(col("doc_id") % 2 === 0,
          lit("<meta name=\"robots\" content=\"noindex, nofollow\">"))
          .otherwise(
            lit("<META content='none' NAME='ROBOTS'>")))
        .when(col("doc_id") % 7 === 1,
          lit("<meta name=\"robots\" content=\"index, follow\">"))
        .otherwise(lit(""))
      val html = concat(
        lit("<html><head>"), metaTag, lit("<title>Doc "), id,
        lit("</title></head><body><p>"),
        regexp_replace(coalesce(col("text"), lit("")), "[<>&]", " "),
        lit("</p></body></html>"))
      d.select(col("doc_id"),
        HtmlExtract.metaRobots(html).as("robots"),
        HtmlExtract.noindex(html).as("noindex"))
    }),
    "quality_classifier" -> ((s, dir) => {
      // Supervised quality gate (QualityClassifier — the labeled
      // complement to text_quality/lm_score/dsir_score): every third
      // document is planted as "spam" and the rest as "educational" by
      // appending marker text whose mass grows with document length
      // (so marker evidence always dominates background-token noise),
      // the model trains on the 80% split (doc_id % 5 < 4), and EVERY
      // document — including the 20% holdout — must classify back to
      // its planted label. The planted-recovery oracle is closed-form;
      // exact-arithmetic and path-equality legs live in
      // QualityClassifierSpec.
      // One-row-group fixture file = a single scan task; the tokenize +
      // md5 map side would run on one core of 32 (guide §2.5: one
      // unsplittable input -> repartition right after the read). The
      // round-robin shuffle moves the raw text once, is core-count-
      // adaptive, and the downstream sums are order-insensitive.
      val d = t(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
      val planted = d.select(col("doc_id"),
        concat(coalesce(col("text"), lit("")),
          expr("repeat(CASE WHEN doc_id % 3 = 0 " +
            "THEN ' qz casino jackpot pills winnings' " +
            "ELSE ' qv theorem lemma corollary proof' END, " +
            "CAST(1 + n_chars / 64 AS INT))")).as("ptext"),
        (col("doc_id") % 3 =!= 0).as("keep"))
      val model = QualityClassifier.train(
        planted.filter(col("doc_id") % 5 < 4),
        text = col("ptext"), label = col("keep"))
      QualityClassifier.score(planted, model, "doc_id", col("ptext"))
        .select(col("doc_id"), col("pred").as("pred_keep"))
    }),
    "url_normalize" -> ((s, dir) => {
      // URL canonicalization + registered domain (UrlOps — the other
      // web-corpus ingestion staple next to text_html): each document
      // plants TWO messy variants of the same logical URL (uppercase
      // scheme/host + default port + dot segments + utm tracking +
      // fragment vs userinfo + different param order + gclid), and the
      // kernel must collapse them to ONE canonical form —
      // n_canonical = 1 is the dedup-by-URL guarantee, and the
      // canonical string + PSL-lite domain are closed-form for DuckDB.
      // Malformed-input vectors live in UrlOpsSpec.
      val d = t(s, dir, "documents")
      val id = col("doc_id").cast("string")
      val site = (col("doc_id") % 7).cast("string")
      val page = (col("doc_id") % 3).cast("string")
      val v1 = concat(lit("HTTPS://WWW.Site"), site,
        lit(".Co.UK:443/a/./b/../art"), id,
        lit("?utm_source=feed&b="), page, lit("&a=1#frag"))
      val v2 = concat(lit("https://u:pw@www.site"), site,
        lit(".co.uk/a/art"), id, lit("/../art"), id,
        lit("?a=1&gclid=XYZ&b="), page)
      d.select(col("doc_id"), explode(array(v1, v2)).as("raw"))
        .select(col("doc_id"),
          UrlOps.normalize(col("raw")).as("u"),
          UrlOps.registeredDomain(col("raw")).as("dom"))
        .groupBy(col("doc_id")).agg(
          countDistinct(col("u")).as("n_canonical"),
          min(col("u")).as("url_norm"),
          min(col("dom")).as("domain"))
    }),
    "bm25_search" -> ((s, dir) => {
      // Lexical retrieval (Bm25 — the keyword complement to the ANN
      // family): fit the bounded per-bucket DF model over the whole
      // corpus (one distinct-aggregate + two exact scalars), then score
      // a four-term query against every document. Scores are per-term
      // integer milli-units summed as longs (the lm_score discipline),
      // so DuckDB recomputes every score bit-for-bit from the same
      // tokenization + md5 bucketing + ln/round construction. Docs
      // hitting no query bucket are absent by definition.
      val d = t(s, dir, "documents")
      val model = Bm25.fit(d)
      Bm25.score(d, model, "vector join spark window")
    }),
    "text_redact" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      // plant synthetic PII deterministically so redaction has work to do
      val planted = concat(col("text"),
        when(col("doc_id") % 5 === 0,
          lit(" contact bob@example.com or https://ex.ample/x or 12345678"))
          .otherwise(lit("")))
      d.select(col("doc_id"),
        TextAnalysis.redact(planted).as("clean_text"))
    }),
    "text_pack" -> ((s, dir) => {
      // The greedy reset itself is not SQL-expressible, but its defining
      // INVARIANTS are: every doc packed exactly once, no multi-doc pack
      // over budget, and no unnecessary pack break (greedy tightness).
      // The oracle states those from the documents table alone.
      val d = t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      val packed = SequencePacker.pack(d, maxTokens = 512, shards = 16)
      val perPack = packed.groupBy(col("shard"), col("pack_id")).agg(
        max(col("pack_tokens")).as("total"),
        count(lit(1)).as("nd"),
        max(when(col("pack_seq") === 0, col("pack_tokens"))).as("first_tok"))
      val wShard = org.apache.spark.sql.expressions.Window
        .partitionBy(col("shard")).orderBy(col("pack_id"))
      val packStats = perPack
        .withColumn("prev_total", lag(col("total"), 1).over(wShard))
        .agg(
          sum(when(col("total") > 512 && col("nd") > 1, 1L).otherwise(0L))
            .as("overfull_packs"),
          sum(when(col("prev_total").isNotNull
            && col("prev_total") + col("first_tok") <= 512, 1L).otherwise(0L))
            .as("loose_breaks"))
      val docStats = packed.agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("doc_id")).as("n_distinct_docs"))
      docStats.crossJoin(packStats)
    }),
    "text_fingerprint" -> ((s, dir) => {
      // Winnowing robustness invariants: a local edit (insertion at the
      // middle or front) must preserve at least half of the selected
      // fingerprint set — checkable without reproducing the hash values.
      val d = t(s, dir, "documents").filter(col("doc_id") % 10 === 0)
      val half = (length(col("text")) / 2).cast(IntegerType)
      val midEdit = concat(
        substring(col("text"), lit(1), half), lit(" qq zz "),
        col("text").substr(half + 1, length(col("text"))))
      val preEdit = concat(lit("zz qq "), col("text"))
      val sOrig = TextAnalysis.fingerprintSet(col("text"))
      val sMid = TextAnalysis.fingerprintSet(midEdit)
      val sPre = TextAnalysis.fingerprintSet(preEdit)
      def overlapHi(other: Column): Column =
        (size(array_intersect(sOrig, other)).cast(DoubleType) /
          size(sOrig).cast(DoubleType)) >= 0.5
      d.select(col("doc_id"),
        overlapHi(sMid).as("mid_overlap_hi"),
        overlapHi(sPre).as("prefix_overlap_hi"))
    }),

    // --- analytics over the star schema ---
    "pricing_summary" -> ((s, dir) => {
      // TPC-H Q1-shaped rollup. Double sums are order-dependent across
      // engines, so accumulation is exact DECIMAL, cast back at the edge.
      val l = t(s, dir, "lineitem")
      val qty = col("l_quantity").cast(DecimalType(18, 2))
      val price = col("l_extendedprice").cast(DecimalType(18, 2))
      val disc = col("l_discount").cast(DecimalType(18, 2))
      l.filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(qty).cast(DoubleType).as("sum_qty"),
          sum(price).cast(DoubleType).as("sum_base_price"),
          sum(price * (lit(1).cast(DecimalType(18, 2)) - disc))
            .cast(DoubleType).as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .withColumn("avg_qty", col("sum_qty") / col("count_order"))
    }),
    "orders_rollup" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      o.rollup(col("o_orderpriority"), col("o_orderstatus"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("total"))
    }),
    "orders_grouping_sets" -> ((s, dir) => {
      // GROUPING SETS: per-priority, per-status, and grand total in one
      // pass (decimal-exact sums cast back like the rollup query).
      val o = t(s, dir, "orders")
      o.createOrReplaceTempView("orders_gs")
      s.sql(
        """SELECT o_orderpriority, o_orderstatus, count(1) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
           FROM orders_gs
           GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())""")
    }),
    "orders_topn_per_group" -> ((s, dir) => {
      // Windowed rank: top-3 orders by price within each priority —
      // deterministic tiebreak on the key.
      val o = t(s, dir, "orders")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      o.select(col("o_orderpriority"), col("o_orderkey"),
          col("o_totalprice"), row_number().over(w).as("rn"))
        .filter(col("rn") <= 3)
    }),
    "customers_without_orders" -> ((s, dir) => {
      // anti-join: customers with no urgent orders (non-empty at every SF)
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
    }),
    "orders_percentiles" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      o.groupBy(col("o_orderstatus")).agg(
        percentile(col("o_totalprice"), lit(0.5)).as("p50"),
        percentile(col("o_totalprice"), lit(0.9)).as("p90"))
    }),
    "events_distinct_approx" -> ((s, dir) => {
      // HyperLogLog++ distinct with a checkable bound: at rsd=0.01 the
      // estimate must land within 5% (5σ) of the exact distinct count,
      // both computed in the same aggregate.
      val e = events(s, dir)
      e.groupBy(col("event_type")).agg(
        approx_count_distinct(col("user_id"), rsd = 0.01).as("ad"),
        countDistinct(col("user_id")).as("xd"))
        .select(col("event_type"),
          (abs(col("ad") - col("xd")).cast(DoubleType) /
            col("xd").cast(DoubleType) <= 0.05).as("distinct_ok"))
    }),
    "events_heavy_hitters" -> ((s, dir) => {
      // Count-Min sketch heavy hitters with checkable properties: a CMS
      // NEVER underestimates (hard guarantee), and the overestimate is
      // bounded by eps*N — deterministic for a fixed seed (counter adds
      // and merges are sums, so the sketch is partition-order
      // independent). The sketch and the exact counts come off the same
      // scan; the probe set (distinct event types) is bounded and tiny.
      val e = events(s, dir)
      val bytes = e.agg(
        expr("count_min_sketch(event_type, 0.001d, 0.99d, 42)"))
        .head().getAs[Array[Byte]](0)
      val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
        new java.io.ByteArrayInputStream(bytes))
      val exact = e.groupBy(col("event_type"))
        .agg(count(lit(1)).as("exact_count"))
      val types = exact.select("event_type").collect().map(_.getString(0))
      val estCol = element_at(
        map(types.toIndexedSeq.flatMap(ty =>
          Seq(lit(ty), lit(cms.estimateCount(ty)))): _*),
        col("event_type"))
      val slack = lit(math.ceil(0.001 * cms.totalCount).toLong)
      exact.select(col("event_type"), col("exact_count"),
        (estCol >= col("exact_count")).as("overestimates_ok"),
        (estCol <= col("exact_count") + slack).as("within_eps"))
    }),
    "orders_percentiles_approx" -> ((s, dir) => {
      // approx_percentile's rank-error guarantee made checkable: with
      // accuracy=10000 the returned element's rank is within N/10000 of
      // the target, so it must lie between the exact 0.49/0.51 (resp.
      // 0.89/0.91) quantile VALUES — both sides computed in the same agg,
      // the oracle states the boolean outcome exactly.
      val o = t(s, dir, "orders")
      o.groupBy(col("o_orderstatus")).agg(
        approx_percentile(col("o_totalprice"), lit(0.5), lit(10000))
          .as("ap50"),
        approx_percentile(col("o_totalprice"), lit(0.9), lit(10000))
          .as("ap90"),
        percentile(col("o_totalprice"), lit(0.49)).as("lo50"),
        percentile(col("o_totalprice"), lit(0.51)).as("hi50"),
        percentile(col("o_totalprice"), lit(0.89)).as("lo90"),
        percentile(col("o_totalprice"), lit(0.91)).as("hi90"))
        .select(col("o_orderstatus"),
          (col("ap50") >= col("lo50") && col("ap50") <= col("hi50"))
            .as("p50_ok"),
          (col("ap90") >= col("lo90") && col("ap90") <= col("hi90"))
            .as("p90_ok"))
    }),
    "events_agg" -> ((s, dir) => {
      val e = events(s, dir)
      e.groupBy(col("event_type")).agg(
        count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))
    }),
    "text_stats_by_lang" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      d.groupBy(col("lang")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        sum(TextAnalysis.tokenCount(col("text"))).as("total_ws_tokens"))
        .withColumn("avg_chars",
          col("total_chars").cast(DoubleType) / col("n_docs"))
    }),
    "orders_running_total" -> ((s, dir) => {
      // Window running totals: double accumulation order differs between
      // engines (DuckDB uses a segment tree), so sums go through exact
      // decimal and only the final value casts back to double.
      val o = t(s, dir, "orders")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      o.select(col("o_orderkey"), col("o_custkey"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).over(w)
          .cast(DoubleType).as("running_total"),
        row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("o_custkey"))
            .orderBy(col("o_orderdate"), col("o_orderkey"))).as("order_seq"))
    }),

    "asof_join" -> ((s, dir) => {
      // For each event, the latest order of the same customer at or before
      // the event time. Right side pre-aggregated to one row per
      // (custkey, orderdate) for determinism.
      val e = events(s, dir).select("event_id", "user_id", "ts")
      val o = t(s, dir, "orders")
        .groupBy(col("o_custkey"), col("o_orderdate"))
        .agg(max(col("o_orderkey")).as("asof_orderkey"))
      AsOf.join(e, o, "user_id", "o_custkey", "ts", "o_orderdate",
        Seq("asof_orderkey"))
    }),

    // --- events ---
    "events_json" -> ((s, dir) => {
      val e = events(s, dir)
      e.select(col("event_id"),
        from_json(col("props"), StructType(Seq(StructField("k", LongType))))
          .getField("k").as("k"))
    }),
    "attribution_join" -> ((s, dir) => {
      // Batch projection of StreamingOps.intervalJoin — IDENTICAL join
      // condition and output columns; the streaming variant adds only
      // watermarks, which bound join STATE, not results (batch ignores
      // them). Click → purchase attribution within 10 minutes, so the
      // stream-stream operator's semantics are DuckDB-hash-checked.
      val e = events(s, dir)
      graft.streaming.StreamingOps.intervalJoin(
          e.filter(col("event_type") === "click"),
          e.filter(col("event_type") === "purchase"),
          horizon = "10 minutes")
        .select(col("user_id"),
          col("left_id").as("click_id"),
          col("right_id").as("purchase_id"),
          unix_micros(col("left_ts")).as("click_us"),
          unix_micros(col("right_ts")).as("purchase_us"))
    }),
    "sessionize" -> ((s, dir) => {
      val e = events(s, dir)
      Sessionize.summarize(e, gapMinutes = 30).select(
        col("user_id"), col("session_idx"), col("n_events"),
        unix_micros(col("session_start")).as("start_us"),
        unix_micros(col("session_end")).as("end_us"),
        col("duration_s"))
    }),
    "events_extract" -> ((s, dir) => {
      val e = events(s, dir)
      e.select(col("event_id"),
        P.str2intnullable(
          regexp_extract(col("props"), "\"k\": (\\d+)", 1)).as("k"))
    })
  )

  // ------------------------------------------------------------- oracle SQL

  /** DuckDB oracles — one per `queries` key. The dedup/ANN/packing family
    * is oracled through planted-recovery projections and SQL-expressible
    * invariants (see each query's comment); nothing re-simulates Spark
    * mechanics. */
  /** SQL UPDATE + MERGE INTO final state, recomputed directly:
    * the +100 UPDATE on id%7=0; the id%10=4 slice merged (deleted
    * when the updated balance was negative, else name+'+' and
    * balance = 2*orig + updated); the id%10=7 slice re-inserted
    * under shifted keys. Shared by the catalog-ident lifecycle
    * (manifest_sql_merge) and the path-face replay of the SAME
    * lifecycle (manifest_sql_merge_path) — one oracle, two faces. */
  private val sqlMergeOracle =
    """WITH base AS (
       SELECT c_custkey AS id, c_name AS name,
         CAST(c_acctbal AS DOUBLE) AS orig,
         CAST(c_acctbal AS DOUBLE) +
           CASE WHEN c_custkey % 7 = 0 THEN 100 ELSE 0 END AS upd
       FROM customer)
       SELECT id, name || '+' AS name, upd + 2 * orig AS acctbal
       FROM base WHERE id % 10 = 4 AND upd >= 0
       UNION ALL
       SELECT id, name, upd AS acctbal FROM base WHERE id % 10 <> 4
       UNION ALL
       SELECT id + 1000000 AS id, name, orig AS acctbal
       FROM base WHERE id % 10 = 7"""

  /** The incremental-recluster final state (merged fixture minus the
    * 10-key drift delete, the zone BETWEEN on top) — one oracle for
    * both the explicit face (manifest_recluster) and the declared
    * commit-hook face (manifest_auto_recluster). */
  private def reclusterOracle(
      inTgt: String, inSrc: String, drifted: String): String =
    s"""SELECT * FROM (
       SELECT c_custkey AS id, c_name AS name,
       CASE WHEN $inSrc THEN c_acctbal ELSE $drifted END AS acctbal,
       CASE WHEN $inTgt THEN 'LEGACY' ELSE 'NEW' END AS segment,
       CASE WHEN NOT ($inTgt) THEN CAST(c_nationkey AS BIGINT)
            WHEN c_custkey % 4 = 0 AND ($inSrc) THEN CAST(c_nationkey AS BIGINT)
            WHEN c_custkey % 4 = 0 THEN NULL
            ELSE CAST(99 AS BIGINT) END AS nation
       FROM customer WHERE (($inTgt) OR ($inSrc))
         AND c_custkey NOT IN (13, 26, 39, 52, 65, 78, 91, 104, 117, 130))
       WHERE acctbal BETWEEN 1000 AND 5000"""

  def oracleSql: Map[String, String] = {
    val boolList = sampleSql("c_custkey", BoolSamples)
    val intList = sampleSql("c_custkey", IntSamples)
    val floatList = sampleSql("c_custkey", FloatSamples)
    val amtEn = sampleSql("c_custkey", AmountEnSamples)
    val amtFr = sampleSql("c_custkey", AmountFrSamples)
    val strList = sampleSql("c_custkey", StrSamples)
    val dateList = sampleSql("c_custkey", DateSamples)
    val dtList = sampleSql("c_custkey", DateTimeSamples)
    val timeList = sampleSql("c_custkey", TimeSamples)
    val dumpStrList = sampleSql("o_orderkey", DumpStrSamples)

    val intRe = "^[+-]?\\d+$"
    val floatRe = "^[+-]?(\\d+\\.?\\d*|\\.\\d+)([eE][+-]?\\d+)?$"

    // formatMontant as nested SQL over a raw expression r (en_US / fr_FR).
    def montantSql(r: String, fr: Boolean): String = {
      val decimalFix =
        if (fr) s"replace(CASE WHEN contains(trim($r), '(') THEN '-' || replace(replace(trim($r), '(', ''), ')', '') ELSE trim($r) END, ',', '.')"
        else s"replace(CASE WHEN contains(trim($r), '(') THEN '-' || replace(replace(trim($r), '(', ''), ')', '') ELSE trim($r) END, ',', '')"
      val cleaned = s"replace(replace(replace($decimalFix, ' ', ''), chr(160), ''), chr(8239), '')"
      s"CASE WHEN $r IS NULL OR trim($r) = '' OR $cleaned = '' OR $cleaned = '-' THEN '0' ELSE $cleaned END"
    }

    def shittyDateSql(r: String, fr: Boolean): String = {
      val (slash1, slash2) =
        if (fr) ("%d/%m/%Y", "%m/%d/%Y") else ("%m/%d/%Y", "%d/%m/%Y")
      val (dot1, dot2) =
        if (fr) ("%d.%m.%Y", "%m.%d.%Y") else ("%m.%d.%Y", "%d.%m.%Y")
      s"""CASE WHEN trim($r) = '' THEN NULL
         WHEN trim($r) IN ('10000-01-01', '10000-01-01 0:00:00') THEN DATE '9999-12-31'
         WHEN contains(trim($r), '/') THEN CAST(coalesce(try_strptime(trim($r), '$slash1'), try_strptime(trim($r), '$slash2')) AS DATE)
         WHEN contains(trim($r), '.') THEN CAST(coalesce(try_strptime(trim($r), '$dot1'), try_strptime(trim($r), '$dot2')) AS DATE)
         ELSE CAST(try_strptime(trim($r), '%Y-%m-%d') AS DATE) END"""
    }

    def shittyDateTimeSql(r: String, us: Boolean): String = {
      val (slash1, slash2) =
        if (us) ("%m/%d/%Y %H:%M:%S", "%d/%m/%Y %H:%M:%S")
        else ("%d/%m/%Y %H:%M:%S", "%m/%d/%Y %H:%M:%S")
      val (dot1, dot2) =
        if (us) ("%m.%d.%Y %H:%M:%S", "%d.%m.%Y %H:%M:%S")
        else ("%d.%m.%Y %H:%M:%S", "%m.%d.%Y %H:%M:%S")
      s"""CASE WHEN trim($r) = '' THEN NULL
         WHEN trim($r) = '10000-01-01 0:00:00' THEN TIMESTAMP '9999-12-31 23:59:59.999999'
         WHEN contains(trim($r), '/') THEN coalesce(try_strptime(trim($r), '$slash1'), try_strptime(trim($r), '$slash2'))
         WHEN contains(trim($r), '.') THEN coalesce(try_strptime(trim($r), '$dot1'), try_strptime(trim($r), '$dot2'))
         ELSE try_strptime(trim($r), '%Y-%m-%d %H:%M:%S') END"""
    }

    val stopEn = TextAnalysis.StopwordsEn.map(w => s"'$w'").mkString(", ")
    val stopFr = TextAnalysis.StopwordsFr.map(w => s"'$w'").mkString(", ")
    val stopDe = TextAnalysis.StopwordsDe.map(w => s"'$w'").mkString(", ")
    val stopEs = TextAnalysis.StopwordsEs.map(w => s"'$w'").mkString(", ")
    val toksSql = "CASE WHEN text IS NULL OR trim(text) = '' THEN CAST([] AS VARCHAR[]) ELSE list_transform(string_split_regex(trim(text), '\\s+'), x -> lower(x)) END"

    // pagerank_hosts: the LinkGraph integer update chain, unrolled.
    // scale 1e9, damping 85/100 → base = 150,000,000; DuckDB's `//` and
    // Spark's `div` agree on non-negative BIGINTs. Sums cast back to
    // BIGINT (DuckDB widens sum(BIGINT) to HUGEINT).
    val prIters = (1 to 4).map { k =>
      val prev = s"r${k - 1}"
      s"""s$k AS (SELECT e.dst AS h,
             CAST(sum($prev.r // deg.od) AS BIGINT) AS inflow
           FROM e JOIN deg ON e.src = deg.src
           JOIN $prev ON $prev.h = e.src
           GROUP BY e.dst),
         d$k AS (SELECT CAST(COALESCE(sum(p.r), 0) AS BIGINT) AS dang
           FROM $prev p LEFT JOIN deg ON p.h = deg.src
           WHERE deg.src IS NULL),
         r$k AS (SELECT n0.h,
             150000000 + (85 * (COALESCE(s$k.inflow, 0)
               + (SELECT dang FROM d$k) // (SELECT n FROM nn))) // 100
             AS r
           FROM nodes n0 LEFT JOIN s$k ON n0.h = s$k.h)"""
    }.mkString(",\n")

    // DuckDB replication of TextNorm.normalize + word-3-gram shingles (the
    // dedup family's normalization): lowercase, collapse non-alnum runs to
    // single spaces, split, 3-grams (short docs → one whole-text shingle).
    def tokSqlOf(texpr: String): String =
      s"string_split(trim(regexp_replace(lower($texpr), '[^a-z0-9]+', ' ', 'g')), ' ')"
    def shingleSqlOf(tk: String): String =
      s"""CASE WHEN len($tk) < 3 THEN [array_to_string($tk, ' ')]
         ELSE list_transform(range(1, len($tk) - 1),
           i -> $tk[i] || ' ' || $tk[i+1] || ' ' || $tk[i+2]) END"""

    // Shared CASE pieces for the upsert family.
    val inTgt = "c_custkey % 3 <> 0"
    val inSrc = "c_custkey % 7 <> 1"
    val ign = "c_custkey % 13 = 2" // upsert_stats should_import ignore
    val drifted = "c_acctbal + CASE WHEN c_custkey % 5 = 0 THEN 100.0 ELSE 0.0 END"
    val tgtNation = "CASE WHEN c_custkey % 4 = 0 THEN NULL ELSE CAST(99 AS BIGINT) END"

    Map(
      "parse_bools" ->
        s"""SELECT c_custkey, $boolList AS raw,
           CASE WHEN lower($boolList) IN ('yes','true','t','1','oui','vrai') THEN TRUE ELSE FALSE END AS b,
           CASE WHEN $boolList = '' THEN NULL
                WHEN lower($boolList) IN ('yes','true','t','1','oui','vrai') THEN TRUE ELSE FALSE END AS bn
           FROM customer""",
      "parse_ints" ->
        s"""SELECT c_custkey, $intList AS raw,
           CASE WHEN regexp_matches(trim($intList), '$intRe') THEN CAST(trim($intList) AS BIGINT) ELSE NULL END AS i
           FROM customer""",
      "parse_floats" ->
        s"""SELECT c_custkey, $floatList AS raw,
           CASE WHEN regexp_matches(trim($floatList), '$floatRe') THEN CAST(trim($floatList) AS DOUBLE) ELSE NULL END AS f
           FROM customer""",
      "parse_amounts" -> {
        val mEn = montantSql(amtEn, fr = false)
        val mFr = montantSql(amtFr, fr = true)
        s"""SELECT c_custkey, $amtEn AS raw_en, $amtFr AS raw_fr,
           $mEn AS montant_en,
           $mFr AS montant_fr,
           CASE WHEN regexp_matches($mEn, '$intRe') THEN CAST($mEn AS BIGINT) ELSE 0 END AS amount_int,
           CASE WHEN regexp_matches($mEn, '$floatRe') THEN CAST($mEn AS DOUBLE) ELSE 0.0 END AS amount_float,
           CASE WHEN regexp_matches($mFr, '$floatRe') THEN CAST($mFr AS DOUBLE) ELSE 0.0 END AS amount_float_fr
           FROM customer"""
      },
      "parse_strings" ->
        s"""SELECT c_custkey, $strList AS raw,
           CASE WHEN $strList IS NULL OR trim($strList) = '' THEN NULL ELSE trim($strList) END AS s,
           CASE WHEN $strList IS NULL OR trim($strList) = '' THEN NULL ELSE substring(trim($strList), 1, 2) END AS s2
           FROM customer""",
      "parse_dates" ->
        s"""SELECT c_custkey, $dateList AS raw,
           strftime(${shittyDateSql(dateList, fr = true)}, '%Y-%m-%d') AS d_fr,
           strftime(${shittyDateSql(dateList, fr = false)}, '%Y-%m-%d') AS d_en
           FROM customer""",
      "parse_datetimes" ->
        s"""SELECT c_custkey, $dtList AS raw,
           ${shittyDateTimeSql(dtList, us = true)} AS ts_en,
           ${shittyDateTimeSql(dtList, us = false)} AS ts_fr
           FROM customer""",
      "parse_times" ->
        s"""SELECT c_custkey, $timeList AS raw,
           CASE WHEN trim($timeList) = '' THEN NULL
                ELSE CAST(split_part(trim($timeList), ':', 1) AS BIGINT) * 3600
                   + CAST(split_part(trim($timeList), ':', 2) AS BIGINT) * 60
                   + CAST(split_part(trim($timeList), ':', 3) AS BIGINT) END AS seconds
           FROM customer""",
      "dump_formats" ->
        s"""SELECT o_orderkey,
           strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S') AS dt_json,
           strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS dt_gs,
           printf('%.0f', o_totalprice) AS di,
           printf('%.1f', CAST(o_orderkey % 100 AS DOUBLE) / 100.0 * 100) AS dp,
           CASE WHEN $dumpStrList IS NULL OR trim($dumpStrList) = '' THEN '-' ELSE $dumpStrList END AS ds
           FROM orders""",
      "mapping_project" ->
        s"""SELECT o_orderkey AS id,
           strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS odate,
           o_totalprice AS total,
           substring(o_orderpriority, 1, 5) AS prio,
           o_orderstatus AS status
           FROM orders""",
      "mapping_export" ->
        s"""SELECT CAST(o_orderkey AS VARCHAR) AS id,
           printf('%.0f', o_totalprice) AS "Total",
           strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS "Date",
           CASE WHEN o_orderstatus IS NULL OR trim(o_orderstatus) = ''
                THEN '-' ELSE o_orderstatus END AS status
           FROM orders""",
      "mapping_diagnostics" ->
        s"""WITH rows AS (SELECT c_custkey,
             ${sampleSql("c_custkey", IntSamples)} AS rawi,
             ${sampleSql("c_custkey", StrSamples)} AS raws
           FROM customer)
           SELECT c_custkey AS line, 'id' AS "column", rawi AS raw_value,
             'parse_error' AS warning
           FROM rows
           WHERE trim(rawi) <> '' AND NOT regexp_matches(trim(rawi), '$intRe')
           UNION ALL
           SELECT c_custkey AS line, 's' AS "column", raws AS raw_value,
             'empty' AS warning
           FROM rows WHERE trim(raws) = ''""",
      "csv_source" ->
        s"""SELECT CAST(n_nationkey AS BIGINT) AS id, n_name AS name,
           CAST(n_regionkey AS BIGINT) AS region FROM nation""",
      "csv_multiline" ->
        s"""SELECT CAST(n_nationkey AS BIGINT) AS id,
           n_name || chr(10) || n_name AS name,
           CAST(n_regionkey AS BIGINT) AS region FROM nation""",
      "table_source" ->
        s"""SELECT c_custkey AS id, upper(c_name) AS name,
           c_acctbal * 2 AS acct2 FROM customer""",
      "csv_export" ->
        s"""WITH f AS (SELECT o_orderkey AS id,
             [CAST(o_orderkey AS VARCHAR),
              replace(printf('%.2f', o_totalprice), '.', ','),
              'note "' || o_orderstatus || '"'] AS fs
             FROM orders)
           SELECT id, array_to_string(list_transform(fs, x ->
             CASE WHEN contains(x, ',') OR contains(x, '"')
                    OR contains(x, chr(10)) OR contains(x, chr(13))
               THEN '"' || replace(x, '"', '""') || '"' ELSE x END),
             ',') AS line
           FROM f""",
      "jsonl_source" ->
        s"""SELECT doc_id AS id, lang, source AS src, n_chars
           FROM documents""",
      "orc_source" ->
        s"""SELECT doc_id AS id, lang, source AS src, n_chars
           FROM documents WHERE n_chars >= 200""",
      "avro_source" ->
        s"""SELECT doc_id AS id, lang, source AS src, n_chars
           FROM documents WHERE n_chars < 400""",
      "upsert_basic" ->
        s"""SELECT c_custkey AS id, c_name AS name,
           CASE WHEN $inSrc THEN c_acctbal ELSE $drifted END AS acctbal,
           CASE WHEN $inTgt THEN 'LEGACY' ELSE 'NEW' END AS segment,
           CASE WHEN NOT ($inTgt) THEN CAST(c_nationkey AS BIGINT)
                WHEN c_custkey % 4 = 0 AND ($inSrc) THEN CAST(c_nationkey AS BIGINT)
                WHEN c_custkey % 4 = 0 THEN NULL
                ELSE CAST(99 AS BIGINT) END AS nation
           FROM customer WHERE ($inTgt) OR ($inSrc)""",
      "manifest_merge" ->
        s"""SELECT c_custkey AS id, c_name AS name,
           CASE WHEN $inSrc THEN c_acctbal ELSE $drifted END AS acctbal,
           CASE WHEN $inTgt THEN 'LEGACY' ELSE 'NEW' END AS segment,
           CASE WHEN NOT ($inTgt) THEN CAST(c_nationkey AS BIGINT)
                WHEN c_custkey % 4 = 0 AND ($inSrc) THEN CAST(c_nationkey AS BIGINT)
                WHEN c_custkey % 4 = 0 THEN NULL
                ELSE CAST(99 AS BIGINT) END AS nation
           FROM customer WHERE ($inTgt) OR ($inSrc)""",
      // the tagged snapshot IS the merged state: the later delete and
      // the vacuum must not leak into (or break) the pinned read
      "manifest_tag" ->
        s"""SELECT c_custkey AS id, c_name AS name,
           CASE WHEN $inSrc THEN c_acctbal ELSE $drifted END AS acctbal,
           CASE WHEN $inTgt THEN 'LEGACY' ELSE 'NEW' END AS segment,
           CASE WHEN NOT ($inTgt) THEN CAST(c_nationkey AS BIGINT)
                WHEN c_custkey % 4 = 0 AND ($inSrc) THEN CAST(c_nationkey AS BIGINT)
                WHEN c_custkey % 4 = 0 THEN NULL
                ELSE CAST(99 AS BIGINT) END AS nation
           FROM customer WHERE ($inTgt) OR ($inSrc)""",
      "manifest_probe_join" ->
        s"""SELECT m.id, m.name, m.acctbal, m.segment, m.nation,
           o.o_orderkey AS okey, o.o_totalprice AS oprice
           FROM (SELECT c_custkey AS id, c_name AS name,
             CASE WHEN $inSrc THEN c_acctbal ELSE $drifted END AS acctbal,
             CASE WHEN $inTgt THEN 'LEGACY' ELSE 'NEW' END AS segment,
             CASE WHEN NOT ($inTgt) THEN CAST(c_nationkey AS BIGINT)
                  WHEN c_custkey % 4 = 0 AND ($inSrc) THEN CAST(c_nationkey AS BIGINT)
                  WHEN c_custkey % 4 = 0 THEN NULL
                  ELSE CAST(99 AS BIGINT) END AS nation
             FROM customer WHERE ($inTgt) OR ($inSrc)) m
           JOIN orders o ON m.id = o.o_custkey
           WHERE o.o_custkey % 97 = 0""",
      // the automatic rule must answer exactly what the plain join
      // answers — same oracle as the explicit probeJoin face
      "manifest_probe_join_auto" ->
        s"""SELECT m.id, m.name, m.acctbal, m.segment, m.nation,
           o.o_orderkey AS okey, o.o_totalprice AS oprice
           FROM (SELECT c_custkey AS id, c_name AS name,
             CASE WHEN $inSrc THEN c_acctbal ELSE $drifted END AS acctbal,
             CASE WHEN $inTgt THEN 'LEGACY' ELSE 'NEW' END AS segment,
             CASE WHEN NOT ($inTgt) THEN CAST(c_nationkey AS BIGINT)
                  WHEN c_custkey % 4 = 0 AND ($inSrc) THEN CAST(c_nationkey AS BIGINT)
                  WHEN c_custkey % 4 = 0 THEN NULL
                  ELSE CAST(99 AS BIGINT) END AS nation
             FROM customer WHERE ($inTgt) OR ($inSrc)) m
           JOIN orders o ON m.id = o.o_custkey
           WHERE o.o_custkey % 97 = 0""",
      // the index leg answers exactly the plain non-key join
      "manifest_index_probe_auto" ->
        s"""SELECT m.id, m.name, m.acctbal, m.segment, m.nation,
           d.dkey AS dkey
           FROM (SELECT c_custkey AS id, c_name AS name,
             CASE WHEN $inSrc THEN c_acctbal ELSE $drifted END AS acctbal,
             CASE WHEN $inTgt THEN 'LEGACY' ELSE 'NEW' END AS segment,
             CASE WHEN NOT ($inTgt) THEN CAST(c_nationkey AS BIGINT)
                  WHEN c_custkey % 4 = 0 AND ($inSrc) THEN CAST(c_nationkey AS BIGINT)
                  WHEN c_custkey % 4 = 0 THEN NULL
                  ELSE CAST(99 AS BIGINT) END AS nation
             FROM customer WHERE ($inTgt) OR ($inSrc)) m
           JOIN (SELECT c_name AS dname, c_custkey AS dkey FROM customer
                 WHERE c_custkey % 97 = 0) d
             ON m.name = d.dname""",
      // AutoIndexFilter: literal IN over the indexed name column
      "manifest_index_filter_auto" ->
        s"""SELECT m.id, m.name, m.acctbal, m.segment, m.nation
           FROM (SELECT c_custkey AS id, c_name AS name,
             CASE WHEN $inSrc THEN c_acctbal ELSE $drifted END AS acctbal,
             CASE WHEN $inTgt THEN 'LEGACY' ELSE 'NEW' END AS segment,
             CASE WHEN NOT ($inTgt) THEN CAST(c_nationkey AS BIGINT)
                  WHEN c_custkey % 4 = 0 AND ($inSrc) THEN CAST(c_nationkey AS BIGINT)
                  WHEN c_custkey % 4 = 0 THEN NULL
                  ELSE CAST(99 AS BIGINT) END AS nation
             FROM customer WHERE (($inTgt) OR ($inSrc))
               AND c_custkey <> 97) m
           WHERE m.name IN ('Customer#000000097', 'Customer#000000194', 'Customer#000000291', 'Customer#000000388', 'Customer#000000485', 'Customer#000000582', 'Customer#000000679', 'Customer#000000776', 'Customer#000000873', 'Customer#000000970')""",
      "manifest_merge_delta" ->
        s"""SELECT c_custkey AS id, c_name AS name,
           CASE WHEN $inSrc THEN c_acctbal ELSE $drifted END AS acctbal,
           CASE WHEN $inTgt THEN 'LEGACY' ELSE 'NEW' END AS segment,
           CASE WHEN NOT ($inTgt) THEN CAST(c_nationkey AS BIGINT)
                WHEN c_custkey % 4 = 0 AND ($inSrc) THEN CAST(c_nationkey AS BIGINT)
                WHEN c_custkey % 4 = 0 THEN NULL
                ELSE CAST(99 AS BIGINT) END AS nation
           FROM customer WHERE ($inTgt) OR ($inSrc)""",
      // the streaming follower converges to its source: the sink's
      // state after one CDC catch-up == the base's merged state ==
      // manifest_merge's oracle
      "manifest_stream_sink" ->
        s"""SELECT c_custkey AS id, c_name AS name,
           CASE WHEN $inSrc THEN c_acctbal ELSE $drifted END AS acctbal,
           CASE WHEN $inTgt THEN 'LEGACY' ELSE 'NEW' END AS segment,
           CASE WHEN NOT ($inTgt) THEN CAST(c_nationkey AS BIGINT)
                WHEN c_custkey % 4 = 0 AND ($inSrc) THEN CAST(c_nationkey AS BIGINT)
                WHEN c_custkey % 4 = 0 THEN NULL
                ELSE CAST(99 AS BIGINT) END AS nation
           FROM customer WHERE ($inTgt) OR ($inSrc)""",
      // manifest_merge with the acctbal column RENAMED to balance
      // mid-lifecycle (metadata-only rename, then a merge under the new
      // name): identical state, renamed column.
      "manifest_rename" ->
        s"""SELECT c_custkey AS id, c_name AS name,
           CASE WHEN $inSrc THEN c_acctbal ELSE $drifted END AS balance,
           CASE WHEN $inTgt THEN 'LEGACY' ELSE 'NEW' END AS segment,
           CASE WHEN NOT ($inTgt) THEN CAST(c_nationkey AS BIGINT)
                WHEN c_custkey % 4 = 0 AND ($inSrc) THEN CAST(c_nationkey AS BIGINT)
                WHEN c_custkey % 4 = 0 THEN NULL
                ELSE CAST(99 AS BIGINT) END AS nation
           FROM customer WHERE ($inTgt) OR ($inSrc)""",
      // manifest_merge + the evolved vip column: rows the batch touched
      // (in src) carry the source value, rows only the bootstrap wrote
      // NULL-fill — the add-only evolution contract.
      "manifest_evolve" ->
        s"""SELECT c_custkey AS id, c_name AS name,
           CASE WHEN $inSrc THEN c_acctbal ELSE $drifted END AS acctbal,
           CASE WHEN $inTgt THEN 'LEGACY' ELSE 'NEW' END AS segment,
           CASE WHEN NOT ($inTgt) THEN CAST(c_nationkey AS BIGINT)
                WHEN c_custkey % 4 = 0 AND ($inSrc) THEN CAST(c_nationkey AS BIGINT)
                WHEN c_custkey % 4 = 0 THEN NULL
                ELSE CAST(99 AS BIGINT) END AS nation,
           CASE WHEN $inSrc THEN
             (CASE WHEN c_custkey % 2 = 0 THEN 'Y' ELSE 'N' END)
           ELSE NULL END AS vip
           FROM customer WHERE ($inTgt) OR ($inSrc)""",
      "manifest_evolve_drop" ->
        s"""SELECT c_custkey AS id,
             CAST(c_nationkey AS BIGINT) AS nation_i,
             CAST(CAST(c_acctbal AS REAL) AS DOUBLE) AS bal_f
           FROM customer
           UNION ALL
           SELECT c_custkey + 10000000 AS id,
             CAST(c_nationkey AS BIGINT) + 3000000000 AS nation_i,
             CAST(c_acctbal AS DOUBLE) AS bal_f
           FROM customer WHERE c_custkey % 3 = 0""",
      "manifest_merge_fixed" ->
        s"""SELECT c_custkey AS id, c_name AS name,
           CASE WHEN ($inSrc AND c_custkey <= 140) THEN c_acctbal + 7.5
                ELSE $drifted END AS acctbal,
           CASE WHEN $inTgt THEN 'LEGACY' ELSE 'NEW' END AS segment,
           CASE WHEN NOT ($inTgt) THEN CAST(c_nationkey AS BIGINT)
                WHEN c_custkey % 4 = 0 AND ($inSrc AND c_custkey <= 140)
                  THEN CAST(c_nationkey AS BIGINT)
                WHEN c_custkey % 4 = 0 THEN NULL
                ELSE CAST(99 AS BIGINT) END AS nation
           FROM customer
           WHERE c_custkey <= 140
             AND (($inTgt) OR ($inSrc))""",
      "manifest_delta_fixed" ->
        s"""SELECT c_custkey AS id, c_name AS name,
           CASE WHEN ($inSrc AND c_custkey <= 140) THEN c_acctbal + 7.5
                ELSE $drifted END AS acctbal,
           CASE WHEN $inTgt THEN 'LEGACY' ELSE 'NEW' END AS segment,
           CASE WHEN NOT ($inTgt) THEN CAST(c_nationkey AS BIGINT)
                WHEN c_custkey % 4 = 0 AND ($inSrc AND c_custkey <= 140)
                  THEN CAST(c_nationkey AS BIGINT)
                WHEN c_custkey % 4 = 0 THEN NULL
                ELSE CAST(99 AS BIGINT) END AS nation
           FROM customer
           WHERE c_custkey <= 140
             AND (($inTgt) OR ($inSrc))""",
      "manifest_mv_fixed" ->
        s"""WITH m AS (
             SELECT CASE
                 WHEN ($inSrc AND c_custkey <= 140) THEN c_acctbal + 7.5
                 WHEN $inSrc THEN c_acctbal ELSE $drifted END AS acctbal,
               CASE WHEN $inTgt THEN 'LEGACY' ELSE 'NEW' END AS segment
             FROM customer WHERE ($inTgt) OR ($inSrc))
           SELECT segment, count(*) AS n_rows,
             CAST(sum(CAST(coalesce(acctbal, 0) AS DECIMAL(30,2)))
               AS DOUBLE) AS sum_acctbal
           FROM m GROUP BY segment""",
      "manifest_index_fixed" ->
        s"""SELECT c_name AS name, c_custkey AS id FROM customer
           WHERE (($inTgt) OR ($inSrc))
             AND c_custkey NOT IN (${(1 to 10).map(_ * 13).mkString(", ")})
             AND c_name IN (SELECT c_name FROM customer
               WHERE c_custkey IN (${((1 to 10).map(_ * 13) ++
                 (1 to 10).map(_ * 17)).mkString(", ")}))""",
      "manifest_merge_small" ->
        s"""SELECT c_custkey AS id, c_name AS name,
           CASE WHEN ($inSrc AND c_custkey % 97 = 0) THEN c_acctbal
                ELSE $drifted END AS acctbal,
           CASE WHEN $inTgt THEN 'LEGACY' ELSE 'NEW' END AS segment,
           CASE WHEN NOT ($inTgt) THEN CAST(c_nationkey AS BIGINT)
                WHEN c_custkey % 4 = 0 AND ($inSrc AND c_custkey % 97 = 0)
                  THEN CAST(c_nationkey AS BIGINT)
                WHEN c_custkey % 4 = 0 THEN NULL
                ELSE CAST(99 AS BIGINT) END AS nation
           FROM customer
           WHERE ($inTgt) OR ($inSrc AND c_custkey % 97 = 0)""",
      "manifest_delta_small" ->
        s"""SELECT c_custkey AS id, c_name AS name,
           CASE WHEN ($inSrc AND c_custkey % 97 = 0) THEN c_acctbal
                ELSE $drifted END AS acctbal,
           CASE WHEN $inTgt THEN 'LEGACY' ELSE 'NEW' END AS segment,
           CASE WHEN NOT ($inTgt) THEN CAST(c_nationkey AS BIGINT)
                WHEN c_custkey % 4 = 0 AND ($inSrc AND c_custkey % 97 = 0)
                  THEN CAST(c_nationkey AS BIGINT)
                WHEN c_custkey % 4 = 0 THEN NULL
                ELSE CAST(99 AS BIGINT) END AS nation
           FROM customer
           WHERE ($inTgt) OR ($inSrc AND c_custkey % 97 = 0)""",
      "manifest_incr_agg" ->
        s"""WITH m AS (
             SELECT c_custkey AS id,
               CASE WHEN $inSrc THEN c_acctbal ELSE $drifted END AS acctbal,
               CASE WHEN $inTgt THEN 'LEGACY' ELSE 'NEW' END AS segment
             FROM customer WHERE ($inTgt) OR ($inSrc))
           SELECT segment, count(*) AS n_rows,
             CAST(sum(CAST(coalesce(acctbal, 0) AS DECIMAL(30,2)))
               AS DOUBLE) AS sum_acctbal
           FROM m GROUP BY segment""",
      "manifest_count" ->
        s"""SELECT count(*) AS n_rows FROM customer
           WHERE ($inTgt) OR ($inSrc)""",
      "manifest_ttl" ->
        s"""SELECT c_custkey AS id, c_name AS name,
             c_acctbal AS acctbal,
             CAST(3786825600000 AS BIGINT) AS ts
           FROM customer WHERE c_custkey % 3 <> 1""",
      "manifest_delete_where" ->
        s"""SELECT * FROM (
           SELECT c_custkey AS id, c_name AS name,
           CASE WHEN $inSrc THEN c_acctbal ELSE $drifted END AS acctbal,
           CASE WHEN $inTgt THEN 'LEGACY' ELSE 'NEW' END AS segment,
           CASE WHEN NOT ($inTgt) THEN CAST(c_nationkey AS BIGINT)
                WHEN c_custkey % 4 = 0 AND ($inSrc) THEN CAST(c_nationkey AS BIGINT)
                WHEN c_custkey % 4 = 0 THEN NULL
                ELSE CAST(99 AS BIGINT) END AS nation
           FROM customer WHERE ($inTgt) OR ($inSrc))
           WHERE NOT (segment = 'NEW' AND acctbal < 3000)""",
      "manifest_minmax" ->
        s"""SELECT count(*) AS n_rows,
           min(CASE WHEN $inSrc THEN c_acctbal ELSE $drifted END)
             AS min_bal,
           max(CASE WHEN $inSrc THEN c_acctbal ELSE $drifted END)
             AS max_bal
           FROM customer WHERE ($inTgt) OR ($inSrc)""",
      "manifest_index" ->
        s"""SELECT CASE WHEN $inTgt THEN 'LEGACY' ELSE 'NEW' END
             AS segment, c_custkey AS id
           FROM customer
           WHERE (($inTgt) OR ($inSrc))
             AND c_custkey NOT IN (${(1 to 10).map(_ * 13).mkString(", ")})""",
      "manifest_index_sharded" ->
        s"""SELECT CASE WHEN $inTgt THEN 'LEGACY' ELSE 'NEW' END
             AS segment, c_custkey AS id
           FROM customer
           WHERE (($inTgt) OR ($inSrc))
             AND c_custkey NOT IN (${(1 to 10).map(_ * 13).mkString(", ")})""",
      "manifest_bloom" ->
        s"""SELECT c_custkey AS id, c_name AS name,
           CASE WHEN $inSrc THEN c_acctbal ELSE $drifted END AS acctbal,
           CASE WHEN $inTgt THEN 'LEGACY' ELSE 'NEW' END AS segment,
           CASE WHEN NOT ($inTgt) THEN CAST(c_nationkey AS BIGINT)
                WHEN c_custkey % 4 = 0 AND ($inSrc) THEN CAST(c_nationkey AS BIGINT)
                WHEN c_custkey % 4 = 0 THEN NULL
                ELSE CAST(99 AS BIGINT) END AS nation
           FROM customer WHERE (($inTgt) OR ($inSrc))
             AND c_name = 'Customer#000000042'""",
      "manifest_index_range" ->
        s"""SELECT c_custkey AS id, c_name AS name
           FROM customer
           WHERE (($inTgt) OR ($inSrc))
             AND c_custkey NOT IN (${(1 to 10).map(_ * 13).mkString(", ")})
             AND c_name BETWEEN '$RangeProbeLo' AND '$RangeProbeHi'""",
      "manifest_mv" ->
        s"""WITH m AS (
             SELECT c_custkey AS id,
               CASE WHEN $inSrc THEN c_acctbal ELSE $drifted END AS acctbal,
               CASE WHEN $inTgt THEN 'LEGACY' ELSE 'NEW' END AS segment
             FROM customer WHERE ($inTgt) OR ($inSrc))
           SELECT segment, count(*) AS n_rows,
             CAST(sum(CAST(coalesce(acctbal, 0) AS DECIMAL(30,2)))
               AS DOUBLE) AS sum_acctbal,
             min(acctbal) AS min_acctbal, max(acctbal) AS max_acctbal
           FROM m GROUP BY segment""",
      "manifest_mv_multi" ->
        s"""WITH m AS (
             SELECT c_custkey AS id,
               CASE WHEN $inSrc THEN c_acctbal ELSE $drifted END AS acctbal,
               CASE WHEN $inTgt THEN 'LEGACY' ELSE 'NEW' END AS segment,
               CASE WHEN NOT ($inTgt) THEN CAST(c_nationkey AS BIGINT)
                    WHEN c_custkey % 4 = 0 AND ($inSrc)
                      THEN CAST(c_nationkey AS BIGINT)
                    WHEN c_custkey % 4 = 0 THEN NULL
                    ELSE CAST(99 AS BIGINT) END AS nation
             FROM customer WHERE ($inTgt) OR ($inSrc))
           SELECT segment, coalesce(nation, -1) AS nation_g,
             count(*) AS n_rows,
             CAST(sum(CAST(coalesce(acctbal, 0) AS DECIMAL(30,2)))
               AS DOUBLE) AS sum_acctbal,
             min(acctbal) AS min_acctbal, max(acctbal) AS max_acctbal
           FROM m GROUP BY 1, 2""",
      "manifest_incr_minmax" ->
        s"""WITH m AS (
             SELECT c_custkey AS id,
               CASE WHEN $inSrc THEN c_acctbal ELSE $drifted END AS acctbal,
               CASE WHEN $inTgt THEN 'LEGACY' ELSE 'NEW' END AS segment
             FROM customer WHERE ($inTgt) OR ($inSrc)),
           d AS (
             SELECT id FROM (
               SELECT id, row_number() OVER (PARTITION BY segment
                 ORDER BY acctbal DESC, id) AS rn
               FROM m WHERE acctbal IS NOT NULL) WHERE rn <= 3)
           SELECT segment, count(*) AS n_rows,
             CAST(sum(CAST(coalesce(acctbal, 0) AS DECIMAL(30,2)))
               AS DOUBLE) AS sum_acctbal,
             min(acctbal) AS min_acctbal, max(acctbal) AS max_acctbal
           FROM m WHERE id NOT IN (SELECT id FROM d) GROUP BY segment""",
      "manifest_delete" ->
        s"""SELECT c_custkey AS id, c_name AS name,
           CASE WHEN $inSrc THEN c_acctbal ELSE $drifted END AS acctbal,
           CASE WHEN $inTgt THEN 'LEGACY' ELSE 'NEW' END AS segment,
           CASE WHEN NOT ($inTgt) THEN CAST(c_nationkey AS BIGINT)
                WHEN c_custkey % 4 = 0 AND ($inSrc) THEN CAST(c_nationkey AS BIGINT)
                WHEN c_custkey % 4 = 0 THEN NULL
                ELSE CAST(99 AS BIGINT) END AS nation
           FROM customer WHERE (($inTgt) OR ($inSrc))
             AND c_custkey NOT IN (13,26,39,52,65,78,91,104,117,130)""",
      "manifest_read" ->
        s"""SELECT c_custkey AS id, c_name AS name,
           CASE WHEN $inSrc THEN c_acctbal ELSE $drifted END AS acctbal,
           CASE WHEN $inTgt THEN 'LEGACY' ELSE 'NEW' END AS segment,
           CASE WHEN NOT ($inTgt) THEN CAST(c_nationkey AS BIGINT)
                WHEN c_custkey % 4 = 0 AND ($inSrc) THEN CAST(c_nationkey AS BIGINT)
                WHEN c_custkey % 4 = 0 THEN NULL
                ELSE CAST(99 AS BIGINT) END AS nation
           FROM customer WHERE (($inTgt) OR ($inSrc))
             AND c_custkey NOT IN (13,26,39,52,65,78,91,104,117,130)""",
      "manifest_bucket_split" ->
        s"""SELECT c_custkey AS id, c_name AS name,
           CASE WHEN $inSrc THEN c_acctbal ELSE $drifted END AS acctbal,
           CASE WHEN $inTgt THEN 'LEGACY' ELSE 'NEW' END AS segment,
           CASE WHEN NOT ($inTgt) THEN CAST(c_nationkey AS BIGINT)
                WHEN c_custkey % 4 = 0 AND ($inSrc) THEN CAST(c_nationkey AS BIGINT)
                WHEN c_custkey % 4 = 0 THEN NULL
                ELSE CAST(99 AS BIGINT) END AS nation
           FROM customer WHERE (($inTgt) OR ($inSrc))
             AND c_custkey NOT IN (13,26,39,52,65,78,91,104,117,130)""",
      "manifest_delete_delta" ->
        s"""SELECT c_custkey AS id, c_name AS name,
           CASE WHEN $inSrc THEN c_acctbal ELSE $drifted END AS acctbal,
           CASE WHEN $inTgt THEN 'LEGACY' ELSE 'NEW' END AS segment,
           CASE WHEN NOT ($inTgt) THEN CAST(c_nationkey AS BIGINT)
                WHEN c_custkey % 4 = 0 AND ($inSrc) THEN CAST(c_nationkey AS BIGINT)
                WHEN c_custkey % 4 = 0 THEN NULL
                ELSE CAST(99 AS BIGINT) END AS nation
           FROM customer WHERE (($inTgt) OR ($inSrc))
             AND c_custkey NOT IN (13,26,39,52,65,78,91,104,117,130)""",
      // the branch's erasure, landed on the source by the merge-back:
      // the same final state as manifest_delete's in-place erasure
      "manifest_merge_branch" ->
        s"""SELECT c_custkey AS id, c_name AS name,
           CASE WHEN $inSrc THEN c_acctbal ELSE $drifted END AS acctbal,
           CASE WHEN $inTgt THEN 'LEGACY' ELSE 'NEW' END AS segment,
           CASE WHEN NOT ($inTgt) THEN CAST(c_nationkey AS BIGINT)
                WHEN c_custkey % 4 = 0 AND ($inSrc) THEN CAST(c_nationkey AS BIGINT)
                WHEN c_custkey % 4 = 0 THEN NULL
                ELSE CAST(99 AS BIGINT) END AS nation
           FROM customer WHERE (($inTgt) OR ($inSrc))
             AND c_custkey NOT IN (13,26,39,52,65,78,91,104,117,130)""",
      // the merged state untouched: the constraint rejected the
      // violating UPDATE before anything committed
      "manifest_constraint" ->
        s"""SELECT c_custkey AS id, c_name AS name,
           CASE WHEN $inSrc THEN c_acctbal ELSE $drifted END AS acctbal,
           CASE WHEN $inTgt THEN 'LEGACY' ELSE 'NEW' END AS segment,
           CASE WHEN NOT ($inTgt) THEN CAST(c_nationkey AS BIGINT)
                WHEN c_custkey % 4 = 0 AND ($inSrc) THEN CAST(c_nationkey AS BIGINT)
                WHEN c_custkey % 4 = 0 THEN NULL
                ELSE CAST(99 AS BIGINT) END AS nation
           FROM customer WHERE ($inTgt) OR ($inSrc)""",
      // the exact halves of the stats fold (row/null counts per
      // column) over the merged state; COUNT(CASE...) keeps DuckDB in
      // BIGINT (its SUM would widen to HUGEINT and hash-mismatch)
      "manifest_analyze" ->
        s"""WITH merged AS (
           SELECT c_custkey AS id, c_name AS name,
           CASE WHEN $inSrc THEN c_acctbal ELSE $drifted END AS acctbal,
           CASE WHEN $inTgt THEN 'LEGACY' ELSE 'NEW' END AS segment,
           CASE WHEN NOT ($inTgt) THEN CAST(c_nationkey AS BIGINT)
                WHEN c_custkey % 4 = 0 AND ($inSrc) THEN CAST(c_nationkey AS BIGINT)
                WHEN c_custkey % 4 = 0 THEN NULL
                ELSE CAST(99 AS BIGINT) END AS nation
           FROM customer WHERE ($inTgt) OR ($inSrc))
           SELECT 'segment' AS col_name,
             CAST(COUNT(*) AS BIGINT) AS row_count,
             CAST(COUNT(CASE WHEN segment IS NULL THEN 1 END) AS BIGINT)
               AS null_count FROM merged
           UNION ALL
           SELECT 'nation',
             CAST(COUNT(*) AS BIGINT),
             CAST(COUNT(CASE WHEN nation IS NULL THEN 1 END) AS BIGINT)
           FROM merged""",
      // the clone serves the same merged-minus-deleted state as
      // manifest_delete, through ext-resolved base files
      "manifest_clone" ->
        s"""SELECT c_custkey AS id, c_name AS name,
           CASE WHEN $inSrc THEN c_acctbal ELSE $drifted END AS acctbal,
           CASE WHEN $inTgt THEN 'LEGACY' ELSE 'NEW' END AS segment,
           CASE WHEN NOT ($inTgt) THEN CAST(c_nationkey AS BIGINT)
                WHEN c_custkey % 4 = 0 AND ($inSrc) THEN CAST(c_nationkey AS BIGINT)
                WHEN c_custkey % 4 = 0 THEN NULL
                ELSE CAST(99 AS BIGINT) END AS nation
           FROM customer WHERE (($inTgt) OR ($inSrc))
             AND c_custkey NOT IN (13,26,39,52,65,78,91,104,117,130)""",
      "manifest_auto_compact" ->
        s"""SELECT c_custkey AS id, c_name AS name,
           CASE WHEN $inSrc THEN c_acctbal ELSE $drifted END AS acctbal,
           CASE WHEN $inTgt THEN 'LEGACY' ELSE 'NEW' END AS segment,
           CASE WHEN NOT ($inTgt) THEN CAST(c_nationkey AS BIGINT)
                WHEN c_custkey % 4 = 0 AND ($inSrc) THEN CAST(c_nationkey AS BIGINT)
                WHEN c_custkey % 4 = 0 THEN NULL
                ELSE CAST(99 AS BIGINT) END AS nation
           FROM customer WHERE (($inTgt) OR ($inSrc))
             AND c_custkey NOT IN (13,26,39,52,65,78,91,104,117,130)""",
      // the merged state restricted to the probed acctbal range (BETWEEN
      // never matches NULL — both engines agree)
      "manifest_zone_range" ->
        s"""SELECT * FROM (
           SELECT c_custkey AS id, c_name AS name,
           CASE WHEN $inSrc THEN c_acctbal ELSE $drifted END AS acctbal,
           CASE WHEN $inTgt THEN 'LEGACY' ELSE 'NEW' END AS segment,
           CASE WHEN NOT ($inTgt) THEN CAST(c_nationkey AS BIGINT)
                WHEN c_custkey % 4 = 0 AND ($inSrc) THEN CAST(c_nationkey AS BIGINT)
                WHEN c_custkey % 4 = 0 THEN NULL
                ELSE CAST(99 AS BIGINT) END AS nation
           FROM customer WHERE ($inTgt) OR ($inSrc))
           WHERE acctbal BETWEEN 1000 AND 5000""",
      // the auto-maintained variant: same range read after a targeted
      // delete of key 42 (the commit that exercised maintenance)
      "manifest_auto_maintain" ->
        s"""SELECT * FROM (
           SELECT c_custkey AS id, c_name AS name,
           CASE WHEN $inSrc THEN c_acctbal ELSE $drifted END AS acctbal,
           CASE WHEN $inTgt THEN 'LEGACY' ELSE 'NEW' END AS segment,
           CASE WHEN NOT ($inTgt) THEN CAST(c_nationkey AS BIGINT)
                WHEN c_custkey % 4 = 0 AND ($inSrc) THEN CAST(c_nationkey AS BIGINT)
                WHEN c_custkey % 4 = 0 THEN NULL
                ELSE CAST(99 AS BIGINT) END AS nation
           FROM customer WHERE (($inTgt) OR ($inSrc)) AND c_custkey <> 42)
           WHERE acctbal BETWEEN 1000 AND 5000""",
      // SQL UPDATE + MERGE INTO final state, recomputed directly:
      // the +100 UPDATE on id%7=0; the id%10=4 slice merged (deleted
      // when the updated balance was negative, else name+'+' and
      // balance = 2*orig + updated); the id%10=7 slice re-inserted
      // under shifted keys
      "manifest_sql_merge" -> sqlMergeOracle,
      // identical final state through the PATH faces (graft.`/path`
      // idents + the token-disciplined graft_update function)
      "manifest_sql_merge_path" -> sqlMergeOracle,
      // the catalog lifecycle's final state: bulk insert, then the
      // id%10 slice re-upserted with +1000 balances (last-wins)
      "manifest_catalog" ->
        s"""SELECT c_custkey AS id, c_name AS name,
           CASE WHEN c_custkey % 10 = 0
             THEN CAST(c_acctbal AS DOUBLE) + 1000
             ELSE CAST(c_acctbal AS DOUBLE) END AS acctbal
           FROM customer WHERE c_custkey NOT IN (3, 7, 13)""",
      // clusterBy is a pure re-layout: the expected values are exactly
      // manifest_zone_range's (same merged state, same BETWEEN)
      "manifest_zone_clustered" ->
        s"""SELECT * FROM (
           SELECT c_custkey AS id, c_name AS name,
           CASE WHEN $inSrc THEN c_acctbal ELSE $drifted END AS acctbal,
           CASE WHEN $inTgt THEN 'LEGACY' ELSE 'NEW' END AS segment,
           CASE WHEN NOT ($inTgt) THEN CAST(c_nationkey AS BIGINT)
                WHEN c_custkey % 4 = 0 AND ($inSrc) THEN CAST(c_nationkey AS BIGINT)
                WHEN c_custkey % 4 = 0 THEN NULL
                ELSE CAST(99 AS BIGINT) END AS nation
           FROM customer WHERE ($inTgt) OR ($inSrc))
           WHERE acctbal BETWEEN 1000 AND 5000""",
      // the incremental-recluster lifecycle's final state: the merged
      // fixture minus the 10-key drift delete, same BETWEEN — a pure
      // re-layout changes no values. Shared verbatim by the DECLARED
      // variant (manifest_auto_recluster): the commit hook must land
      // the exact state the explicit call does.
      "manifest_recluster" -> reclusterOracle(inTgt, inSrc, drifted),
      "manifest_auto_recluster" -> reclusterOracle(inTgt, inSrc, drifted),
      "manifest_zorder" ->
        s"""SELECT * FROM (
           SELECT c_custkey AS id, c_name AS name,
           CASE WHEN $inSrc THEN c_acctbal ELSE $drifted END AS acctbal,
           CASE WHEN $inTgt THEN 'LEGACY' ELSE 'NEW' END AS segment,
           CASE WHEN NOT ($inTgt) THEN CAST(c_nationkey AS BIGINT)
                WHEN c_custkey % 4 = 0 AND ($inSrc) THEN CAST(c_nationkey AS BIGINT)
                WHEN c_custkey % 4 = 0 THEN NULL
                ELSE CAST(99 AS BIGINT) END AS nation
           FROM customer WHERE ($inTgt) OR ($inSrc))
           WHERE acctbal BETWEEN 1000 AND 5000
             AND name BETWEEN 'Customer#000000030'
                          AND 'Customer#000000899'""",
      // restore rewinds the delete: the expected state is the merged
      // state as if the erasure never happened — manifest_merge's shape
      "manifest_restore" ->
        s"""SELECT c_custkey AS id, c_name AS name,
           CASE WHEN $inSrc THEN c_acctbal ELSE $drifted END AS acctbal,
           CASE WHEN $inTgt THEN 'LEGACY' ELSE 'NEW' END AS segment,
           CASE WHEN NOT ($inTgt) THEN CAST(c_nationkey AS BIGINT)
                WHEN c_custkey % 4 = 0 AND ($inSrc) THEN CAST(c_nationkey AS BIGINT)
                WHEN c_custkey % 4 = 0 THEN NULL
                ELSE CAST(99 AS BIGINT) END AS nation
           FROM customer WHERE ($inTgt) OR ($inSrc)""",
      "manifest_scan_pruned" ->
        s"""SELECT c_custkey AS id, c_name AS name,
           CASE WHEN $inSrc THEN c_acctbal ELSE $drifted END AS acctbal,
           CASE WHEN $inTgt THEN 'LEGACY' ELSE 'NEW' END AS segment,
           CASE WHEN NOT ($inTgt) THEN CAST(c_nationkey AS BIGINT)
                WHEN c_custkey % 4 = 0 AND ($inSrc) THEN CAST(c_nationkey AS BIGINT)
                WHEN c_custkey % 4 = 0 THEN NULL
                ELSE CAST(99 AS BIGINT) END AS nation
           FROM customer WHERE (($inTgt) OR ($inSrc))
             AND c_custkey IN (2, 5, 170, 1202)""",
      "manifest_write_format" ->
        s"""SELECT c_custkey AS id, c_name AS name,
           CASE WHEN $inSrc THEN c_acctbal ELSE $drifted END AS acctbal,
           CASE WHEN $inSrc THEN 'NEW' ELSE 'LEGACY' END AS segment,
           CASE WHEN $inSrc THEN CAST(c_nationkey AS BIGINT)
                ELSE $tgtNation END AS nation
           FROM customer WHERE ($inTgt) OR ($inSrc)""",
      "manifest_bucket_join" ->
        s"""WITH m AS (
             SELECT c_custkey AS id, c_name AS name,
               CASE WHEN $inTgt THEN 'LEGACY' ELSE 'NEW' END AS segment
             FROM customer WHERE ($inTgt) OR ($inSrc)),
           o AS (
             SELECT o_custkey AS id, count(*) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE)
                 AS total_price
             FROM orders GROUP BY 1)
           SELECT m.id, m.name, m.segment, o.n_orders, o.total_price
           FROM m JOIN o USING (id)""",
      "upsert_create_only" ->
        s"""SELECT c_custkey AS id, c_name AS name,
           CASE WHEN $inTgt THEN $drifted ELSE c_acctbal END AS acctbal,
           CASE WHEN $inTgt THEN 'LEGACY' ELSE 'NEW' END AS segment,
           CASE WHEN $inTgt THEN $tgtNation ELSE CAST(c_nationkey AS BIGINT) END AS nation
           FROM customer WHERE ($inTgt) OR ($inSrc)""",
      "upsert_update_only" ->
        s"""SELECT c_custkey AS id, c_name AS name,
           CASE WHEN $inSrc THEN c_acctbal ELSE $drifted END AS acctbal,
           'LEGACY' AS segment,
           CASE WHEN c_custkey % 4 = 0 AND ($inSrc) THEN CAST(c_nationkey AS BIGINT)
                WHEN c_custkey % 4 = 0 THEN NULL
                ELSE CAST(99 AS BIGINT) END AS nation
           FROM customer WHERE $inTgt""",
      "upsert_history" ->
        s"""SELECT c_custkey AS id,
           $drifted AS old_acctbal, c_acctbal AS new_acctbal
           FROM customer
           WHERE ($inTgt) AND ($inSrc) AND c_custkey % 5 = 0""",
      "upsert_skew" ->
        s"""WITH src AS (
             SELECT CASE WHEN o_orderkey % 10 = 0 THEN 42 ELSE o_orderkey END AS id,
               arg_max(o_totalprice, o_orderkey) AS sprice,
               arg_max(o_orderstatus, o_orderkey) AS sstatus
             FROM orders GROUP BY 1),
           tgt AS (
             SELECT o_orderkey AS id, o_totalprice AS tprice,
               o_orderstatus AS tstatus
             FROM orders WHERE o_orderkey % 3 <> 0)
           SELECT coalesce(t.id, s.id) AS id,
             CASE WHEN s.id IS NOT NULL THEN s.sprice ELSE t.tprice END AS price,
             CASE WHEN s.id IS NOT NULL THEN s.sstatus ELSE t.tstatus END AS status
           FROM tgt t FULL OUTER JOIN src s ON t.id = s.id""",
      "upsert_not_found" ->
        s"""SELECT c_custkey AS id, c_name AS name, $drifted AS acctbal,
           'LEGACY' AS segment, $tgtNation AS nation
           FROM customer WHERE ($inTgt) AND NOT ($inSrc)""",
      "upsert_reject_nonnull" ->
        s"""SELECT c_custkey AS id, c_name AS name,
           CASE WHEN ($inSrc) AND c_custkey % 11 <> 0 THEN c_acctbal ELSE $drifted END AS acctbal,
           CASE WHEN $inTgt THEN 'LEGACY' ELSE 'NEW' END AS segment,
           CASE WHEN NOT ($inTgt) THEN CAST(c_nationkey AS BIGINT)
                WHEN c_custkey % 4 = 0 AND ($inSrc) AND c_custkey % 11 <> 0 THEN CAST(c_nationkey AS BIGINT)
                WHEN c_custkey % 4 = 0 THEN NULL
                ELSE CAST(99 AS BIGINT) END AS nation
           FROM customer
           WHERE ($inTgt) OR (($inSrc) AND c_custkey % 11 <> 0)""",
      "upsert_stats" ->
        s"""SELECT
           CAST(sum(CASE WHEN ($inSrc) AND NOT ($ign) THEN 1 ELSE 0 END) AS BIGINT) AS read_keys,
           CAST(sum(CASE WHEN ($inSrc) AND NOT ($ign) AND NOT ($inTgt) THEN 1 ELSE 0 END) AS BIGINT) AS created,
           CAST(sum(CASE WHEN ($inSrc) AND NOT ($ign) AND ($inTgt) AND (c_custkey % 5 = 0 OR c_custkey % 4 = 0) THEN 1 ELSE 0 END) AS BIGINT) AS updated,
           CAST(0 AS BIGINT) AS rejected,
           CAST(0 AS BIGINT) AS ignored_not_created,
           CAST(0 AS BIGINT) AS ignored_not_updated,
           CAST(sum(CASE WHEN ($inTgt) AND NOT (($inSrc) AND NOT ($ign)) THEN 1 ELSE 0 END) AS BIGINT) AS not_found,
           CAST(0 AS BIGINT) AS ignored_missing_id,
           CAST(sum(CASE WHEN ($inSrc) AND ($ign) THEN 1 ELSE 0 END) AS BIGINT) AS ignored
           FROM customer""",
      "revenue_by_region" ->
        s"""SELECT r_name,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           count(*) AS n_orders
           FROM orders
           JOIN customer ON o_custkey = c_custkey
           JOIN nation ON c_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey
           GROUP BY r_name""",
      "orders_moving_sum" ->
        s"""SELECT o_orderkey, o_custkey,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate
             RANGE BETWEEN INTERVAL 7 DAYS PRECEDING AND CURRENT ROW)
             AS DOUBLE) AS mv_sum
           FROM orders""",
      "text_repetition" ->
        s"""WITH p AS (SELECT doc_id,
             CASE WHEN doc_id % 3 = 0
               THEN text || chr(10) || 'BOILER' || chr(10) || 'BOILER'
                 || chr(10) || chr(10) || text
               ELSE text || chr(10) || 'uq-' || CAST(doc_id AS VARCHAR)
             END AS t
             FROM documents WHERE doc_id % 10 = 0),
           l AS (SELECT doc_id,
             list_filter(list_transform(string_split(t, chr(10)),
               x -> trim(x)), x -> x <> '') AS lines,
             list_filter(list_transform(
               string_split_regex(t, '\\n[ ]*\\n([ ]*\\n)*'),
               seg -> list_aggr(list_filter(list_transform(
                 string_split(seg, chr(10)), x -> trim(x)), x -> x <> ''),
                 'string_agg', chr(10))),
               seg -> seg IS NOT NULL AND seg <> '') AS paras
             FROM p)
           SELECT doc_id,
             CASE WHEN len(lines) = 0 THEN 0.0
               ELSE 1.0 - CAST(len(list_distinct(lines)) AS DOUBLE) / len(lines)
             END AS dup_line_frac,
             CASE WHEN len(paras) = 0 THEN 0.0
               ELSE 1.0 - CAST(len(list_distinct(paras)) AS DOUBLE) / len(paras)
             END AS dup_para_frac,
             CASE WHEN coalesce(list_aggr(list_transform(lines, x -> len(x)),
                 'sum'), 0) = 0 THEN 0.0
               ELSE CAST(coalesce(list_aggr(list_transform(
                 list_filter(list_distinct(lines),
                   d -> len(list_filter(lines, x -> x = d)) >= 2),
                 d -> len(d) * len(list_filter(lines, x -> x = d))),
                 'sum'), 0) AS DOUBLE) /
                 list_aggr(list_transform(lines, x -> len(x)), 'sum')
             END AS dup_line_char_frac
           FROM l""",
      "text_chunk" ->
        s"""WITH d AS (SELECT doc_id,
             string_split_regex(text, '\\s+') AS t
             FROM documents WHERE doc_id % 20 = 0),
           c AS (SELECT doc_id, t, unnest(range(0,
               ((greatest(len(t) - 16, 0) + 11) // 12) * 12 + 1, 12)) AS st
             FROM d)
           SELECT doc_id, CAST(st // 12 AS INT) AS chunk_id,
             array_to_string(list_slice(t, st + 1, st + 16), ' ')
               AS chunk_text,
             CAST(least(16, len(t) - st) AS INT) AS n_tokens
           FROM c""",
      "dsir_score" ->
        s"""WITH tok AS (SELECT doc_id, lang, ${tokSqlOf("text")} AS tk
             FROM documents),
           g AS (SELECT doc_id, lang, unnest(list_concat(tk,
               CASE WHEN len(tk) < 2 THEN [array_to_string(tk, ' ')]
               ELSE list_transform(range(1, len(tk)),
                 i -> tk[i] || ' ' || tk[i+1]) END)) AS g
             FROM tok),
           gb AS (SELECT doc_id, lang, substring(md5(g), 1, 2) AS bucket
             FROM g),
           tc AS (SELECT bucket, count(*) AS tc FROM gb
             WHERE lang = 'en' GROUP BY bucket),
           bc AS (SELECT bucket, count(*) AS bc FROM gb GROUP BY bucket),
           tt AS (SELECT count(*) AS t FROM gb WHERE lang = 'en'),
           bt AS (SELECT count(*) AS b FROM gb),
           w AS (SELECT bc.bucket,
               CAST(round((ln((COALESCE(tc.tc, 0) + 1.0) / (tt.t + 256.0))
                 - ln((bc.bc + 1.0) / (bt.b + 256.0))) * 1000) AS BIGINT)
                 AS w
             FROM bc LEFT JOIN tc ON bc.bucket = tc.bucket, tt, bt)
           SELECT gb.doc_id,
             CAST(sum(COALESCE(w.w, 0)) AS BIGINT) AS dsir_score
           FROM gb LEFT JOIN w ON gb.bucket = w.bucket
           GROUP BY gb.doc_id""",
      "bpe_encode" ->
        s"""WITH RECURSIVE
           tok AS (SELECT doc_id, ${tokSqlOf("text")} AS tk
             FROM documents),
           words AS (SELECT doc_id,
               unnest(range(1, len(tk) + 1)) AS wi, unnest(tk) AS w
             FROM tok),
           nz AS (SELECT doc_id, wi, w FROM words WHERE w <> ''),
           enc AS (
             SELECT doc_id, wi, list_append(
                 list_transform(range(1, length(w) + 1),
                   i -> substring(w, i, 1)), '</w>') AS t
             FROM nz
             UNION ALL
             SELECT doc_id, wi, list_concat(list_concat(
                 t[1:ix-1], [t[ix] || t[ix+1]]), t[ix+2:]) AS t
             FROM (
               SELECT doc_id, wi, t,
                 list_min(list_transform(range(1, len(t)), j ->
                   CASE t[j] || ' ' || t[j+1]
                     WHEN 'e </w>' THEN 0 WHEN 'l e</w>' THEN 1
                     WHEN 't a' THEN 2 WHEN 'ta b' THEN 3
                     WHEN 'tab le</w>' THEN 4 WHEN 'a t' THEN 5
                     ELSE NULL END)) AS br,
                 list_filter(range(1, len(t)), i ->
                   CASE t[i] || ' ' || t[i+1]
                     WHEN 'e </w>' THEN 0 WHEN 'l e</w>' THEN 1
                     WHEN 't a' THEN 2 WHEN 'ta b' THEN 3
                     WHEN 'tab le</w>' THEN 4 WHEN 'a t' THEN 5
                     ELSE NULL END IS NOT DISTINCT FROM
                   list_min(list_transform(range(1, len(t)), j ->
                     CASE t[j] || ' ' || t[j+1]
                       WHEN 'e </w>' THEN 0 WHEN 'l e</w>' THEN 1
                       WHEN 't a' THEN 2 WHEN 'ta b' THEN 3
                       WHEN 'tab le</w>' THEN 4 WHEN 'a t' THEN 5
                       ELSE NULL END)))[1] AS ix
               FROM enc) s
             WHERE br IS NOT NULL),
           fin AS (SELECT doc_id, wi, t FROM enc
             WHERE list_min(list_transform(range(1, len(t)), j ->
               CASE t[j] || ' ' || t[j+1]
                 WHEN 'e </w>' THEN 0 WHEN 'l e</w>' THEN 1
                 WHEN 't a' THEN 2 WHEN 'ta b' THEN 3
                 WHEN 'tab le</w>' THEN 4 WHEN 'a t' THEN 5
                 ELSE NULL END)) IS NULL),
           agg AS (SELECT doc_id, CAST(sum(len(t)) AS BIGINT) AS n_bpe,
               string_agg(array_to_string(t, ' '), ' ' ORDER BY wi)
                 AS bpe_text
             FROM fin GROUP BY doc_id)
           SELECT d.doc_id, COALESCE(a.n_bpe, 0) AS n_bpe,
             COALESCE(a.bpe_text, '') AS bpe_text
           FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id""",
      "lm_score" ->
        s"""WITH tok AS (SELECT doc_id, source,
             ${tokSqlOf("coalesce(text, '')")} AS tk
             FROM documents),
           ru AS (SELECT unnest(tk) AS w FROM tok WHERE source = 'src0'),
           u AS (SELECT substring(md5(w), 1, 4) AS b, count(*) AS c1
             FROM ru GROUP BY 1),
           nt AS (SELECT count(*) AS n FROM ru),
           rb AS (SELECT unnest(list_transform(range(1, len(tk)),
               i -> tk[i] || ' ' || tk[i+1])) AS g
             FROM tok WHERE source = 'src0' AND len(tk) >= 2),
           bi AS (SELECT substring(md5(g), 1, 4) AS b, count(*) AS c2
             FROM rb GROUP BY 1),
           fst AS (SELECT doc_id, substring(md5(tk[1]), 1, 4) AS bw
             FROM tok),
           fc AS (SELECT doc_id, CAST(round((CASE
               WHEN u.c1 IS NOT NULL THEN ln(nt.n + 1.0) - ln(u.c1)
               ELSE ln(nt.n + 1.0) END) * 1000) AS BIGINT) AS cost
             FROM fst LEFT JOIN u ON fst.bw = u.b, nt),
           prs AS (SELECT doc_id, unnest(list_transform(range(1, len(tk)),
               i -> tk[i] || ' ' || tk[i+1])) AS g
             FROM tok WHERE len(tk) >= 2),
           pb AS (SELECT doc_id,
               substring(md5(g), 1, 4) AS b2,
               substring(md5(string_split(g, ' ')[1]), 1, 4) AS bp,
               substring(md5(string_split(g, ' ')[2]), 1, 4) AS bw
             FROM prs),
           pc AS (SELECT doc_id, CAST(round((CASE
               WHEN bi.c2 IS NOT NULL
                 THEN ln(greatest(COALESCE(up.c1, 0), bi.c2)) - ln(bi.c2)
               WHEN uw.c1 IS NOT NULL
                 THEN ln(2.5 * (nt.n + 1.0)) - ln(uw.c1)
               ELSE ln(2.5 * (nt.n + 1.0)) END) * 1000) AS BIGINT) AS cost
             FROM pb LEFT JOIN bi ON pb.b2 = bi.b
               LEFT JOIN u up ON pb.bp = up.b
               LEFT JOIN u uw ON pb.bw = uw.b, nt),
           allc AS (SELECT * FROM fc UNION ALL SELECT * FROM pc)
           SELECT doc_id, CAST(sum(cost) AS BIGINT) AS lm_cost,
             count(*) AS n_terms,
             CAST(sum(cost) AS BIGINT) // count(*) AS avg_cost_milli
           FROM allc GROUP BY doc_id""",
      "dedup_substrings" ->
        s"""WITH base AS (SELECT doc_id,
             CASE WHEN doc_id % 40 = 0 THEN '$SubstringBanner ' || text
                  ELSE text END AS text
             FROM documents WHERE doc_id % 20 = 0),
           t AS (SELECT doc_id,
             list_filter(string_split(regexp_replace(lower(text),
               '[^a-z0-9]+', ' ', 'g'), ' '), x -> x <> '') AS tk
             FROM base),
           t2 AS (SELECT * FROM t WHERE len(tk) > 0),
           wp AS (SELECT doc_id, tk, unnest(range(0,
               CASE WHEN len(tk) < 10 THEN 1 ELSE len(tk) - 9 END)) AS pos
             FROM t2),
           w AS (SELECT doc_id, pos,
             CASE WHEN len(tk) < 10 THEN array_to_string(tk, ' ')
                  ELSE array_to_string(list_slice(tk, pos + 1, pos + 10), ' ')
             END AS w
             FROM wp),
           f AS (SELECT w, count(*) AS n,
               min(doc_id * 1000000 + pos) AS fokey
             FROM w GROUP BY w),
           cut0 AS (SELECT w.doc_id, w.pos FROM w JOIN f ON w.w = f.w
             WHERE f.n > 1 AND (w.doc_id * 1000000 + w.pos) <> f.fokey),
           cuts AS (SELECT DISTINCT doc_id,
               pos + unnest(range(0, 10)) AS dp
             FROM cut0),
           dps AS (SELECT doc_id, list(dp) AS dps FROM cuts GROUP BY doc_id),
           o AS (SELECT t2.doc_id,
             array_to_string(list_filter(t2.tk, (x, i) ->
               dps.dps IS NULL OR NOT list_contains(dps.dps, i - 1)),
               ' ') AS text
             FROM t2 LEFT JOIN dps ON t2.doc_id = dps.doc_id)
           SELECT doc_id, text FROM o WHERE text <> ''""",
      "dedup_lines" ->
        s"""WITH p AS (SELECT doc_id,
             'SHARED HEADER' || chr(10) || text || chr(10) || 'FOOTER-'
               || CAST(doc_id % 5 AS VARCHAR) AS t
             FROM documents),
           l AS (SELECT doc_id, line, pos FROM (
               SELECT doc_id,
                 unnest(string_split(t, chr(10))) AS line,
                 unnest(range(1, len(string_split(t, chr(10))) + 1)) AS pos
               FROM p)
             WHERE trim(line) <> ''),
           c AS (SELECT line, min(doc_id * 1000000 + pos) AS fk
             FROM l GROUP BY line),
           k AS (SELECT l.doc_id, l.line, l.pos FROM l JOIN c
             ON l.line = c.line AND l.doc_id * 1000000 + l.pos = c.fk)
           SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text
           FROM k GROUP BY doc_id""",
      "mixture_sample" ->
        s"""WITH r AS (SELECT doc_id, source, n_chars,
             CAST(sum(n_chars) OVER (PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR) || 'mix1'), doc_id)
               AS BIGINT) AS cum_size
             FROM documents)
           SELECT doc_id, source, n_chars, cum_size FROM r
           WHERE cum_size <= CASE
             WHEN CAST(substring(source, 4) AS INT) >= 18 THEN 0.0
             WHEN CAST(substring(source, 4) AS INT) % 2 = 0 THEN 1600.0
             ELSE 400.0 END""",
      "cap_per_source" ->
        s"""WITH r AS (SELECT doc_id, source, n_chars,
             CAST(row_number() OVER (PARTITION BY source
               ORDER BY n_chars DESC, doc_id) AS INT) AS rank
             FROM documents)
           SELECT doc_id, source, n_chars, rank FROM r WHERE rank <= 5""",
      "hash_split" -> {
        val cut = f"${(0.9 * 4294967296.0).toLong}%08x"
        s"""SELECT doc_id,
           CASE WHEN substring(md5(CAST(doc_id AS VARCHAR) || 'v1'), 1, 8)
             < '$cut' THEN 'train' ELSE 'valid' END AS split
           FROM documents"""
      },
      "decontaminate" ->
        s"""WITH tok AS (SELECT doc_id, ${tokSqlOf("text")} AS t
             FROM documents),
           sh AS (SELECT doc_id, ${shingleSqlOf("t")} AS s FROM tok),
           bg AS (SELECT DISTINCT g FROM
             (SELECT unnest(s) AS g FROM sh WHERE doc_id % 17 = 3)),
           bad AS (SELECT DISTINCT doc_id FROM
             (SELECT doc_id, unnest(s) AS g FROM sh) cg
             WHERE g IN (SELECT g FROM bg))
           SELECT doc_id FROM documents
           WHERE doc_id NOT IN (SELECT doc_id FROM bad)""",
      "decontaminate_bloom" ->
        s"""WITH tok AS (SELECT doc_id, ${tokSqlOf("text")} AS t
             FROM documents),
           sh AS (SELECT doc_id, ${shingleSqlOf("t")} AS s FROM tok),
           bg AS (SELECT DISTINCT g FROM
             (SELECT unnest(s) AS g FROM sh WHERE doc_id % 17 = 3)),
           bad AS (SELECT DISTINCT doc_id FROM
             (SELECT doc_id, unnest(s) AS g FROM sh) cg
             WHERE g IN (SELECT g FROM bg))
           SELECT doc_id FROM documents
           WHERE doc_id NOT IN (SELECT doc_id FROM bad)""",
      "curate_corpus" ->
        s"""WITH base AS (SELECT doc_id, text,
             CAST(coalesce(length(text), 0) AS BIGINT) AS n_chars,
             CAST(CASE WHEN text IS NULL OR trim(text) = '' THEN 0 ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT) AS n_tokens,
             CAST(len(regexp_extract_all(text, '[[:punct:]]')) AS BIGINT) AS n_punct,
             CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS n_digits,
             len(list_filter($toksSql, x -> x IN ($stopEn))) AS n_stop,
             len(list_filter($toksSql, x -> x IN ($stopFr))) AS fr_hits,
             len(list_filter($toksSql, x -> x IN ($stopDe))) AS de_hits,
             len(list_filter($toksSql, x -> x IN ($stopEs))) AS es_hits
             FROM documents),
           m AS (SELECT doc_id, text, n_stop AS en_hits, fr_hits, de_hits, es_hits,
             CASE WHEN n_tokens > 0 THEN CAST(n_chars - (n_tokens - 1) AS DOUBLE) / CAST(n_tokens AS DOUBLE) ELSE 0.0 END AS mean_token_len,
             CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / CAST(n_chars AS DOUBLE) ELSE 0.0 END AS punct_ratio,
             CASE WHEN n_chars > 0 THEN CAST(n_digits AS DOUBLE) / CAST(n_chars AS DOUBLE) ELSE 0.0 END AS digit_ratio,
             CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) ELSE 0.0 END AS stopword_ratio,
             n_tokens
             FROM base),
           scored AS (SELECT doc_id, text, en_hits, fr_hits, de_hits, es_hits,
             CAST((CASE WHEN n_tokens >= 5 AND n_tokens <= 100000 THEN 1 ELSE 0 END
                 + CASE WHEN mean_token_len >= 2.0 AND mean_token_len <= 12.0 THEN 1 ELSE 0 END
                 + CASE WHEN punct_ratio <= 0.2 THEN 1 ELSE 0 END
                 + CASE WHEN digit_ratio <= 0.3 THEN 1 ELSE 0 END
                 + CASE WHEN stopword_ratio >= 0.01 THEN 1 ELSE 0 END) AS DOUBLE) / 5 AS quality_score
             FROM m),
           kept AS (SELECT doc_id,
             regexp_replace(
               regexp_replace(
                 regexp_replace(text, 'https?://[^ \\t\\n]+', '<URL>', 'g'),
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '[0-9]{7,}', '<NUM>', 'g') AS clean_text,
             quality_score
             FROM scored
             WHERE quality_score >= 0.6
               AND greatest(en_hits, fr_hits, de_hits, es_hits) > 0
               AND en_hits = greatest(en_hits, fr_hits, de_hits, es_hits))
           SELECT doc_id, clean_text, quality_score FROM (
             SELECT *, row_number() OVER (PARTITION BY md5(clean_text)
               ORDER BY doc_id) AS rn FROM kept)
           WHERE rn = 1""",
      "format_list" ->
        s"""SELECT c_custkey, ${sampleSql("c_custkey", FormatListSamples)} AS raw,
           ${sampleSql("c_custkey", FormatListExpected)} AS items
           FROM customer""",
      "dedup_minhash" ->
        s"""WITH base AS (
             SELECT doc_id, text,
               regexp_replace(text, '\\s+\\S+$$', '') AS ptext
             FROM documents
             WHERE doc_id % 10 = 0
               AND len(string_split(text, ' ')) >= 30),
           tok AS (SELECT doc_id,
             ${tokSqlOf("text")} AS ta, ${tokSqlOf("ptext")} AS tb
             FROM base),
           sh AS (SELECT doc_id,
             ${shingleSqlOf("ta")} AS sa, ${shingleSqlOf("tb")} AS sb
             FROM tok)
           SELECT doc_id AS id_a, doc_id + 10000000 AS id_b,
             CAST(len(list_distinct(list_intersect(sa, sb))) AS DOUBLE) /
             CAST(len(list_distinct(sa || sb)) AS DOUBLE) AS jaccard
           FROM sh
           WHERE CAST(len(list_distinct(list_intersect(sa, sb))) AS DOUBLE) /
                 CAST(len(list_distinct(sa || sb)) AS DOUBLE) >= 0.5""",
      "dedup_simhash" ->
        s"""SELECT doc_id AS id_a, doc_id + 10000000 AS id_b,
           CAST(0 AS INTEGER) AS hamming
           FROM documents WHERE doc_id % 10 = 0""",
      "ann_brute" ->
        s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe
             FROM embeddings WHERE vec_id % 100 = 0),
           s AS (SELECT q.qid, e.vec_id,
             list_cosine_similarity(e.embedding, q.qe) AS c
             FROM embeddings e, q WHERE e.vec_id <> q.qid),
           r AS (SELECT qid AS query_id, vec_id,
             CAST(row_number() OVER (PARTITION BY qid ORDER BY c DESC, vec_id)
               AS INTEGER) AS rank
             FROM s)
           SELECT query_id, vec_id, rank FROM r WHERE rank <= 5""",
      "ann_lsh" ->
        s"""SELECT vec_id AS query_id, CAST(1 AS INTEGER) AS rank
           FROM embeddings WHERE vec_id % 100 = 0""",
      "ann_multiprobe" ->
        s"""SELECT vec_id AS query_id, CAST(1 AS INTEGER) AS rank
           FROM embeddings WHERE vec_id % 100 = 0""",
      "ann_ivf" ->
        s"""SELECT vec_id AS query_id, CAST(1 AS INTEGER) AS rank
           FROM embeddings WHERE vec_id % 100 = 0""",
      "ann_pq" ->
        s"""SELECT vec_id AS query_id, TRUE AS codes_match,
           CAST(5 AS BIGINT) AS n_results
           FROM embeddings WHERE vec_id % 100 = 0""",
      "ann_ivfpq" ->
        s"""SELECT vec_id AS query_id, TRUE AS cell_match,
           TRUE AS codes_match, CAST(5 AS BIGINT) AS n_results
           FROM embeddings WHERE vec_id % 100 = 0""",
      "embed_dups" ->
        s"""SELECT vec_id AS id_a, vec_id + 10000000 AS id_b
           FROM embeddings WHERE vec_id % 20 = 0""",
      "semdedup" ->
        s"""SELECT vec_id, vec_id AS canonical_id FROM embeddings
           UNION ALL
           SELECT vec_id + 10000000 AS vec_id, vec_id AS canonical_id
           FROM embeddings WHERE vec_id % 20 = 0""",
      "source_overlap" ->
        s"""WITH tok AS (SELECT source, ${tokSqlOf("text")} AS tk
             FROM documents),
           sh AS (SELECT source,
             unnest(${shingleSqlOf("tk")}) AS s
             FROM tok),
           d AS (SELECT DISTINCT source, s FROM sh),
           sz AS (SELECT source, count(*) AS n FROM d GROUP BY source),
           pr AS (SELECT a.source AS ga, b.source AS gb, a.n AS na, b.n AS nb
             FROM sz a, sz b WHERE a.source < b.source),
           iv AS (SELECT x.source AS ga, y.source AS gb, count(*) AS i
             FROM d x JOIN d y ON x.s = y.s AND x.source < y.source
             GROUP BY x.source, y.source)
           SELECT pr.ga AS group_a, pr.gb AS group_b,
             CAST(coalesce(iv.i, 0) AS DOUBLE) /
               CAST(pr.na + pr.nb - coalesce(iv.i, 0) AS DOUBLE)
               AS exact_jaccard,
             TRUE AS est_ok
           FROM pr LEFT JOIN iv ON pr.ga = iv.ga AND pr.gb = iv.gb""",
      "text_pack" ->
        s"""SELECT count(*) AS n_docs, count(DISTINCT doc_id) AS n_distinct_docs,
           CAST(0 AS BIGINT) AS overfull_packs, CAST(0 AS BIGINT) AS loose_breaks
           FROM documents""",
      "text_fingerprint" ->
        s"""SELECT doc_id, TRUE AS mid_overlap_hi, TRUE AS prefix_overlap_hi
           FROM documents WHERE doc_id % 10 = 0""",
      "dedup_best" ->
        s"""WITH all_docs AS (
             SELECT doc_id, text FROM documents
             UNION ALL
             SELECT doc_id + 10000000, text FROM documents
             WHERE doc_id % 10 = 0),
           a AS (SELECT doc_id,
             min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id,
             doc_id % 7 AS q
             FROM all_docs)
           SELECT canonical_id,
             arg_max(doc_id, q * 1000000000 - doc_id) AS keep_id,
             max(q) AS best_score,
             CAST(count(*) AS BIGINT) AS cluster_size
           FROM a GROUP BY canonical_id
           HAVING count(*) > 1""",
      "dedup_canonical" ->
        s"""WITH all_docs AS (
             SELECT doc_id, text FROM documents
             UNION ALL
             SELECT doc_id + 10000000, text FROM documents
             WHERE doc_id % 10 = 0)
           SELECT doc_id,
             min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id
           FROM all_docs""",
      "dup_components" ->
        s"""WITH RECURSIVE e0 AS (
             SELECT doc_id AS u,
               doc_id - (doc_id % 10) + CASE doc_id % 10
                 WHEN 0 THEN 5 WHEN 5 THEN 2 WHEN 2 THEN 7 WHEN 7 THEN 4
                 WHEN 4 THEN 9 WHEN 9 THEN 1 WHEN 1 THEN 6 WHEN 6 THEN 3
                 WHEN 3 THEN 8 END AS v
             FROM documents WHERE doc_id % 10 <> 8),
           edges AS (SELECT u, v FROM e0 UNION SELECT v AS u, u AS v FROM e0),
           r(node, lab) AS (
             SELECT u, u FROM (SELECT DISTINCT u FROM edges)
             UNION
             SELECT e.v, r.lab FROM r JOIN edges e ON e.u = r.node)
           SELECT node AS node_id, min(lab) AS component_id
           FROM r GROUP BY node""",
      "dedup_exact" ->
        s"""SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
           count(*) AS n_dups FROM documents GROUP BY 1""",
      "text_tokens" ->
        s"""SELECT doc_id,
           CAST(CASE WHEN text IS NULL OR trim(text) = '' THEN 0 ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT) AS n_ws_tokens,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_bpe_tokens
           FROM documents""",
      "text_langid" ->
        s"""WITH toks AS (SELECT doc_id, $toksSql AS tk FROM documents),
           cnt AS (SELECT doc_id,
             len(list_filter(tk, x -> x IN ($stopEn))) AS en,
             len(list_filter(tk, x -> x IN ($stopFr))) AS fr,
             len(list_filter(tk, x -> x IN ($stopDe))) AS de,
             len(list_filter(tk, x -> x IN ($stopEs))) AS es
             FROM toks)
           SELECT doc_id,
             CASE WHEN greatest(en, fr, de, es) = 0 THEN 'und'
                  WHEN en = greatest(en, fr, de, es) THEN 'en'
                  WHEN fr = greatest(en, fr, de, es) THEN 'fr'
                  WHEN de = greatest(en, fr, de, es) THEN 'de'
                  ELSE 'es' END AS lang_pred
           FROM cnt""",
      "warc_source" ->
        s"""WITH s AS (SELECT doc_id,
             trim(regexp_replace(regexp_replace(text, '[<>&]', ' ', 'g'),
               '\\s+', ' ', 'g')) AS body
             FROM documents)
           SELECT doc_id,
             CAST(2 AS BIGINT) AS n_members,
             'http://example.com/doc/' || CAST(doc_id AS VARCHAR) AS uri,
             'Doc ' || CAST(doc_id AS VARCHAR) ||
               CASE WHEN body = '' THEN '' ELSE chr(10) || body END
               AS page_text
           FROM s""",
      "text_html" ->
        s"""WITH s AS (SELECT doc_id,
             trim(regexp_replace(regexp_replace(text, '[<>&]', ' ', 'g'),
               '\\s+', ' ', 'g')) AS body
             FROM documents)
           SELECT doc_id,
             CAST(CASE WHEN body = '' THEN 3 ELSE 4 END AS BIGINT)
               AS n_blocks,
             'Doc ' || CAST(doc_id AS VARCHAR) || chr(10) ||
               'Heading ' || CAST(doc_id AS VARCHAR) || chr(10) ||
               CASE WHEN body = '' THEN '' ELSE body || chr(10) END ||
               'see "doc" ' || CAST(doc_id AS VARCHAR) || ' & more'
               AS extracted,
             CAST(10 + len(CAST(doc_id AS VARCHAR)) AS BIGINT)
               AS nav_link_chars,
             CAST(17 + len(CAST(doc_id AS VARCHAR)) AS BIGINT)
               AS nav_chars
           FROM s""",
      "quality_classifier" ->
        s"""SELECT doc_id, (doc_id % 3 <> 0) AS pred_keep
           FROM documents""",
      "url_normalize" ->
        s"""SELECT doc_id,
             CAST(1 AS BIGINT) AS n_canonical,
             'https://www.site' || CAST(doc_id % 7 AS VARCHAR) ||
               '.co.uk/a/art' || CAST(doc_id AS VARCHAR) ||
               '?a=1&b=' || CAST(doc_id % 3 AS VARCHAR) AS url_norm,
             'site' || CAST(doc_id % 7 AS VARCHAR) || '.co.uk' AS domain
           FROM documents""",
      "sitemap_source" ->
        s"""SELECT doc_id,
             CASE WHEN doc_id % 7 = 0 THEN CAST(2 AS BIGINT)
               ELSE doc_id % 3 + 1 END AS n_entries,
             CASE WHEN doc_id % 7 = 0 THEN 'sitemap' ELSE 'url' END
               AS kind,
             CASE WHEN doc_id % 7 = 0
               THEN 'https://x.test/sm' || CAST(doc_id AS VARCHAR)
                 || '-a.xml'
               ELSE 'https://x.test/d' || CAST(doc_id AS VARCHAR)
                 || '/p0' END AS first_loc,
             CASE WHEN doc_id % 7 = 0 THEN CAST(NULL AS DOUBLE)
               ELSE 0.0 END AS first_prio
           FROM documents""",
      "blocklist_gate" ->
        s"""WITH p AS (
             SELECT doc_id, text || CASE
               WHEN doc_id % 3 = 0 THEN ' casino free money casino'
               WHEN doc_id % 3 = 1 THEN ' lottery'
               ELSE '' END AS t
             FROM documents)
           SELECT doc_id,
             CAST((len(t) - len(replace(t, 'casino', ''))) // 6
               + (len(t) - len(replace(t, 'lottery', ''))) // 7
               + (len(t) - len(replace(t, 'free money', ''))) // 10
               AS BIGINT) AS n_hits,
             (contains(t, 'casino') OR contains(t, 'lottery')
               OR contains(t, 'free money')) AS blocked
           FROM p""",
      "crawl_frontier" ->
        s"""WITH all_urls AS (
             SELECT DISTINCT 'https://abs.test/x?a=1&b=2' AS url,
               'abs.test' AS domain FROM documents
             UNION ALL
             SELECT DISTINCT 'https://cdn.test/lib', 'cdn.test'
             FROM documents
             UNION ALL
             SELECT 'https://h' || CAST(doc_id % 5 AS VARCHAR)
                 || '.example.com/root/doc' || CAST(doc_id AS VARCHAR)
                 || '.html',
               'example.com' FROM documents
             UNION ALL
             SELECT 'https://h' || CAST(doc_id % 5 AS VARCHAR)
                 || '.example.com/up/' || CAST(doc_id AS VARCHAR),
               'example.com' FROM documents WHERE doc_id % 5 IN (1, 3)
             UNION ALL
             SELECT 'https://h' || CAST(doc_id % 5 AS VARCHAR)
                 || '.example.com/dir/sib' || CAST(doc_id AS VARCHAR)
                 || '?x=2',
               'example.com' FROM documents),
           ranked AS (
             SELECT url, domain,
               CAST(row_number() OVER (PARTITION BY domain
                 ORDER BY md5(url) DESC, url) AS BIGINT) AS rank
             FROM all_urls)
           SELECT url, domain, rank FROM ranked WHERE rank <= 100""",
      "pagerank_hosts" ->
        s"""WITH e0 AS (
             SELECT doc_id % 40 AS src, (doc_id * 7 + 3) % 40 AS dst
             FROM documents WHERE (doc_id % 40) % 10 <> 7
             UNION
             SELECT doc_id % 40, (doc_id * 13 + 11) % 40
             FROM documents WHERE (doc_id % 40) % 10 <> 7),
           e AS (SELECT src, dst FROM e0 WHERE src <> dst),
           nodes AS (SELECT src AS h FROM e UNION SELECT dst FROM e),
           deg AS (SELECT src, CAST(count(*) AS BIGINT) AS od
             FROM e GROUP BY src),
           nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
           r0 AS (SELECT h, CAST(1000000000 AS BIGINT) AS r FROM nodes),
           $prIters
           SELECT h AS host, CAST(r AS BIGINT) AS rank FROM r4""",
      "html_links" ->
        s"""SELECT d.doc_id, t.ln AS link_no,
             CASE t.ln
               WHEN 1 THEN 'https://abs.test/x?b=2&a=1'
               WHEN 2 THEN 'https://cdn.test/lib'
               WHEN 3 THEN 'https://h' || CAST(d.doc_id % 5 AS VARCHAR)
                 || '.example.com/root/doc' || CAST(d.doc_id AS VARCHAR)
                 || '.html'
               WHEN 4 THEN 'https://h' || CAST(d.doc_id % 5 AS VARCHAR)
                 || '.example.com/up/' || CAST(d.doc_id AS VARCHAR)
               WHEN 5 THEN 'https://h' || CAST(d.doc_id % 5 AS VARCHAR)
                 || '.example.com/dir/sib' || CAST(d.doc_id AS VARCHAR)
                 || '?x=2'
               ELSE 'https://h' || CAST(d.doc_id % 5 AS VARCHAR)
                 || '.example.com/dir/spon' || CAST(d.doc_id AS VARCHAR)
             END AS url,
             CASE t.ln WHEN 1 THEN 'Abs Link' WHEN 2 THEN 'proto'
               WHEN 3 THEN 'root' WHEN 4 THEN 'up' WHEN 5 THEN 'sib'
               ELSE 'spon' END AS anchor,
             t.ln = 6 AS nofollow
           FROM documents d
           CROSS JOIN (VALUES (CAST(1 AS BIGINT)),(2),(3),(4),(5),(6))
             t(ln)""",
      "text_clean" ->
        s"""SELECT doc_id, text || ' café "q"... - a b' AS cleaned
           FROM documents""",
      "content_sniff" ->
        s"""SELECT doc_id,
             CASE doc_id % 6
               WHEN 0 THEN 'image/jpeg' WHEN 1 THEN 'image/png'
               WHEN 2 THEN 'application/pdf' WHEN 3 THEN 'text/html'
               WHEN 4 THEN 'text/plain' ELSE 'application/gzip'
             END AS mime,
             '<meta charset=windows-1252><p>' || text || 'é€' AS decoded
           FROM documents""",
      "robots_gate" ->
        s"""SELECT doc_id,
             CASE doc_id % 4 WHEN 0 THEN true WHEN 2 THEN true
               ELSE false END AS allowed,
             (doc_id % 3 + 1) * 1000 AS crawl_ms,
             CAST(1 AS BIGINT) AS n_sitemaps
           FROM documents""",
      "html_noindex" ->
        s"""SELECT doc_id,
             CASE WHEN doc_id % 7 = 0 AND doc_id % 2 = 0
                    THEN 'noindex, nofollow'
                  WHEN doc_id % 7 = 0 THEN 'none'
                  WHEN doc_id % 7 = 1 THEN 'index, follow'
                  ELSE '' END AS robots,
             (doc_id % 7 = 0) AS noindex
           FROM documents""",
      "bm25_search" ->
        s"""WITH tok AS (SELECT doc_id,
             ${tokSqlOf("coalesce(text, '')")} AS tk FROM documents),
           n AS (SELECT count(*) AS nd, sum(len(tk)) AS nt FROM tok),
           wb AS (SELECT doc_id, substring(md5(w), 1, 4) AS b
             FROM (SELECT doc_id, unnest(tk) AS w FROM tok)),
           dfs AS (SELECT b, count(DISTINCT doc_id) AS df
             FROM wb GROUP BY b),
           qb AS (SELECT DISTINCT substring(md5(term), 1, 4) AS qb
             FROM (VALUES ('vector'), ('join'), ('spark'), ('window'))
               AS t(term)),
           qi AS (SELECT qb.qb,
               ln(1.0 + (CAST(n.nd - coalesce(dfs.df, 0) AS DOUBLE)
                 + 0.5) / (CAST(coalesce(dfs.df, 0) AS DOUBLE) + 0.5))
                 AS idf
             FROM qb LEFT JOIN dfs ON qb.qb = dfs.b, n),
           dl AS (SELECT doc_id, len(tk) AS dl FROM tok),
           tf AS (SELECT wb.doc_id, qi.qb, qi.idf, count(*) AS tf
             FROM wb JOIN qi ON wb.b = qi.qb GROUP BY 1, 2, 3),
           s AS (SELECT tf.doc_id, CAST(round(
               tf.idf * (CAST(tf.tf AS DOUBLE) * (1200/1000.0 + 1.0))
               / (CAST(tf.tf AS DOUBLE) + (1200/1000.0) *
                 ((1.0 - 750/1000.0) + (750/1000.0)
                   * CAST(dl.dl AS DOUBLE)
                   / (CAST(n.nt AS DOUBLE) / greatest(n.nd, 1))))
               * 1000.0) AS BIGINT) AS s
             FROM tf JOIN dl ON tf.doc_id = dl.doc_id, n)
           SELECT doc_id, CAST(sum(s) AS BIGINT) AS score_milli,
             count(*) AS n_terms_hit
           FROM s GROUP BY doc_id""",
      "text_quality" ->
        s"""WITH base AS (SELECT doc_id, text,
             CAST(coalesce(length(text), 0) AS BIGINT) AS n_chars,
             CAST(CASE WHEN text IS NULL OR trim(text) = '' THEN 0 ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT) AS n_tokens,
             CAST(len(regexp_extract_all(text, '[[:punct:]]')) AS BIGINT) AS n_punct,
             CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS n_digits,
             len(list_filter($toksSql, x -> x IN ($stopEn))) AS n_stop
             FROM documents),
           m AS (SELECT doc_id, n_chars, n_tokens,
             CASE WHEN n_tokens > 0 THEN CAST(n_chars - (n_tokens - 1) AS DOUBLE) / CAST(n_tokens AS DOUBLE) ELSE 0.0 END AS mean_token_len,
             CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / CAST(n_chars AS DOUBLE) ELSE 0.0 END AS punct_ratio,
             CASE WHEN n_chars > 0 THEN CAST(n_digits AS DOUBLE) / CAST(n_chars AS DOUBLE) ELSE 0.0 END AS digit_ratio,
             CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) ELSE 0.0 END AS stopword_ratio
             FROM base)
           SELECT doc_id, n_chars, n_tokens, mean_token_len, punct_ratio,
             digit_ratio, stopword_ratio,
             CAST((CASE WHEN n_tokens >= 5 AND n_tokens <= 100000 THEN 1 ELSE 0 END
                 + CASE WHEN mean_token_len >= 2.0 AND mean_token_len <= 12.0 THEN 1 ELSE 0 END
                 + CASE WHEN punct_ratio <= 0.2 THEN 1 ELSE 0 END
                 + CASE WHEN digit_ratio <= 0.3 THEN 1 ELSE 0 END
                 + CASE WHEN stopword_ratio >= 0.01 THEN 1 ELSE 0 END) AS DOUBLE) / 5 AS quality_score
           FROM m""",
      "pricing_summary" ->
        s"""SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
           count(*) AS count_order,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty
           FROM lineitem
           WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
           GROUP BY l_returnflag, l_linestatus""",
      "orders_rollup" ->
        s"""SELECT o_orderpriority, o_orderstatus, count(*) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
           FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)""",
      "orders_grouping_sets" ->
        s"""SELECT o_orderpriority, o_orderstatus, count(*) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
           FROM orders
           GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())""",
      "orders_topn_per_group" ->
        s"""SELECT o_orderpriority, o_orderkey, o_totalprice, rn FROM (
             SELECT o_orderpriority, o_orderkey, o_totalprice,
               CAST(row_number() OVER (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rn
             FROM orders)
           WHERE rn <= 3""",
      "customers_without_orders" ->
        s"""SELECT c_custkey, c_name FROM customer c
           WHERE NOT EXISTS (
             SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
               AND o.o_orderpriority = '1-URGENT')""",
      "orders_percentiles" ->
        s"""SELECT o_orderstatus,
           quantile_cont(o_totalprice, 0.5) AS p50,
           quantile_cont(o_totalprice, 0.9) AS p90
           FROM orders GROUP BY o_orderstatus""",
      "orders_percentiles_approx" ->
        s"""SELECT o_orderstatus, TRUE AS p50_ok, TRUE AS p90_ok
           FROM orders GROUP BY o_orderstatus""",
      "events_distinct_approx" ->
        s"""SELECT event_type, TRUE AS distinct_ok
           FROM events GROUP BY event_type""",
      "events_heavy_hitters" ->
        s"""SELECT event_type, count(*) AS exact_count,
           TRUE AS overestimates_ok, TRUE AS within_eps
           FROM events GROUP BY event_type""",
      "events_agg" ->
        s"""SELECT event_type, count(*) AS n,
           count(DISTINCT user_id) AS n_users,
           min(value) AS min_value, max(value) AS max_value
           FROM events GROUP BY event_type""",
      "text_stats_by_lang" ->
        s"""SELECT lang, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(sum(CASE WHEN text IS NULL OR trim(text) = '' THEN 0 ELSE len(string_split_regex(trim(text), '\\s+')) END) AS BIGINT) AS total_ws_tokens,
           CAST(sum(n_chars) AS DOUBLE) / count(*) AS avg_chars
           FROM documents GROUP BY lang""",
      "orders_running_total" ->
        s"""SELECT o_orderkey, o_custkey,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
             OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_total,
           CAST(row_number()
             OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
             AS INT) AS order_seq
           FROM orders""",
      "asof_join" ->
        s"""WITH r AS (SELECT o_custkey, o_orderdate,
             max(o_orderkey) AS asof_orderkey
           FROM orders GROUP BY o_custkey, o_orderdate),
           e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
             FROM events)
           SELECT e.event_id, e.user_id, e.ts, r.asof_orderkey
           FROM e ASOF LEFT JOIN r
           ON e.user_id = r.o_custkey AND e.ts >= r.o_orderdate""",
      "events_json" ->
        s"""SELECT event_id,
           CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT) AS k
           FROM events""",
      "text_redact" ->
        s"""SELECT doc_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(
                 text || CASE WHEN doc_id % 5 = 0
                   THEN ' contact bob@example.com or https://ex.ample/x or 12345678'
                   ELSE '' END,
                 'https?://[^ \\t\\n]+', '<URL>', 'g'),
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '[0-9]{7,}', '<NUM>', 'g') AS clean_text
           FROM documents""",
      "attribution_join" ->
        s"""SELECT l.user_id, l.event_id AS click_id,
             r.event_id AS purchase_id,
             epoch_us(l.ts) AS click_us, epoch_us(r.ts) AS purchase_us
           FROM events l JOIN events r
             ON l.user_id = r.user_id
             AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 10 MINUTE
           WHERE l.event_type = 'click' AND r.event_type = 'purchase'""",
      "sessionize" ->
        s"""WITH ev AS (
             SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
             FROM events),
           flagged AS (
             SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                    OR date_diff('second', lag(ts) OVER w, ts) > 1800
                    THEN 1 ELSE 0 END AS brk
             FROM ev
             WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
           sess AS (
             SELECT user_id, ts,
               sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS session_idx
             FROM flagged)
           SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
             count(*) AS n_events,
             epoch_us(min(ts)) AS start_us, epoch_us(max(ts)) AS end_us,
             date_diff('second', min(ts), max(ts)) AS duration_s
           FROM sess GROUP BY user_id, session_idx""",
      "events_extract" ->
        s"""SELECT event_id,
           CASE WHEN regexp_matches(regexp_extract(props, '"k": (\\d+)', 1), '$intRe')
                THEN CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT) ELSE NULL END AS k
           FROM events"""
    )
  }
}
