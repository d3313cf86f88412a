package graft.store

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** SECONDARY INDEX for the manifest table: an inverted (value → sorted
  * key list) table — itself a [[ManifestTable]] — over one or more
  * non-key columns, maintained from the base's change feed. A point
  * predicate on the indexed column(s) becomes TWO PRUNED LOOKUPS
  * (index value → keys, then keys → base rows) instead of a full scan;
  * at 100 TB that is the difference between reading two buckets and
  * reading the table.
  *
  * Maintenance reads NOTHING but the feed and the touched index rows:
  * each affected key's window-FINAL assignment (its value at the feed's
  * end, or gone) and window-START assignment (the value the index
  * currently holds for it) both derive from the feed alone — pre-images
  * carry the old value, post-images the new — so refresh cost tracks
  * the change rate, never the base or index size. Exactly-once via the
  * index table's own replay ledger, the [[MaterializedView]] discipline
  * (deletions of emptied values run BEFORE the marker-carrying merge).
  *
  * NULL values are not indexed (standard index semantics: an `=`
  * predicate never matches NULL); for a COMPOSITE index a row is
  * indexed iff every component is non-NULL. NULL-KEYED base rows are
  * not indexed either (`collect_list` drops null keys, and no key
  * lookup could fetch them back) — so every index answer is complete
  * only over rows WITH a key. The explicit lookup APIs inherit that
  * contract; the AUTOMATIC rewrites ([[AutoProbeJoin]] /
  * [[AutoIndexFilter]]) and discovery hints ([[hintBuckets]]) must
  * match plain-scan semantics exactly, so they additionally gate on
  * the manifest's per-file `nullKeys` stat (format 11) and decline on
  * any table that may hold such a row. Composite index tables
  * store the value columns plus a synthetic manifest key
  * ([[DerivedTable.KeyCol]], the injective tuple encoding) and key on
  * that; single-column indexes keep the value column itself as the key
  * — their on-disk layout is unchanged from before composite support.
  * Key lists are SORTED, so the index contents are deterministic and
  * engine-reproducible.
  *
  * HOT-VALUE SHARDING (`numShards > 1`): a skewed value (think
  * `lang='en'` over a web corpus) would otherwise materialize ONE row
  * holding millions of keys — an array bumping into hard row-size
  * limits, whose refresh regroups the full list whenever a single
  * member changes. A sharded index stores (value, shard) → keys with
  * `shard = hash(baseKey) mod numShards`: per-row size is ~1/numShards
  * of the value's key count, and a changed key touches only its OWN
  * (value, shard) row — refresh cost tracks the change, never the hot
  * value's list size. Lookups fan out over the value's numShards rows
  * (still a pruned read; the shard is part of the encoded manifest
  * key) and [[read]] merges shards back, so the API surface is
  * shard-transparent. Size numShards ≈ hottest value's expected key
  * count / target row size; range layout keys the table on the raw
  * value string and is therefore incompatible with sharding. */
object SecondaryIndex {

  val StreamId = "secondary-index"

  /** The token space refresh's emptied-value deletions commit under —
    * separate from user deletes' `lastDelete` space. */
  val DeleteStream: String = DerivedTable.deleteStream(StreamId)

  /** `rangeLayout = true` lays the index table out by RANGE on the
    * (single, string-typed) value column instead of hash: boundaries
    * are sampled from the bootstrap distribution at [[create]], each
    * index bucket holds a contiguous slice of the value space, and
    * `value BETWEEN a AND b` becomes a bucket-pruned scan
    * ([[lookupRange]]) — the classic sorted secondary index. Point
    * lookups, refresh and the whole maintenance protocol are layout-
    * agnostic (bucket targeting routes through the manifest's recorded
    * layout), so everything else behaves identically. */
  final case class Index(
      baseRoot: String,
      baseSchema: StructType,
      baseKey: String,
      indexRoot: String,
      valueCols: Seq[String],
      numBuckets: Int = 16,
      rangeLayout: Boolean = false,
      numShards: Int = 1) {
    require(valueCols.nonEmpty, "need at least one value column")
    require(!rangeLayout || valueCols.size == 1,
      "range layout is single-value-column only")
    require(!rangeLayout || baseSchema(valueCols.head).dataType ==
        org.apache.spark.sql.types.StringType,
      "range layout requires a STRING value column (its rendering IS " +
        "the range order; pre-encode numerics order-preservingly in a " +
        "derived base column)")
    require(numShards >= 1, "numShards must be >= 1")
    require(numShards == 1 || !rangeLayout,
      "range layout and hot-value sharding are mutually exclusive: " +
        "a range table keys on the raw value string, a sharded one on " +
        "the (value, shard) encoding")
  }

  object Index {
    /** Single-value-column convenience, the pre-composite shape. */
    def apply(baseRoot: String, baseSchema: StructType, baseKey: String,
        indexRoot: String, valueCol: String, numBuckets: Int): Index =
      Index(baseRoot, baseSchema, baseKey, indexRoot, Seq(valueCol),
        numBuckets)
  }

  private def composite(ix: Index): Boolean = ix.valueCols.size > 1
  private def sharded(ix: Index): Boolean = ix.numShards > 1

  /** The stored shard column of a sharded index. */
  val ShardCol = "_shard"

  /** The index table's manifest key column: the value itself only for
    * the plain single-column unsharded shape; any composite or sharded
    * index keys on the synthetic tuple encoding. */
  private def keyCol(ix: Index): String =
    if (composite(ix) || sharded(ix)) DerivedTable.KeyCol
    else ix.valueCols.head

  /** A base key's shard: stable hash mod numShards — Spark-computed,
    * so index writes and probe encodings can never disagree. */
  private def shardExpr(ix: Index, key: Column): Column =
    pmod(xxhash64(key), lit(ix.numShards.toLong)).cast("int")

  /** Appends the synthetic key column (composite and/or sharded
    * indexes; expects [[ShardCol]] to be present when sharded). */
  private def withKey(ix: Index, df: DataFrame): DataFrame =
    if (!composite(ix) && !sharded(ix)) df
    else df.withColumn(DerivedTable.KeyCol,
      DerivedTable.encodeKey(ix.valueCols.map(col) ++
        (if (sharded(ix)) Seq(col(ShardCol)) else Nil)))

  /** The indexed-value tuple as ONE column: the value itself when
    * single, a struct of the components (NULL when any component is
    * NULL — such rows are unindexed) when composite. */
  private def valueExpr(ix: Index): Column =
    if (!composite(ix)) col(ix.valueCols.head)
    else when(ix.valueCols.map(col(_).isNotNull).reduce(_ && _),
      struct(ix.valueCols.map(col): _*))

  /** The encoded probe/manifest key of a (`_v`-shaped value, shard)
    * pair — the exact encoding [[withKey]] stores. */
  private def probeExpr(ix: Index, v: Column, s: Column): Column = {
    val comps =
      if (!composite(ix)) Seq(v)
      else ix.valueCols.map(f => v.getField(f))
    if (!composite(ix) && !sharded(ix)) v
    else DerivedTable.encodeKey(
      comps ++ (if (sharded(ix)) Seq(s) else Nil))
  }

  private def grouped(base: DataFrame, ix: Index): DataFrame = {
    val nn = base.filter(ix.valueCols.map(col(_).isNotNull)
      .reduce(_ && _))
    val keyed =
      if (!sharded(ix)) nn
      else nn.withColumn(ShardCol, shardExpr(ix, col(ix.baseKey)))
    val groups =
      ix.valueCols ++ (if (sharded(ix)) Seq(ShardCol) else Nil)
    keyed.groupBy(groups.map(col): _*)
      .agg(sort_array(collect_list(col(ix.baseKey))).as("keys"))
  }

  /** Range-layout boundaries from the bootstrap value distribution: a
    * DETERMINISTIC bounded sample (the `sampleCap` hash-smallest
    * rendered values — a TakeOrdered, never a full sort or an unbounded
    * collect) quantiled into numBuckets even slices. The same strategy
    * Spark's own RangePartitioner uses (sample, then split), sized so
    * driver memory stays bounded at any index cardinality; a skewed or
    * drifted distribution re-balances via [[ManifestTable.rebucket]]
    * with fresh bounds. */
  private def sampleBounds(
      full: DataFrame, ix: Index, sampleCap: Int = 100000): Seq[String] = {
    val rendered = col(ix.valueCols.head).cast("string")
    val arr = full.select(rendered.as("r")).filter(col("r").isNotNull)
      .orderBy(xxhash64(col("r")), col("r")).limit(sampleCap)
      .collect().map(_.getString(0)).sorted
    require(arr.nonEmpty,
      "range layout needs at least one non-NULL indexed value at create")
    (1 until ix.numBuckets)
      .map(i => arr((i.toLong * arr.length / ix.numBuckets).toInt))
  }

  /** Bootstraps the index from the base's current version. Returns the
    * captured base version. */
  def create(spark: SparkSession, ix: Index): Long = {
    val cur = ManifestTable.currentVersion(spark, ix.baseRoot).getOrElse(
      throw new IllegalStateException(s"no base table at ${ix.baseRoot}"))
    val full = grouped(
      ManifestTable.readAt(spark, ix.baseRoot, ix.baseSchema, cur), ix)
    val bounds = if (ix.rangeLayout) sampleBounds(full, ix) else Nil
    DerivedTable.bootstrap(spark, withKey(ix, full), keyCol(ix),
      ix.indexRoot, ix.numBuckets, StreamId, cur, rangeBounds = bounds)
    register(spark, ix)
    cur
  }

  // ------------------------------------------------------ registration

  /** Registry sidecar schema: one row per registered index. */
  private val RegistrySchema = StructType(Seq(
    org.apache.spark.sql.types.StructField("value_cols",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("index_root",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("num_buckets",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("range_layout",
      org.apache.spark.sql.types.BooleanType),
    org.apache.spark.sql.types.StructField("num_shards",
      org.apache.spark.sql.types.IntegerType)))

  /** Records `ix` on its BASE table (additive `indexreg` sidecar — the
    * bloom/zone commit mechanism: `_SUCCESS`-gated revisions, all
    * kept), so plan-time machinery ([[graft.store.AutoProbeJoin]]) can
    * DISCOVER the index from the base root alone. [[create]] registers
    * automatically; re-registering the same value columns supersedes
    * (newest row wins in [[registered]]). Advisory metadata only: a
    * registry row whose index root no longer holds a manifest (a
    * dropped/vacuumed index) is skipped by readers, so deletion needs
    * no tombstone. */
  def register(spark: SparkSession, ix: Index): Unit = {
    val m = ManifestTable.currentManifest(spark, ix.baseRoot).getOrElse(
      throw new IllegalStateException(s"no base table at ${ix.baseRoot}"))
    val row = org.apache.spark.sql.Row(ix.valueCols.mkString(","),
      ix.indexRoot, ix.numBuckets, ix.rangeLayout, ix.numShards)
    val df = spark.createDataFrame(
      java.util.Collections.singletonList(row), RegistrySchema)
    ManifestTable.writeAdditiveSidecar(spark, ix.baseRoot, m, df,
      "indexreg")
  }

  /** The base table's registered, RESOLVABLE indexes: newest registry
    * row per value-column set, reconstructed against the base's
    * recorded key and the caller's schema; rows whose index root has no
    * manifest (dropped) are skipped. One sidecar listing + a tiny
    * parquet read — callers on a plan-time path should consult this
    * only after their cheap guards pass. */
  def registered(spark: SparkSession, baseRoot: String,
      baseSchema: StructType): Seq[Index] = {
    val dirs = ManifestTable.committedAdditiveDirs(spark, baseRoot,
      "indexreg")
    if (dirs.isEmpty) return Nil
    val m = ManifestTable.currentManifest(spark, baseRoot)
      .getOrElse(return Nil)
    // oldest→newest per-dir reads: later registrations of the same
    // value set win (row order across one unioned multi-dir read is
    // not guaranteed; each dir is one tiny coalesced file).
    val newest = scala.collection.mutable.LinkedHashMap
      .empty[String, org.apache.spark.sql.Row]
    dirs.foreach { d =>
      spark.read.schema(RegistrySchema).parquet(d).collect().foreach {
        r => newest(r.getString(0)) = r
      }
    }
    newest.values.toSeq.flatMap { r =>
      val cols = r.getString(0).split(",").toSeq
      val root = r.getString(1)
      if (ManifestTable.currentVersion(spark, root).isEmpty) None
      else if (!cols.forall(c => baseSchema.fieldNames.contains(c))) None
      else Some(Index(baseRoot, baseSchema, m.keyColumn, root, cols,
        r.getInt(2), r.getBoolean(3), r.getInt(4)))
    }
  }

  /** The index table's STORED schema (incl. the synthetic key column of
    * a composite index). Plan-time only, and metadata-free: built over
    * an empty LOCAL frame of the declared base schema — no manifest
    * read, no data read. */
  private def indexSchema(spark: SparkSession, ix: Index): StructType = {
    val empty = spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      ix.baseSchema)
    withKey(ix, grouped(empty, ix)).schema
  }

  /** The committed (value columns, sorted keys) index contents (the
    * synthetic key and shard columns are internal and dropped; a
    * sharded index's rows merge back to one sorted list per value —
    * a READ-side aggregation, the stored rows stay bounded). */
  def read(spark: SparkSession, ix: Index): DataFrame = {
    val raw = ManifestTable.read(spark, ix.indexRoot,
      indexSchema(spark, ix)).drop(DerivedTable.KeyCol)
    if (!sharded(ix)) raw
    else raw.groupBy(ix.valueCols.map(col): _*)
      .agg(sort_array(flatten(collect_list(col("keys")))).as("keys"))
  }

  /** How far the index has applied the base's history. */
  def appliedVersion(spark: SparkSession, ix: Index): Long =
    DerivedTable.appliedVersion(spark, ix.indexRoot, StreamId)

  /** Advances the index to the base's current version. Returns the new
    * applied version, or None when already current.
    *
    * DRIVER-BOUNDED at any change rate (the [[MaterializedView]]
    * discipline): at most `maxDriverKeys` index keys are ever
    * driver-resident. Under the cap the touched values collect and
    * drive PRUNED lookups; past it — a bulk backfill — the touched
    * restriction, the kept/emptied diff and the value deletions all
    * run distributed (semi-/anti-joins, chunked deletes), which is the
    * right plan at that selectivity anyway. */
  def refresh(spark: SparkSession, ix: Index,
      maxDriverKeys: Int = 100000): Option[Long] = {
    val cur = ManifestTable.currentVersion(spark, ix.baseRoot).getOrElse(
      throw new IllegalStateException(s"no base table at ${ix.baseRoot}"))
    val seen = appliedVersion(spark, ix)
    if (cur <= seen) return None
    val schema = indexSchema(spark, ix)
    val key = keyCol(ix)
    val m = DerivedTable.identityMapping(schema, key)
    // Persisted: the feed backs the touched materialization, the
    // kept-values diff and the merge write — one diff join, not three.
    // `_s` = the key's shard (constant per key; lit 0 when unsharded,
    // where it rides along inert and folds away).
    val feed = ManifestTable.changes(spark, ix.baseRoot, ix.baseSchema,
      ix.baseKey, seen, cur)
      .select(col(ix.baseKey).as("_k"), valueExpr(ix).as("_v"),
        (if (sharded(ix)) shardExpr(ix, col(ix.baseKey))
         else lit(0)).as("_s"),
        col("_change_type").as("_t"), col("_version").as("_ver"))
      .persist()
    try {
    // Window-FINAL and window-START assignment per affected key in ONE
    // hash aggregate (they used to be two groupBys over the same feed —
    // same keys, same shuffle, paid twice; guide §2.4: two operations
    // keyed the same way share one exchange).
    // FINAL = the state-carrying row at the key's highest version
    // (post/insert outranks delete outranks pre within a commit);
    // NULL = the key ends unindexed. START = the value the index
    // currently holds = the earliest pre-image/delete value (an
    // insert-first key was never indexed); pre outranks delete
    // outranks insert there.
    val postRank = when(col("_t").isin("insert", "update_postimage"),
      lit(2)).when(col("_t") === "delete", lit(1)).otherwise(lit(0))
    val preRank = when(col("_t") === "update_preimage", lit(0))
      .when(col("_t") === "delete", lit(1)).otherwise(lit(2))
    val states = feed.groupBy(col("_k"))
      .agg(max_by(struct(col("_t"), col("_v")),
        struct(col("_ver"), postRank)).as("_f"),
        min_by(struct(col("_t"), col("_v")),
          struct(col("_ver"), preRank)).as("_o"),
        max(col("_s")).as("_s"))
      .select(col("_k"), col("_s"),
        when(col("_f._t").isin("insert", "update_postimage"),
          col("_f._v")).as("_newv"),
        when(col("_o._t").isin("delete", "update_preimage"),
          col("_o._v")).as("_oldv"))
    val finalSt = states.select(col("_k"), col("_s"), col("_newv"))
    val oldSt = states.select(col("_k"), col("_s"), col("_oldv"))
    // Touched (value, shard) rows — bounded by the change rate (each
    // affected key contributes its one shard per value), as the
    // ENCODED probe key (raw value for plain single-column indexes),
    // the form every lookup/delete below consumes.
    val touchedPlan = states
      .select(explode(array(col("_newv"), col("_oldv"))).as("_v"),
        col("_s"))
      .filter(col("_v").isNotNull)
      .select(probeExpr(ix, col("_v"), col("_s")).as("_p"))
      .distinct()
    // ONE bounded action: up to cap+1 probe keys decide emptiness, the
    // small/large branch, and on the small path ARE the probes. The
    // dedup's map side consumes every feed partition, so this also
    // materializes the feed cache the later passes read.
    val headProbes = graft.helpers.JobLabel.withDesc(spark,
      s"graft.ix-refresh ${ix.indexRoot}: feed touched-values") {
      touchedPlan.limit(maxDriverKeys + 1).collect()
    }
    if (headProbes.isEmpty) {
      DerivedTable.advanceMarker(spark, ix.indexRoot, schema,
        key, StreamId, cur)
      return Some(cur)
    }
    val small = headProbes.length <= maxDriverKeys
    // New key lists for the touched values: the current lists minus the
    // affected keys, plus each affected key's final assignment.
    //
    // CRASH-SAFETY INVARIANT (why reading the CURRENT index state is
    // sound here, where MaterializedView must read its marker
    // snapshot): the only pre-marker write a crashed refresh can leave
    // behind is the delete of EMPTIED values — and a value empties only
    // when every one of its member keys was affected, i.e. every one
    // has a pre-image (or delete) in the retry's feed window. Affected
    // keys are excluded from oldPairs and fully re-derived from the
    // feed, so the missing index row contributes nothing that is not
    // reconstructed. Any future pre-marker write that is NOT such a
    // delete (partial deletes, eager row updates) breaks this invariant
    // and must switch this read to DerivedTable.markerVersion.
    // The affected-keys frame rides a broadcast hint only under the
    // cap — a bulk backfill's key set must shuffle, not build on the
    // driver.
    val affectedKeys = finalSt.select(col("_k"))
    val affected =
      if (small) broadcast(affectedKeys) else affectedKeys
    // Touched rows of the CURRENT index: a pruned per-key lookup when
    // the probe set fits the driver; past the cap, a semi-join against
    // the index read — at that cardinality the probes hash across
    // ~every bucket anyway.
    val touchedDfOpt =
      if (small) None
      // Past the cap everything stays distributed; localCheckpoint cuts
      // the lineage so the emptied anti-join below (touched ⋈ a plan
      // derived from touched) is not an ambiguous self-join.
      else Some(touchedPlan.localCheckpoint())
    val touchedRows =
      if (small) {
        val touched = headProbes.map(_.get(0)).toIndexedSeq
        ManifestTable.lookup(spark, ix.indexRoot, schema, key, touched)
      } else ManifestTable.read(spark, ix.indexRoot, schema)
        .join(touchedDfOpt.get.select(col("_p").as(key)), Seq(key),
          "left_semi")
    val oldPairs = touchedRows
      .select(valueExpr(ix).as("_v"),
        (if (sharded(ix)) col(ShardCol) else lit(0)).as("_s"),
        explode(col("keys")).as("_k"))
      .join(affected, Seq("_k"), "left_anti")
    val newPairs = oldPairs.unionByName(
      finalSt.filter(col("_newv").isNotNull)
        .select(col("_newv").as("_v"), col("_s"), col("_k")))
    val regroupedV = newPairs.groupBy(col("_v"), col("_s"))
      .agg(sort_array(collect_list(col("_k"))).as("keys"))
    // Unpack the tuple back into the stored per-component columns.
    val vCols =
      if (!composite(ix)) Seq(col("_v").as(ix.valueCols.head))
      else ix.valueCols.map(f => col("_v").getField(f).as(f))
    val sCols =
      if (sharded(ix)) Seq(col("_s").cast("int").as(ShardCol)) else Nil
    val regroupedPlan = withKey(ix,
      regroupedV.select(vCols ++ sCols :+ col("keys"): _*))
    if (small) {
      // FUSED small path: ONE lazy-checkpoint-materializing pass over
      // the regrouped lists (guide §2 — fewer jobs/barriers per
      // operation). The kept-keys collect is bounded by the touched
      // probe count (≤ cap); emptied values fall out as a driver-side
      // diff against the probes — the distributed anti-join +
      // chunked-delete machinery below is for past-cap refreshes. The
      // checkpoint also roots the merge's plans at a LogicalRDD instead
      // of the full lookup⋈feed tree.
      val regrouped = regroupedPlan.localCheckpoint(false)
      val keptKeys = graft.helpers.JobLabel.withDesc(spark,
        s"graft.ix-refresh ${ix.indexRoot}: regroup") {
        regrouped.select(col(key)).collect()
      }.map(r => normKeyVal(r.get(0))).toSet
      // Deterministic order (the probe order), SQL-equality semantics
      // via normKeyVal (-0.0 folds to 0.0 as Spark's EqualTo does).
      val emptied = headProbes.iterator.map(_.get(0))
        .filter(k => !keptKeys.contains(normKeyVal(k))).toIndexedSeq
      if (emptied.nonEmpty)
        graft.helpers.JobLabel.withDesc(spark,
          s"graft.ix-refresh ${ix.indexRoot}: emptied-value delete") {
          ManifestTable.delete(spark, ix.indexRoot, schema, key,
            emptied, token = cur, tokenStream = Some(DeleteStream))
        }
      ManifestTable.merge(m.project(regrouped), cur, m, ix.indexRoot,
        schema, streamId = StreamId)
      Some(cur)
    } else {
      val regrouped = regroupedPlan.persist()
      try {
        // Emptied values = touched ∖ kept, computed DISTRIBUTED and
        // deleted in driver-bounded chunks (deletions BEFORE the
        // marker-carrying merge, per the crash-safety invariant above).
        val emptiedDf = touchedDfOpt.get.select(col("_p").as(key))
          .join(regrouped.select(col(key)), Seq(key), "left_anti")
        DerivedTable.deleteChunked(spark, ix.indexRoot, schema, key,
          emptiedDf, cur, DeleteStream, maxDriverKeys)
        ManifestTable.merge(m.project(regrouped), cur, m, ix.indexRoot,
          schema, streamId = StreamId)
        Some(cur)
      } finally regrouped.unpersist()
    }
    } finally feed.unpersist()
  }

  /** Driver-side key-equality normalization matching Spark's `EqualTo`
    * on the one family where JVM boxed equality disagrees: -0.0 == 0.0
    * in SQL but not under `Double.equals` — fold the sign away. (NaN
    * boxes to a single equality class on both sides already.) */
  private def normKeyVal(a: Any): Any = a match {
    case d: java.lang.Double if d.doubleValue() == 0.0d =>
      java.lang.Double.valueOf(0.0d)
    case f: java.lang.Float if f.floatValue() == 0.0f =>
      java.lang.Float.valueOf(0.0f)
    case x => x
  }

  /** Encodes caller-supplied probe tuples to manifest-key probes: raw
    * values pass through for a plain single-column index; for a
    * composite index each probe is a Seq of component values, encoded
    * through the SAME Spark expression the index rows use (a tiny
    * local frame — no hand-rolled driver-side reimplementation to
    * drift). On a sharded index every probe FANS OUT over all
    * numShards encoded keys — a value's members live across its shard
    * rows. */
  private def probeKeys(
      spark: SparkSession, ix: Index, values: Seq[Any]): Seq[Any] = {
    if (!composite(ix) && !sharded(ix)) values
    else {
      val vSchema = StructType(ix.valueCols.map(f =>
        ix.baseSchema(f).copy(nullable = true)))
      val rows = values.map { v =>
        if (composite(ix)) v match {
          case s: Seq[_] =>
            require(s.size == ix.valueCols.size,
              s"probe arity ${s.size} != ${ix.valueCols.size} value cols")
            org.apache.spark.sql.Row(s: _*)
          case other => throw new IllegalArgumentException(
            s"composite index probe must be a Seq of " +
              s"${ix.valueCols.size} component values, got $other")
        } else org.apache.spark.sql.Row(v)
      }
      val df = spark
        .createDataFrame(java.util.Arrays.asList(rows: _*), vSchema)
      val fanned =
        if (!sharded(ix)) df
        else df.withColumn(ShardCol, explode(
          array((0 until ix.numShards).map(i => lit(i)): _*)))
      fanned
        .select(DerivedTable.encodeKey(ix.valueCols.map(col) ++
          (if (sharded(ix)) Seq(col(ShardCol)) else Nil)).as("_p"))
        .collect().map(_.get(0)).toSeq
    }
  }

  /** Pruned multi-value point lookup on the index alone: reads only the
    * probed values' index buckets and explodes to (value, key) pairs —
    * the bounded read a fixed probe set wants, without touching the
    * base table. For a composite index each probe is a Seq of
    * component values. */
  def lookupValues(spark: SparkSession, ix: Index, values: Seq[Any])
      : DataFrame = {
    val schema = indexSchema(spark, ix)
    ManifestTable.lookup(spark, ix.indexRoot, schema, keyCol(ix),
        probeKeys(spark, ix, values))
      .select(ix.valueCols.map(col) :+
        explode(col("keys")).as(ix.baseKey): _*)
  }

  /** Bounded plan-time probe ([[graft.store.AutoProbeJoin]]'s index
    * leg): the distinct base keys holding `values`, `None` when the
    * set may be INCOMPLETE (over `maxKeys` — filtering by a subset is
    * unsound). One pruned index lookup, collected driver-side.
    * Freshness is the CALLER's contract — check [[appliedVersion]]
    * against the base version being served. */
  def keysOf(spark: SparkSession, ix: Index, values: Seq[Any],
      maxKeys: Int): Option[Seq[Any]] = {
    val rows = lookupValues(spark, ix, values)
      .select(col(ix.baseKey)).distinct().limit(maxKeys + 1).collect()
    if (rows.length > maxKeys) None
    else Some(rows.iterator.map(_.get(0)).filter(_ != null).toSeq)
  }

  /** DELETE/UPDATE discovery hint: the bucket set that can hold rows
    * whose `column` is in `values`, answered by a REGISTERED
    * single-column index iff it has applied exactly `m.version` and no
    * live file may hold a NULL-keyed row (such rows are invisible to
    * any index, yet the predicate may match them — the
    * [[graft.store.AutoPrune.freshIndexOn]] soundness gates). `None` =
    * no usable index / over the key cap / a failed probe (logged) — the
    * caller keeps its current candidate set. An EMPTY bucket set is a
    * proof of absence: no row holds any probed value at this version. */
  def hintBuckets(spark: SparkSession, root: String,
      schema: StructType, m: ManifestTable.Manifest,
      column: String, values: Seq[Any]): Option[Int => Boolean] = {
    // a UDF comparator is unrecordable: identity bucket targeting
    // would name the WRONG buckets — decline (the mergeInto/keyed-DML
    // refusal class). Note the optimizer rules need no such guard:
    // their key-IN filter is a raw-value ROW predicate (exact under
    // any comparator), and GraftFileIndex's probe pruning already
    // self-disables on udfKey layouts.
    if (m.udfKey) return None
    if (m.entries.exists(_.nullKeys)) return None
    val ix = registered(spark, root, schema)
      .find(_.valueCols == Seq(column)).getOrElse(return None)
    if (appliedVersion(spark, ix) != m.version) return None
    try keysOf(spark, ix, values, maxKeys = 100000).map { keys =>
      val bks = ManifestTable.keyBuckets(spark, m, keys)
      bks.contains _
    } catch {
      case scala.util.control.NonFatal(e) =>
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"index hint at ${ix.indexRoot} failed; discovery at $root " +
            "keeps its full candidate set", e)
        None
    }
  }

  /** [[keysOf]]'s RANGE sibling (rangeLayout indexes only): the
    * distinct base keys whose value falls in `[lo, hi]` inclusive,
    * `None` when the set may be incomplete. One bucket-pruned index
    * range scan; same caller freshness contract. */
  def keysInRange(spark: SparkSession, ix: Index, lo: Any, hi: Any,
      maxKeys: Int): Option[Seq[Any]] = {
    require(ix.rangeLayout && !composite(ix) && !sharded(ix),
      "keysInRange serves single-column rangeLayout indexes")
    val schema = indexSchema(spark, ix)
    val rows = ManifestTable
      .lookupRange(spark, ix.indexRoot, schema, keyCol(ix), lo, hi)
      .select(explode(col("keys")).as(ix.baseKey))
      .distinct().limit(maxKeys + 1).collect()
    if (rows.length > maxKeys) None
    else Some(rows.iterator.map(_.get(0)).filter(_ != null).toSeq)
  }

  /** Point query on the indexed column(s): index lookup → keys → base
    * lookup. Two pruned reads on the common (selective) path; the
    * key-list collect is CAPPED at `maxDriverKeys` — a heavily-skewed
    * value whose list exceeds it must not turn the lookup into an
    * unbounded driver collect, so it degrades to a DISTRIBUTED
    * semi-join of the exploded key frame against the base scan instead.
    * That fallback is the right plan at that selectivity anyway:
    * millions of keys hash across ~every bucket, so the "pruned" read
    * would have touched the whole table regardless. For a composite
    * index pass a Seq of component values. */
  def lookupBy(spark: SparkSession, ix: Index, value: Any,
      maxDriverKeys: Int = 100000): DataFrame = {
    val schema = indexSchema(spark, ix)
    // 0 or 1 rows by construction — the bounded probe is the list SIZE,
    // never the list itself.
    val hit = ManifestTable.lookup(spark, ix.indexRoot, schema,
      keyCol(ix), probeKeys(spark, ix, Seq(value)))
    fetchBase(spark, ix, hit, maxDriverKeys)
  }

  /** Range query on a single-column index: `lo <= value <= hi`
    * (inclusive), resolved as a PRUNED index range scan
    * ([[ManifestTable.lookupRange]] — on a `rangeLayout` index only the
    * buckets overlapping [lo, hi] are read) followed by the same
    * capped-collect-or-semi-join base fetch as [[lookupBy]]. A wide
    * range whose key union exceeds `maxDriverKeys` degrades to the
    * distributed semi-join — the right plan at that selectivity. */
  def lookupRange(spark: SparkSession, ix: Index, lo: Any, hi: Any,
      maxDriverKeys: Int = 100000): DataFrame = {
    require(!composite(ix), "range lookup is single-value-column only")
    require(!sharded(ix),
      "range lookup needs the raw-value key order; a sharded index " +
        "keys on the (value, shard) encoding")
    val schema = indexSchema(spark, ix)
    val hit = ManifestTable.lookupRange(spark, ix.indexRoot, schema,
      keyCol(ix), lo, hi)
    fetchBase(spark, ix, hit, maxDriverKeys)
  }

  /** Dim-driven pruned JOIN on the INDEXED column(s) —
    * [[ManifestTable.probeJoin]]'s non-key sibling. A join of the base
    * table against a selective dim ON the indexed value column(s)
    * normally scans every base file; here ONE bounded job collects the
    * dim's distinct probe tuples (`limit(maxDriverKeys + 1)`), the
    * index resolves them to base keys through the usual two pruned
    * reads ([[lookupBy]]'s shape, incl. its over-cap semi-join
    * degrade), and the dim joins back onto only THOSE base rows. Over
    * the probe cap the plan falls back to the plain join unchanged —
    * correct at any dim size. Sound only for dim-bounded join types
    * (`inner`, `left_semi`); outer joins refuse. Dim columns cast to
    * the indexed columns' types before probing (type-dependent
    * hashing); NULL probe tuples drop (equality-join semantics). Same
    * contract as every index lookup: answers are as fresh as the last
    * [[refresh]]. */
  def probeJoin(
      spark: SparkSession,
      ix: Index,
      dim: DataFrame,
      dimCols: Seq[String],
      joinType: String = "inner",
      maxDriverKeys: Int = 100000): DataFrame = {
    val jt = joinType.toLowerCase.replace("_", "")
    require(jt == "inner" || jt == "leftsemi" || jt == "semi",
      s"probeJoin('$joinType') is unsound: index pruning drops base " +
        "rows no dim value matches, so only dim-bounded join types " +
        "(inner, left_semi) may prune — use a plain join for outer " +
        "semantics")
    require(dimCols.size == ix.valueCols.size,
      s"dim columns ${dimCols.mkString(",")} must match the index's " +
        s"value columns ${ix.valueCols.mkString(",")} in arity")
    val probeCols = ix.valueCols.zip(dimCols).map { case (b, d) =>
      dim(d).cast(ix.baseSchema(b).dataType).as(b) }
    val head = dim.select(probeCols: _*).na.drop("any")
      .distinct().limit(maxDriverKeys + 1).collect()
    val base =
      if (head.length <= maxDriverKeys) {
        val values: Seq[Any] =
          if (composite(ix)) head.toSeq.map(_.toSeq)
          else head.toSeq.map(_.get(0))
        if (values.isEmpty)
          ManifestTable.read(spark, ix.baseRoot, ix.baseSchema).limit(0)
        else {
          val hit = ManifestTable.lookup(spark, ix.indexRoot,
            indexSchema(spark, ix), keyCol(ix),
            probeKeys(spark, ix, values))
          fetchBase(spark, ix, hit, maxDriverKeys)
        }
      } else ManifestTable.read(spark, ix.baseRoot, ix.baseSchema)
    val cond = ix.valueCols.zip(dimCols).map { case (b, d) =>
      base(b) === dim(d).cast(ix.baseSchema(b).dataType) }
      .reduce(_ && _)
    base.join(dim, cond, if (jt == "inner") "inner" else "left_semi")
  }

  /** Index rows → base rows: collects the matched key lists when their
    * total size fits `maxDriverKeys` (two pruned reads), else joins the
    * exploded key frame against the base scan — a heavily-skewed value
    * set must not become an unbounded driver collect, and at that
    * cardinality the keys hash across ~every bucket anyway. */
  private def fetchBase(spark: SparkSession, ix: Index, hit: DataFrame,
      maxDriverKeys: Int): DataFrame = {
    hit.persist()
    try {
      val nKeys = hit.select(size(col("keys")).as("n")).collect()
        .map(_.getInt(0).toLong).sum
      if (nKeys == 0)
        ManifestTable.read(spark, ix.baseRoot, ix.baseSchema).limit(0)
      else if (nKeys <= maxDriverKeys) {
        val keys = hit.select(explode(col("keys")).as("_k")).collect()
          .map(_.get(0)).toSeq
        ManifestTable.lookup(spark, ix.baseRoot, ix.baseSchema,
          ix.baseKey, keys)
      } else {
        val keyFrame = hit.select(explode(col("keys")).as(ix.baseKey))
          .repartition(spark.sessionState.conf.numShufflePartitions)
        ManifestTable.read(spark, ix.baseRoot, ix.baseSchema)
          .join(keyFrame, Seq(ix.baseKey), "left_semi")
      }
    } finally hit.unpersist()
  }
}
