package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.mapping.{ColSpec, Mapping}

/** Import modes (reference: ImportMode flags at importsource.py:15). */
sealed trait ImportMode { def canCreate: Boolean; def canUpdate: Boolean }
case object Create extends ImportMode {
  val canCreate = true; val canUpdate = false
}
case object Update extends ImportMode {
  val canCreate = false; val canUpdate = true
}
case object CreateAndUpdate extends ImportMode {
  val canCreate = true; val canUpdate = true
}

/** Outputs of one upsert pass. All four DataFrames derive from the same
  * single-join plan, exposed as `joined`: persist it (and unpersist when
  * done) when you consume several outputs, so the join — and the target
  * scan under it — evaluates once instead of once per output.
  */
final case class UpsertResult(
    merged: DataFrame,
    history: DataFrame,
    notFound: DataFrame,
    stats: DataFrame,
    joined: DataFrame)

/** Key-matched upsert — the Spark re-expression of the reference's import
  * loop (importtask.py:197-344).
  *
  * Where the reference builds a driver-side `Dict[key, row]` and mutates
  * ORM items row by row, this plans exactly ONE shuffle: a full-outer join
  * of target and (key-deduplicated) source on the normalized key, with every
  * per-column policy (`should_update`, `should_update_only_if_null`,
  * create-vs-update, comparator-based change detection, non-nullable
  * rejection) expressed as projection-level CASE logic. Catalyst broadcasts
  * the small side automatically; at 100 TB both sides shuffle once on the
  * key and everything downstream is narrow.
  *
  * Duplicate keys within a source: the reference creates the item from the
  * FIRST duplicate row, then applies the per-column update policies to each
  * later row in order (importtask.py:262-277) — so a `should_update=false`
  * column keeps the first row's value, `should_update_only_if_null` keeps
  * the first NON-null value, and a default column ends at the last row's
  * value; if that restores the stored value the pending update is
  * cancelled. The same semantics here, in one `_line`-ordered aggregation
  * per key (see `dedupAgg`) followed by change-detection against the
  * target. `max_by`/`min_by` over string and array buffers cannot
  * hash-aggregate, so the dedup plans as a sort aggregate with map-side
  * partials: `Sort → SortAggregate(partial) → Exchange(key) → Sort →
  * SortAggregate(final)`, then the exchange on the key into the target's
  * buckets and a sort-merge join (the `bulk_import` merge's plan). The
  * partials still shrink duplicate keys before the first exchange.
  */
object Upsert {

  private val SrcPrefix = "_src_"

  /** Non-nullable columns derived from the target schema, excluding the
    * key — the reference's automatic inference over the model
    * (importtask.py:383-391: non-nullable, non-primary-key columns
    * become reject checks). Pass the result as `nonNullable` to get the
    * reference's default behavior without listing columns by hand. */
  def nonNullableFromSchema(
      schema: org.apache.spark.sql.types.StructType,
      keyColumn: String = "id"): Seq[String] =
    schema.fields.toSeq
      .filter(f => !f.nullable && f.name != keyColumn)
      .map(_.name)

  /** `rejectWhen`: custom row-rejection predicate (the analogue of
    * overriding validate_updates, importsource.py:109-123) evaluated over
    * the merged row — reference target columns by name and incoming source
    * values as `_src_<name>`. Rejected updates revert, rejected creates
    * drop, same as the non-nullable path. */
  /** `ignoreWhen`: rows matching the predicate are excluded from the
    * import and counted in the stats `ignored` column — the reference's
    * `should_import` returning False (importtask.py:236-238, counted at
    * :303). Checked BEFORE the missing-key check, like the reference. */
  def apply(
      target: DataFrame,
      projectedSource: DataFrame, // model columns + Mapping.LineCol
      mapping: Mapping,
      mode: ImportMode = CreateAndUpdate,
      nonNullable: Seq[String] = Nil,
      rejectWhen: Option[Column] = None,
      ignoreWhen: Option[Column] = None): UpsertResult = {

    val cols: Seq[(String, ColSpec)] = mapping.columns
    val names = cols.map(_._1)
    val specByName = cols.toMap
    // Output schema is the TARGET's: columns the mapping doesn't provide
    // pass through unchanged (and are NULL on created rows), matching the
    // reference where unmapped model fields keep their stored value.
    val outNames = target.schema.fieldNames.toSeq
    val key = mapping.keyColumnName
    val norm = mapping.keyComparator

    // --- source side: drop missing ids, last-duplicate-wins ---------------
    // Defensive: sources built outside graft.sources may lack the _line
    // ordering column; fall back to arrival order.
    val withLineCol =
      if (projectedSource.columns.contains(Mapping.LineCol)) projectedSource
      else projectedSource.withColumn(
        Mapping.LineCol, monotonically_increasing_id())
    val srcKeyed = withLineCol
      .withColumn("_ign",
        ignoreWhen.map(c => coalesce(c, lit(false))).getOrElse(lit(false)))
      .withColumn("_k", norm(col(key)))
    val withId = srcKeyed.filter(!col("_ign") && col("_k").isNotNull)

    // Effective source value per (key, column) under intra-source duplicate
    // semantics (see object doc): the item is created from the first dup
    // row, later rows pass through the column's update policy. With
    // mode=Create a just-created item can't be updated at all, so every
    // column keeps the first row's value.
    def dedupAgg(n: String): Column = {
      val c = col(n)
      val line = col(Mapping.LineCol)
      val spec = specByName(n)
      if (!mode.canUpdate || !spec.opts.shouldUpdate) min_by(c, line)
      else if (spec.opts.shouldUpdateOnlyIfNull)
        min_by(c, when(c.isNotNull, line)) // first non-null (else null)
      else max_by(c, line) // last row wins
    }
    val deduped = withId.groupBy(col("_k"))
      .agg(dedupAgg(names.head).as(SrcPrefix + names.head),
        names.tail.map(n => dedupAgg(n).as(SrcPrefix + n)): _*)

    // --- the one join ------------------------------------------------------
    // Plain equality, not <=>: source keys are non-null by construction
    // (missing ids filtered above), and null-keyed target rows fall out as
    // target-only rows either way. `===` lets Catalyst reuse the dedup
    // aggregate's hash partitioning on _k instead of re-exchanging for a
    // null-safe key.
    val tgtKeyed = target.withColumn("_tk", norm(col(key)))
    val joined = tgtKeyed.join(deduped, col("_tk") === col("_k"), "full_outer")

    val inTgt = col("_tk").isNotNull
    val inSrc = col("_k").isNotNull
    val matched = inTgt && inSrc

    // Per-column updated value on the matched path (policy CASEs).
    def updatedValue(name: String, spec: ColSpec): Column = {
      val srcV = col(SrcPrefix + name)
      val tgtV = col(name)
      if (!mode.canUpdate || !spec.opts.shouldUpdate) tgtV
      else if (spec.opts.shouldUpdateOnlyIfNull)
        when(tgtV.isNull, srcV).otherwise(tgtV)
      else srcV
    }

    // Change flags (comparator-aware) — drive `updated` stats and history.
    // A frozen column (update disabled by mode or policy) can never change:
    // short-circuit to false instead of building `equalTo(tgtV, tgtV)`,
    // which is semantically identical but makes Spark log a trivially-true-
    // predicate WARN per column per run.
    def changed(name: String, spec: ColSpec): Column = {
      if (!mode.canUpdate || !spec.opts.shouldUpdate) lit(false)
      else {
        val newV = updatedValue(name, spec)
        matched && !spec.opts.equalTo(newV, col(name))
      }
    }
    val anyChange = cols.map { case (n, s) => changed(n, s) }
      .reduceOption(_ || _).getOrElse(lit(false))

    // Non-nullable rejection (importtask.py:52-70): check the post-merge
    // value; rejected updates revert to the stored row, rejected creates
    // are dropped. Columns not provided by this mapping keep the stored
    // value (reference get_updated_value_for fallback, importtask.py:136).
    def mergedValueNoReject(name: String): Column = specByName.get(name) match {
      case Some(spec) =>
        when(matched, updatedValue(name, spec))
          .when(inSrc, col(SrcPrefix + name)) // create path
          .otherwise(col(name))
      case None =>
        when(inTgt, col(name)).otherwise(lit(null))
    }
    val rejected = (nonNullable.map(n => mergedValueNoReject(n).isNull) ++
      rejectWhen.map(c => coalesce(c, lit(false))))
      .reduceOption(_ || _).getOrElse(lit(false))

    val flags = joined
      .withColumn("_matched", matched)
      .withColumn("_in_src", inSrc)
      .withColumn("_in_tgt", inTgt)
      .withColumn("_changed", anyChange)
      .withColumn("_rejected", rejected)

    // --- merged output -----------------------------------------------------
    val keepRow =
      col("_in_tgt") || (col("_in_src") && lit(mode.canCreate) && !col("_rejected"))
    val mergedCols = outNames.map { name =>
      specByName.get(name) match {
        case Some(spec) =>
          when(col("_matched"),
            when(col("_rejected"), col(name))
              .otherwise(updatedValue(name, spec)))
            .when(col("_in_src"), col(SrcPrefix + name))
            .otherwise(col(name))
            .as(name)
        case None => col(name)
      }
    }
    val merged = flags.filter(keepRow).select(mergedCols: _*)

    // --- history (importtask.py:313-344): one wide row per updated item
    // with old_/new_ pairs for each keep_history column that changed. ------
    val tracked = cols.filter(_._2.opts.keepHistory)
    val history: DataFrame = {
      if (tracked.isEmpty || !mode.canUpdate)
        flags.sparkSession.emptyDataFrame
      else {
        val anyTrackedChange = tracked
          .map { case (n, s) => changed(n, s) }
          .reduce(_ || _)
        val histCols = col(key).as(key) +: tracked.flatMap { case (n, s) =>
          val c = changed(n, s)
          Seq(
            when(c, col(n)).as("old_" + n),
            when(c, updatedValue(n, s)).as("new_" + n))
        }
        flags
          .filter(col("_matched") && !col("_rejected") && anyTrackedChange)
          .select(histCols: _*)
      }
    }

    // --- on_data_not_found (importtask.py:299-301): target rows whose key
    // never appeared in the source. ----------------------------------------
    val notFound = flags
      .filter(col("_in_tgt") && !col("_in_src"))
      .select(outNames.map(col): _*)

    // --- stats: single agg over the same joined plan ----------------------
    val statsRow = flags.agg(
      sum(when(col("_in_src"), 1L).otherwise(0L)).as("read_keys"),
      sum(when(col("_in_src") && !col("_in_tgt") && lit(mode.canCreate)
        && !col("_rejected"), 1L).otherwise(0L)).as("created"),
      sum(when(col("_matched") && lit(mode.canUpdate) && col("_changed")
        && !col("_rejected"), 1L).otherwise(0L)).as("updated"),
      sum(when(col("_rejected") && col("_in_src"), 1L).otherwise(0L))
        .as("rejected"),
      sum(when(col("_in_src") && !col("_in_tgt") && lit(!mode.canCreate), 1L)
        .otherwise(0L)).as("ignored_not_created"),
      sum(when(col("_matched") && lit(!mode.canUpdate), 1L).otherwise(0L))
        .as("ignored_not_updated"),
      sum(when(col("_in_tgt") && !col("_in_src"), 1L).otherwise(0L))
        .as("not_found"))
    // Pre-join counters (rows that never reach the merge): should_import
    // ignores and missing-key drops, one agg over the keyed source.
    val stats = statsRow.crossJoin(srcKeyed.agg(
      sum(when(!col("_ign") && col("_k").isNull, 1L).otherwise(0L))
        .as("ignored_missing_id"),
      sum(when(col("_ign"), 1L).otherwise(0L)).as("ignored")))

    UpsertResult(merged, history, notFound, stats, flags)
  }
}

/** Multi-source import (reference: ImportTask._read at importtask.py:346):
  * sources apply IN ORDER — source N sees the target as amended by sources
  * < N — so the pipeline folds upserts left to right.
  */
object ImportPipeline {

  final case class SourceDef(
      raw: DataFrame,
      mapping: Mapping,
      mode: ImportMode = CreateAndUpdate,
      shouldImport: Option[Column] = None,
      rejectWhen: Option[Column] = None)

  final case class PipelineResult(
      merged: DataFrame,
      histories: Seq[DataFrame],
      notFound: Seq[DataFrame],
      stats: Seq[DataFrame])

  def run(
      target: DataFrame,
      sources: Seq[SourceDef],
      nonNullable: Seq[String] = Nil,
      preProcess: DataFrame => DataFrame = identity,
      postProcess: DataFrame => DataFrame = identity): PipelineResult = {

    val start = preProcess(target)
    val init = PipelineResult(start, Nil, Nil, Nil)
    val folded = sources.foldLeft(init) { (acc, s) =>
      // should_import is evaluated over the RAW row (reference:
      // importsource.py:98) but applied inside the upsert, so ignored rows
      // are counted in the stats instead of silently pre-filtered.
      val flagged = s.shouldImport match {
        case Some(p) =>
          s.raw.withColumn(Mapping.IgnoreCol, !coalesce(p, lit(false)))
        case None => s.raw
      }
      val projected = s.mapping
        .complete(target.schema)
        .project(flagged)
      val ignore =
        if (projected.columns.contains(Mapping.IgnoreCol))
          Some(col(Mapping.IgnoreCol))
        else None
      val r = Upsert(acc.merged, projected, s.mapping, s.mode, nonNullable,
        s.rejectWhen, ignore)
      PipelineResult(
        r.merged,
        acc.histories :+ r.history,
        acc.notFound :+ r.notFound,
        acc.stats :+ r.stats)
    }
    folded.copy(merged = postProcess(folded.merged))
  }

  /** Commit step with hook points — the analogue of the reference's
    * pre_commit / session.commit() / post_commit (importtask.py:97-111,
    * :369-371). "Commit" in Spark terms is the atomic write of the merged
    * state; hooks run on this driver around it.
    */
  def commit(
      merged: DataFrame,
      path: String,
      preCommit: DataFrame => Unit = _ => (),
      postCommit: DataFrame => Unit = _ => ()): Unit = {
    preCommit(merged)
    merged.write.mode("overwrite").parquet(path)
    postCommit(merged)
  }

  /** Incremental commit against a [[graft.store.ManifestTable]]: each
    * source merges into the table in order (source N sees the state as
    * amended by sources < N, same sequencing as `run`), and each merge
    * rewrites ONLY the data files of the buckets that source touches —
    * the batch analogue of the streaming incremental import, sharing the
    * reference's closest shape to a per-row `session.commit()` without
    * rewriting the whole target. Hooks run around the whole sequence;
    * `preCommit`/`postCommit` receive the table state before/after. */
  def commitIncremental(
      spark: org.apache.spark.sql.SparkSession,
      root: String,
      schema: org.apache.spark.sql.types.StructType,
      sources: Seq[SourceDef],
      nonNullable: Seq[String] = Nil,
      numBuckets: Int = 16,
      recordStats: Boolean = false,
      preCommit: DataFrame => Unit = _ => (),
      postCommit: DataFrame => Unit = _ => ()): Unit = {
    import graft.store.ManifestTable
    preCommit(ManifestTable.read(spark, root, schema))
    sources.foreach { s =>
      val flagged = s.shouldImport match {
        case Some(p) =>
          s.raw.withColumn(Mapping.IgnoreCol, !coalesce(p, lit(false)))
        case None => s.raw
      }
      val projected = s.mapping.complete(schema).project(flagged)
      // Idempotency token: currentVersion + 1 strictly increases across
      // merges (each commit bumps the version), so it never collides
      // with the previous merge's token.
      val token =
        ManifestTable.currentVersion(spark, root).map(_ + 1).getOrElse(0L)
      ManifestTable.merge(projected, token, s.mapping, root, schema,
        s.mode, nonNullable, numBuckets, s.rejectWhen, recordStats)
    }
    postCommit(ManifestTable.read(spark, root, schema))
  }
}
